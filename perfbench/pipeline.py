"""The KG engine as the benchmark drives it, from outside.

- :func:`make_pages` writes the seeded pages table with pyarrow; the
  engine only ever sees the parquet files.
- :func:`absorb` is the ``scripts/run_pipeline.py`` stage sequence
  (needed → extract → triples/documents/resources → merge_triples →
  canonicalize → entities → deps → entries), one traced call per layer.
  Into an empty KG it is the cold build; into a built KG it absorbs an
  update batch.
- :data:`QUERY_OPS` is the query mix, each op built from the same
  arguments as its ``__spark_entry__`` registry twin.
"""

from __future__ import annotations

import os
import random
import shutil

import pyarrow as pa
import pyarrow.parquet as pq

from ferenda_spark.pages import COMMONDATA, page_row
from ferenda_spark.uris import RepoConfig

CFG = RepoConfig(alias="doc", url="http://example.org/")
TABLES = ("triples", "documents", "resources", "canonical_triples",
          "entities", "deps", "entries")
PAGES_SCHEMA = pa.schema([("url", pa.string()),
                          ("warc_ts", pa.timestamp("us")),
                          ("html", pa.binary()), ("text", pa.string()),
                          ("lang", pa.string())])


def kg_paths(root: str) -> dict[str, str]:
    return {t: os.path.join(root, t) for t in TABLES}


# ---------------------------------------------------------------- inputs

def edit_body(html: bytes, rev: int) -> bytes:
    """A body edit that changes the page's triples in every family:
    the title text (F1/F2/F7), a new title (title-less F1) or the RFC
    title line (F3)."""
    tag = b" rev %d" % rev
    if b"</title>" in html:
        return html.replace(b"</title>", tag + b"</title>", 1)
    if b"<head></head>" in html:
        return html.replace(b"<head></head>",
                            b"<head><title>Revision%s</title></head>" % tag,
                            1)
    return html.replace(b"A Synthetic Document About",
                        b"A Revised%s Synthetic Document About" % tag, 1)


def corpus(n: int) -> list[dict]:
    return [page_row(i, n) for i in range(n)]


TOUCHED_BUCKETS = 32  # of the lake's 64 url-hash buckets


def url_buckets(spark, urls: list[str]) -> list[int]:
    """The lake bucket of each url, as ``lake.bucket_of`` computes it."""
    from pyspark.sql import functions as F

    from ferenda_spark.lake import bucket_of
    df = spark.createDataFrame(list(enumerate(urls)), "i int, url string")
    rows = df.select("i", bucket_of(F.col("url")).alias("b")).collect()
    return [b for _, b in sorted((r["i"], r["b"]) for r in rows)]


def update_batch(spark, n: int, seed: int, edit_share: float = 0.02,
                 new_share: float = 0.005) -> tuple[list[int], list[int]]:
    """Seeded (edited page indices, new page indices).

    The batch falls in exactly ``TOUCHED_BUCKETS`` buckets, chosen by
    the seed, with at least one edited page in each.  The merge rewrites
    every bucket it touches whole, so a batch drawn uniformly (50 urls
    land in 30-40 buckets) would make the merge's work depend on the
    seed."""
    from ferenda_spark.lake import N_BUCKETS
    from ferenda_spark.pages import doc_url
    rng = random.Random(seed)
    chosen = set(rng.sample(range(N_BUCKETS), TOUCHED_BUCKETS))
    buckets = url_buckets(spark, [doc_url(i, n) for i in range(3 * n)])
    old = {b: [i for i in range(n) if buckets[i] == b] for b in chosen}
    anchors = [rng.choice(old[b]) for b in sorted(chosen)]
    rest = sorted(i for b in chosen for i in old[b] if i not in anchors)
    edited = sorted(anchors + rng.sample(
        rest, int(n * edit_share) - len(anchors)))
    new = sorted(rng.sample([i for i in range(n, 3 * n)
                             if buckets[i] in chosen], int(n * new_share)))
    return edited, new


def post_update(rows: list[dict], batch: tuple[list[int], list[int]],
                seed: int) -> list[dict]:
    """The pages table after ``batch``: edited bodies replaced, new pages
    appended (generated with the corpus size so their citations land
    inside the corpus)."""
    edited, new = batch
    out = list(rows)
    for i in edited:
        out[i] = dict(out[i], html=edit_body(out[i]["html"], seed))
    out.extend(page_row(i, len(rows)) for i in new)
    return out


def make_pages(rows: list[dict], path: str, seed: int, files: int) -> None:
    """Write rows as ``files`` parquet files, in a seeded order."""
    order = list(range(len(rows)))
    random.Random(seed).shuffle(order)
    os.makedirs(path)
    step = -(-len(order) // files)
    for k in range(files):
        part = [rows[i] for i in order[k * step:(k + 1) * step]]
        table = pa.Table.from_pylist(part, schema=PAGES_SCHEMA)
        pq.write_table(table, os.path.join(path, "part-%05d.parquet" % k))


# -------------------------------------------------------------- pipeline

def _replace_by_url(spark, new, path: str) -> None:
    """Per-url replace of a url-keyed table: rows of urls in ``new``
    are dropped, ``new`` is appended.  Materialized before the path it
    read is overwritten."""
    old = spark.read.parquet(path)
    merged = (old.join(new.select("url").distinct(), "url", "left_anti")
              .unionByName(new).localCheckpoint(eager=True))
    merged.write.mode("overwrite").parquet(path)


def absorb(spark, tr, pages_path: str, root: str, run_id: str) -> dict:
    """Run the pipeline once over the pages at ``pages_path`` into the
    KG at ``root``.  Returns the pages processed, those whose status is
    not ok, the triples they produced and the lake buckets they fall in."""
    from pyspark.sql import functions as F

    from ferenda_spark.lake import bucket_of
    from ferenda_spark.operators.extract import (documents_table,
                                                 extract_stage,
                                                 resources_table,
                                                 triples_table)
    from ferenda_spark.operators.lineage import (entries_from_extracted,
                                                 merge_triples, needed)
    from ferenda_spark.operators.relate import (canonicalize_triples,
                                                deps_table, entities_table)

    p = kg_paths(root)
    first = not os.path.exists(p["triples"])
    with tr.call("lineage.needed"):
        pages = spark.read.parquet(pages_path)
        prev = (spark.read.parquet(p["entries"])
                if os.path.exists(p["entries"]) else None)
        todo = needed(pages, prev, "parse").persist()
        n_todo = todo.count()
    with tr.call("operators.extract"):
        extracted = extract_stage(todo, CFG, COMMONDATA).persist()
        extracted.count()
    with tr.call("bench.accounting"):
        # counted before the entries append: writing a path recaches
        # every persisted plan that reads it, and todo reads entries
        counts = (extracted
                  .select((F.col("status") != "ok").cast("int").alias("bad"),
                          F.size("triples").alias("nt"),
                          bucket_of(F.col("url")).alias("b"))
                  .agg(F.sum("bad").alias("failed"),
                       F.sum("nt").alias("triples"),
                       F.countDistinct("b").alias("buckets"))
                  .first())
    triples = triples_table(extracted, context="kg")
    with tr.call("lake.write" if first else "lake.merge"):
        merge_triples(spark, triples, p["triples"])
    with tr.call("lake.tables"):
        docs, res = documents_table(extracted), resources_table(extracted)
        if first:
            docs.write.mode("overwrite").parquet(p["documents"])
            res.write.mode("overwrite").parquet(p["resources"])
        else:
            _replace_by_url(spark, docs, p["documents"])
            _replace_by_url(spark, res, p["resources"])

    with tr.call("lake.read"):
        all_triples = spark.read.parquet(p["triples"])
    with tr.call("relate.canonicalize"):
        canonicalize_triples(all_triples).write.mode("overwrite") \
            .parquet(p["canonical_triples"])
    with tr.call("relate.entities"):
        entities_table(all_triples).write.mode("overwrite") \
            .parquet(p["entities"])
    with tr.call("relate.deps"):
        deps_table(all_triples, spark.read.parquet(p["documents"]), CFG) \
            .write.mode("overwrite").parquet(p["deps"])
    with tr.call("lineage.entries"):
        entries_from_extracted(extracted, todo, "parse", run_id) \
            .write.mode("append").parquet(p["entries"])
    todo.unpersist()
    extracted.unpersist()
    return {"processed": n_todo, "failed": counts["failed"] or 0,
            "batch_triples": counts["triples"] or 0,
            "buckets": counts["buckets"] or 0}


def copy_kg(src: str, dst: str) -> None:
    shutil.rmtree(dst, ignore_errors=True)
    shutil.copytree(src, dst)


# ------------------------------------------------------------ query mix

def _registry():
    import __spark_entry__ as reg
    return reg


def _triples(spark, root):
    return spark.read.parquet(kg_paths(root)["triples"])


def _sparql_kg_select(spark, root, lower=None):
    from ferenda_spark import sparql
    return _timed_lower(lower, sparql.compile_spark, _triples(spark, root),
                        _registry()._KG_SPARQL_QUERY)


def _sparql_rfc_annotations(spark, root, lower=None):
    from ferenda_spark import sparql
    reg = _registry()
    return _timed_lower(lower, sparql.compile_spark, _triples(spark, root),
                        reg._RFC_ANNOTATIONS_RQ % {"uri": reg._DESCRIBE_URI})


def _timed_lower(lower, fn, *args):
    """Call ``fn``; if ``lower`` is a tracer, the call is its own
    ``lower`` span (compile_spark before any action runs)."""
    if lower is None:
        return fn(*args)
    with lower.call("lower"):
        return fn(*args)


def _ispartof_closure(spark, root, lower=None):
    from ferenda_spark.graph.closure import ispartof_closure
    return ispartof_closure(_triples(spark, root))


def _pagerank(spark, root, lower=None):
    from ferenda_spark.operators.graphops import citation_edges, pagerank
    return pagerank(citation_edges(_triples(spark, root)))


def _hits(spark, root, lower=None):
    from ferenda_spark.operators.graphops import citation_edges, hits
    return hits(citation_edges(_triples(spark, root)))


def _kcore(spark, root, lower=None):
    # the registry's kg_kcore: 2-core of the window-2 walk pairs
    from pyspark.sql import functions as F

    from ferenda_spark.operators.graphops import (citation_edges, kcore,
                                                  random_walks, walk_pairs)
    pairs = walk_pairs(random_walks(citation_edges(_triples(spark, root)),
                                    length=6, walks_per_node=2), window=2)
    return kcore(pairs.select(F.col("center").alias("src"),
                              F.col("context").alias("dst")), k=2)


def _label_propagation(spark, root, lower=None):
    from ferenda_spark.operators.graphops import (citation_edges,
                                                  label_propagation)
    return label_propagation(citation_edges(_triples(spark, root)))


def _annotation_graphs(spark, root, lower=None):
    from ferenda_spark.operators.relate import annotation_graphs
    return annotation_graphs(_triples(spark, root),
                             spark.read.parquet(kg_paths(root)["documents"]))


def _entities_table(spark, root, lower=None):
    from ferenda_spark.operators.relate import entities_table
    return entities_table(_triples(spark, root))


def _inbound_references(spark, root, lower=None):
    from ferenda_spark.operators.relate import inbound_references
    return inbound_references(_triples(spark, root))


def _void_stats(spark, root, lower=None):
    from ferenda_spark.operators.graphops import void_stats
    return void_stats(_triples(spark, root))


QUERY_OPS = {
    "sparql.kg_select": _sparql_kg_select,
    "sparql.rfc_annotations": _sparql_rfc_annotations,
    "graph.ispartof_closure": _ispartof_closure,
    "graph.pagerank": _pagerank,
    "graph.hits": _hits,
    "graph.kcore": _kcore,
    "graph.label_propagation": _label_propagation,
    "relate.annotation_graphs": _annotation_graphs,
    "relate.entities_table": _entities_table,
    "relate.inbound_references": _inbound_references,
    "graph.void_stats": _void_stats,
}


def run_query(spark, tr, name: str, root: str):
    """Construct op ``name`` and fetch its rows, as one traced call."""
    with tr.call(name):
        df = QUERY_OPS[name](spark, root, tr if tr.traced else None)
        return df.toPandas()
