"""Output checks.  Every expected value here comes from outside Spark:
the single-threaded extraction kernel, and the DuckDB twins in
``ferenda_spark.kgoracle`` and ``sparql.compile_sql``."""

from __future__ import annotations

import os

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.dataset as ds
import pyarrow.parquet as pq

from pipeline import CFG, kg_paths

TRIPLE_COLS = ["subject", "predicate", "object", "objtype", "lang",
               "datatype", "source_url", "context"]
DOC_COLS = ["url", "uri", "lang", "title", "text", "status"]
RES_COLS = ["url", "resource_uri", "text"]


def read_table(path: str, columns: list[str]) -> pa.Table:
    """A table the engine wrote, partition columns decoded."""
    return ds.dataset(path, format="parquet",
                      partitioning="hive").to_table(columns=columns)


def kernel_tables(rows: list[dict]) -> dict[str, pa.Table]:
    """documents / triples / resources of a from-scratch single-threaded
    run of ``extract.extract_document`` over ``rows``."""
    from ferenda_spark.extract import extract_document
    from ferenda_spark.pages import COMMONDATA

    docs, trips, res = [], [], []
    for page in rows:
        url = page["url"]
        d = extract_document(url, page["html"], CFG, dict(COMMONDATA))
        docs.append({k: d[k] for k in DOC_COLS})
        trips.extend(dict(t._asdict(), source_url=url, context="kg")
                     for t in d["triples"])
        res.extend({"url": url, "resource_uri": u, "text": t}
                   for u, t in d["resources"])
    return {"documents": _table(docs, DOC_COLS),
            "triples": _table(trips, TRIPLE_COLS),
            "resources": _table(res, RES_COLS)}


def _table(rows, cols) -> pa.Table:
    return pa.table({c: pa.array([r[c] for r in rows], pa.string())
                     for c in cols})


def multiset_diff(a: pa.Table, b: pa.Table) -> int:
    """Rows in one table and not the other, counted with multiplicity."""
    con = duckdb.connect()
    con.register("a", a)
    con.register("b", b.select(a.column_names))
    n = 0
    for x, y in (("a", "b"), ("b", "a")):
        n += con.sql("SELECT count(*) FROM (SELECT * FROM %s EXCEPT ALL "
                     "SELECT * FROM %s)" % (x, y)).fetchone()[0]
    con.close()
    return n


def oracle(sql: str) -> pa.Table:
    con = duckdb.connect()
    try:
        return con.sql(sql).arrow()
    finally:
        con.close()


def relate_oracles(paths: dict[str, str]) -> dict[str, str]:
    from ferenda_spark import kgoracle
    return {"canonical_triples": kgoracle.sql_canonical_triples(paths),
            "entities": kgoracle.sql_entities(paths),
            "deps": kgoracle.sql_deps(paths)}


def check_kg(root: str, expected: dict[str, pa.Table],
             flat: dict[str, str]) -> list[str]:
    """Compare the KG at ``root`` with kernel-built ``expected`` tables
    and with the DuckDB relate twins run over ``flat`` (the kernel's own
    tables, so the twins never read what Spark wrote)."""
    p = kg_paths(root)
    bad = []
    for name, cols in (("triples", TRIPLE_COLS), ("documents", DOC_COLS),
                       ("resources", RES_COLS)):
        n = multiset_diff(expected[name], read_table(p[name], cols))
        if n:
            bad.append("%s: %d rows differ from the kernel" % (name, n))
    for name, sql in relate_oracles(flat).items():
        want = oracle(sql)
        n = multiset_diff(want, read_table(p[name], want.column_names))
        if n:
            bad.append("%s: %d rows differ from kgoracle" % (name, n))
    return bad


def write_flat(tables: dict[str, pa.Table], out: str) -> dict[str, str]:
    os.makedirs(out, exist_ok=True)
    paths = {}
    for name, t in tables.items():
        paths[name] = os.path.join(out, name + ".parquet")
        pq.write_table(t, paths[name])
    return paths


# ------------------------------------------------------------ query twins

def query_twins(flat: dict[str, str]) -> dict[str, str]:
    """DuckDB twin of every query op, as the registry's oracle_sql()
    builds it."""
    import __spark_entry__ as reg
    from ferenda_spark import kgoracle, sparql
    from ferenda_spark.operators.graphops import sql_void_stats

    t = "read_parquet('%s')" % flat["triples"]
    return {
        "sparql.kg_select": sparql.compile_sql(t, reg._KG_SPARQL_QUERY),
        "sparql.rfc_annotations": sparql.compile_sql(
            t, reg._RFC_ANNOTATIONS_RQ % {"uri": reg._DESCRIBE_URI}),
        "graph.ispartof_closure": kgoracle.sql_ispartof_closure(flat),
        "graph.pagerank": kgoracle.sql_pagerank(flat),
        "graph.hits": kgoracle.sql_hits(flat),
        "graph.kcore": kgoracle.sql_kcore(
            flat, k=2, edges_cte=("e AS (SELECT center AS src, "
                                  "context AS dst FROM (%s))"
                                  % kgoracle.sql_walk_pairs(flat))),
        "graph.label_propagation": kgoracle.sql_communities(flat),
        "relate.annotation_graphs": kgoracle.sql_annotations(flat),
        "relate.entities_table": kgoracle.sql_entities(flat),
        "relate.inbound_references": kgoracle.sql_inbound_refs(flat),
        "graph.void_stats": sql_void_stats(t),
    }


def normalize(df: pd.DataFrame) -> pd.DataFrame:
    """Columns by name, values as strings or float64, rows sorted: the
    comparison the parity harness makes."""
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if np.issubdtype(df[c].dtype, np.number):
            df[c] = df[c].astype("float64")
        else:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns)).reset_index(drop=True)


def same_result(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    a, b = normalize(got), normalize(want)
    if list(a.columns) != list(b.columns):
        return "columns %s vs %s" % (list(a.columns), list(b.columns))
    if len(a) != len(b):
        return "%d rows vs %d" % (len(a), len(b))
    if not a.equals(b):
        return "%d rows differ" % int((a != b).any(axis=1).sum())
    return None
