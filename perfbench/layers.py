"""The traced census behind ``--trace 1``.

One Spark session with the event log on runs, in order: the cold build
(which is also the warm-up), the update pass, the query mix, and the
bare kernel on a seeded page sample.  Every layer call is a span with
its own job group, so the event log splits by call.  The traced update
pass is checked as an untraced one is.

All metrics go to ``.perfbench_out/layers-seed<N>.json``; the run
reports the ones ``BENCHMARK.json`` lists under ``per_layer``.
"""

from __future__ import annotations

import json
import os
import random
import statistics
import time

import checks as C
import pipeline as P
from spans import (Tracer, read_event_log, reduce_event_log,
                   union_length, write_spans)

CALL_METRICS = ("jobs", "stages", "tasks", "cpu_s", "shuffle_write_bytes",
                "spill_bytes", "task_skew")
PASS_METRICS = ("jobs", "stages", "tasks", "gc_s", "shuffle_read_bytes",
                "failed_tasks")


def kernel_bench(rows: list[dict], k: int, seed: int) -> dict[str, float]:
    """µs per document of ``extract.extract_document`` on one thread,
    over a seeded sample, overall and per page family."""
    from ferenda_spark.extract import extract_document
    from ferenda_spark.linking import ResourceLookup
    from ferenda_spark.pages import family_of
    lookup = ResourceLookup.from_dict(P.COMMONDATA).lookup
    us: dict[str, list[float]] = {}
    for i in random.Random(seed).sample(range(len(rows)), k):
        t = time.perf_counter_ns()
        extract_document(rows[i]["url"], rows[i]["html"], P.CFG, lookup)
        us.setdefault(family_of(i), []).append(
            (time.perf_counter_ns() - t) / 1e3)
    out = {"extract.us_per_doc":
           statistics.fmean(v for vs in us.values() for v in vs)}
    for fam, vs in sorted(us.items()):
        out["extract.us_per_doc." + fam] = statistics.fmean(vs)
    return out


def _span_stats(tr: Tracer, groups: dict, idx: int) -> dict:
    """Event-log totals of span ``idx`` and every span under it."""
    members = {idx}
    for i, s in enumerate(tr.spans):
        if s["parent"] in members:
            members.add(i)
    gs = [groups[tr.spans[i]["group"]] for i in sorted(members)
          if tr.spans[i]["group"] in groups]
    out = {m: sum(g[m] for g in gs) for m in CALL_METRICS
           if m != "task_skew"}
    out["task_skew"] = max((g["task_skew"] for g in gs), default=1.0)
    out["wall_s"] = tr.spans[idx]["end"] - tr.spans[idx]["start"]
    out["records_written"] = sum(g["records_written"] for g in gs)
    return out


def _pass_stats(tr: Tracer, groups: dict, pass_id: str) -> dict:
    """Spark totals of one pass; planning_s is the pass's wall time not
    covered by any job; span_coverage is the share of it that layer
    calls cover."""
    spans = tr.pass_spans(pass_id)
    top = spans[0]
    gs = [groups[s["group"]] for s in spans if s["group"] in groups]
    out = {m: sum(g[m] for g in gs) for m in PASS_METRICS}
    wall = top["end"] - top["start"]
    jobs = union_length(iv for g in gs for iv in g["job_intervals"])
    out["planning_s"] = wall - jobs
    top_idx = tr.spans.index(top)
    calls = [(s["start"], s["end"]) for s in spans
             if s["parent"] == top_idx]
    out["span_coverage"] = union_length(calls) / wall
    return out


def untraced_update_wall(b) -> float:
    """``wall_s`` of the untraced ``update`` runs already made in this
    checkout (the same seed if there is one), else of an untraced update
    pass run now, in this session."""
    import run
    out = os.path.join(b.root, ".perfbench_out")
    walls = {}
    for name in os.listdir(out) if os.path.isdir(out) else []:
        if name.startswith("update-") and name.endswith("-trace0.json"):
            with open(os.path.join(out, name)) as f:
                res = json.load(f)
            if res["result"]["correct"]:
                walls[res["seed"]] = \
                    res["result"]["metrics"]["wall_s"]["value"]
    if b.seed in walls:
        b.info["trace_overhead_base"] = "untraced run, seed %d" % b.seed
        return walls[b.seed]
    if walls:
        b.info["trace_overhead_base"] = \
            "median of %d untraced runs" % len(walls)
        return statistics.median(walls.values())
    b.info["trace_overhead_base"] = "untraced pass in this run"
    # the event log stays on: this base leaves its cost out
    ref = b.update_pass(Tracer(b.spark, traced=False), 0,
                        b.path("pages_post"), b.path("kg_pristine"),
                        b.path("kg_ref"))
    return ref["wall_s"]


def census(b) -> tuple[dict, int, int]:
    import run
    spark_t0 = time.perf_counter()
    b.start_spark()
    rows = P.corpus(run.N_DOCS)
    pages = b.write_pages(rows, "pages")
    post = P.post_update(rows, P.update_batch(b.spark, run.N_DOCS, b.seed),
                         b.seed)
    pages_post = b.write_pages(post, "pages_post")
    setup_s = time.perf_counter() - spark_t0
    spark = b.spark
    tr = Tracer(spark, traced=True)
    pristine, kg = b.path("kg_pristine"), b.path("kg")

    t = time.perf_counter()
    with tr.run_pass("build"):
        built = P.absorb(spark, tr, pages, pristine, "r0")
    build_wall = time.perf_counter() - t
    P.copy_kg(pristine, kg)
    os.sync()
    t = time.perf_counter()
    with tr.run_pass("update"):
        upd = P.absorb(spark, tr, pages_post, kg, "r1")
    update_wall = time.perf_counter() - t
    order = list(P.QUERY_OPS)
    random.Random(b.seed).shuffle(order)
    raised = []
    P.run_query(spark, Tracer(spark, traced=False), run.WARM_UP_OP, pristine)
    with tr.run_pass("query"):
        for name in order:
            try:
                P.run_query(spark, tr, name, pristine)
            except Exception as exc:  # counted, reported, run fails
                raised.append("%s: %r" % (name, exc))
    full = kernel_bench(rows, run.KERNEL_SAMPLE, b.seed)

    # the query results are checked by every untraced query run; here
    # the traced pipeline's output is
    expected = C.kernel_tables(post)
    flat_post = C.write_flat(expected, b.path("flat_post"))
    bad = raised + C.check_kg(kg, expected, flat_post) + \
        b.check_rerun(pages_post, kg)
    if bad:
        raise run.CheckFailed("; ".join(bad))

    untraced = untraced_update_wall(b)
    b.close()  # flushes the event log
    groups = reduce_event_log(read_event_log(b.event_dir))
    by_name = {}
    for i, s in enumerate(tr.spans):
        if s["name"] != "pass":
            by_name.setdefault((s["pass"], s["name"]), i)
    for pass_id, calls in (("build", run.BUILD_CALLS),
                           ("update", run.UPDATE_CALLS)):
        for c in calls:
            st = _span_stats(tr, groups, by_name[(pass_id, c)])
            for m in ("wall_s",) + CALL_METRICS:
                full["%s.%s.%s" % (pass_id, c, m)] = st[m]
    for name in order:
        st = _span_stats(tr, groups, by_name[("query", name)])
        full[name + ".wall_s"] = st["wall_s"]
        full[name + ".jobs"] = st["jobs"]
    for s in tr.pass_spans("query"):
        if s["name"] == "lower":
            full[tr.spans[s["parent"]]["name"] + ".lower_ms"] = \
                1e3 * (s["end"] - s["start"])
    spark_failed = 0
    for pass_id in ("build", "update", "query"):
        st = _pass_stats(tr, groups, pass_id)
        spark_failed += st["failed_tasks"]
        for m, v in st.items():
            key = ("%s.span_coverage" % pass_id if m == "span_coverage"
                   else "spark.%s.%s" % (pass_id, m))
            full[key] = v

    extract_wall = full["build.operators.extract.wall_s"]
    stage_rate = run.N_DOCS / (extract_wall * b.cores)
    full["operators.extract.efficiency"] = \
        stage_rate / (1e6 / full["extract.us_per_doc"])
    full["lineage.needed.selected_ratio"] = upd["processed"] / len(post)
    merge = _span_stats(tr, groups, by_name[("update", "lake.merge")])
    full["lake.merge.rows_rewritten"] = merge["records_written"]
    full["lake.merge.write_amplification"] = \
        merge["records_written"] / max(upd["batch_triples"], 1)
    full["lake.merge.buckets_rewritten"] = upd["buckets"]
    full["build.docs_per_s"] = built["processed"] / build_wall
    full["update.docs_per_s"] = upd["processed"] / update_wall
    full["trace_overhead"] = update_wall / untraced - 1
    full["setup_s"] = setup_s

    out = os.path.join(b.root, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    write_spans(tr, os.path.join(out, "spans-seed%d.jsonl" % b.seed))
    with open(os.path.join(out, "layers-seed%d.json" % b.seed), "w") as f:
        json.dump(full, f, indent=1, sort_keys=True)

    with open(os.path.join(b.root, "BENCHMARK.json")) as f:
        wanted = json.load(f)["per_layer"]
    metrics = {m["name"]: {"value": full[m["name"]], "unit": m["unit"]}
               for m in wanted}
    attempted = built["processed"] + upd["processed"] + len(order)
    failed = built["failed"] + upd["failed"] + len(raised) + spark_failed
    b.info.update(coverage={p: full[p + ".span_coverage"]
                            for p in ("build", "update", "query")},
                  failed_docs="%d/%d" % (built["failed"] + upd["failed"],
                                         built["processed"] +
                                         upd["processed"]),
                  failed_queries="%d/%d" % (len(raised), len(order)),
                  failed_tasks="%d/%d" % (
                      spark_failed, sum(full["spark.%s.tasks" % p]
                                        for p in ("build", "update",
                                                  "query"))))
    return metrics, attempted, failed
