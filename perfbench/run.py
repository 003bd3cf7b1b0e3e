"""KG benchmark: absorb an update batch, or serve the query mix.

Run from the root of a checkout:

    python3 perfbench/run.py --workload update|query --seed N \\
        --seconds S --trace 0|1

The last line of stdout is one JSON object with the keys ``correct``,
``attempted``, ``failed`` and ``metrics``; lines before it that start
with ``#`` give host facts, sample counts and the failure breakdown.
``--trace 0`` reports the end-to-end metrics of the named workload.
``--trace 1`` runs the traced census instead (the build, update and
query passes, each layer call in its own span and Spark job group, the
Spark event log on) and reports the per-layer metrics.  ``spec.json``
beside this file says what every metric means and which end-to-end
metric each layer metric should move.

Everything the run writes stays inside the checkout:
``.perfbench_work/`` (deleted at exit), ``.perfbench_cache/`` (the
built KG both workloads start from, made once per checkout and code
version) and ``.perfbench_out/`` (results, and the spans of traced
runs).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
N_DOCS = 2000          # pages in the corpus; the update batch is 2.5% of it
KERNEL_SAMPLE = 2000   # pages timed through the bare kernel (traced run)
WARM_UP_OP = "relate.inbound_references"  # the query mix's cheapest op
WORKLOADS = ("update", "query")
BUILD_CALLS = ("lineage.needed", "operators.extract", "lake.write",
               "lake.tables", "relate.canonicalize", "relate.entities",
               "relate.deps", "lineage.entries")
UPDATE_CALLS = tuple("lake.merge" if c == "lake.write" else c
                     for c in BUILD_CALLS)


class CheckFailed(Exception):
    pass


def nproc() -> int:
    return len(os.sched_getaffinity(0))


def _fingerprint(root: str) -> str:
    """Hash of the engine, the registry and the benchmark sources: a
    change to any of them rebuilds the cached KG."""
    h = hashlib.sha256(str(N_DOCS).encode())
    dirs = [os.path.join(root, "ferenda_spark"), HERE]
    files = [os.path.join(root, "__spark_entry__.py")]
    for d in dirs:
        for base, subdirs, names in os.walk(d):
            subdirs[:] = sorted(s for s in subdirs if s != "__pycache__")
            files += [os.path.join(base, n) for n in sorted(names)
                      if not n.endswith(".pyc")]
    for f in files:
        with open(f, "rb") as fh:
            h.update(f.encode() + fh.read())
    return h.hexdigest()[:12]


class Bench:
    def __init__(self, root: str, seed: int, seconds: float, traced: bool):
        self.root, self.seed, self.seconds = root, seed, seconds
        self.traced = traced
        self.cores = nproc()
        self.work = os.path.join(root, ".perfbench_work", str(os.getpid()))
        self.spark = None
        self.info: dict = {}

    # ----------------------------------------------------------- set-up

    def start_spark(self) -> None:
        from ferenda_spark.session import get_spark
        # A run lives about a minute on 4 cores.  C1-only JIT: C2 compiler
        # threads compete with the task threads for much of it (cold
        # 4,000-page build 22 s against 31-36 s, query pass 44 s against
        # 55 s).  C1 alone gets a 48 MB code cache, which fills about
        # 100 s into a session and switches the JIT off from then on; the
        # cache is given the tiered default instead.  Serial GC: G1's
        # heap sizing swung peak memory by 10-20% from run to run.  A
        # fixed heap (-Xms = -Xmx): with the default small initial heap,
        # an update pass made about 75 young and 1-2 full collections,
        # against under 20 young ones.
        extra = {"spark.driver.extraJavaOptions":
                 "-Djava.io.tmpdir=%s -XX:TieredStopAtLevel=1 "
                 "-XX:ReservedCodeCacheSize=240m -XX:+UseSerialGC -Xms%s"
                 % (self.path("tmp"), os.environ["SPARK_DRIVER_MEMORY"])}
        if self.traced:
            os.makedirs(self.event_dir)
            extra.update({"spark.eventLog.enabled": "true",
                          "spark.eventLog.dir": "file://" + self.event_dir,
                          "spark.eventLog.compress": "false",
                          "spark.eventLog.rolling.enabled": "false"})
        self.spark = get_spark("perfbench", master="local[%d]" % self.cores,
                               shuffle_partitions=2 * self.cores,
                               extra_conf=extra)
        self.spark.sparkContext.setLogLevel("ERROR")

    @property
    def event_dir(self) -> str:
        return os.path.join(self.work, "eventlog")

    def path(self, name: str) -> str:
        return os.path.join(self.work, name)

    def write_pages(self, rows, name: str) -> str:
        import pipeline as P
        P.make_pages(rows, self.path(name), self.seed, 2 * self.cores)
        return self.path(name)

    def close(self) -> None:
        """Stop Spark and wait until the JVM and every Python worker it
        started have exited."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        from spans import descendants, wait_gone
        started = descendants(os.getpid())
        self.spark.stop()
        self.spark = None
        gateway = SparkContext._gateway
        if gateway is not None:
            gateway.shutdown()
            gateway.proc.stdin.close()  # the JVM exits on stdin EOF
            gateway.proc.wait(timeout=60)
            SparkContext._gateway = SparkContext._jvm = None
        wait_gone(started)

    # ------------------------------------------------------------ passes

    def timed(self, one_pass) -> list[dict]:
        """Run passes until the next one would end after ``seconds``;
        at least one."""
        runs, t0 = [], time.perf_counter()
        while True:
            runs.append(one_pass(len(runs)))
            if time.perf_counter() - t0 + runs[-1]["wall_s"] > self.seconds:
                return runs

    def update_pass(self, tr, k: int, pages: str, pristine: str,
                    kg: str) -> dict:
        import pipeline as P
        from spans import TreeSampler
        P.copy_kg(pristine, kg)
        os.sync()  # the copy's writeback would otherwise land in the pass
        pass_id = "update-%d" % k
        with TreeSampler() as ts:
            t = time.perf_counter()
            with tr.run_pass(pass_id):
                counts = P.absorb(self.spark, tr, pages, kg, "r%d" % (k + 1))
            wall = time.perf_counter() - t
        calls = {s["name"]: s["end"] - s["start"]
                 for s in tr.pass_spans(pass_id) if s["name"] in UPDATE_CALLS}
        return dict(counts, wall_s=wall, cpu_s=ts.cpu_s, peak_mb=ts.peak_mb,
                    calls=calls, tasks=tr.failed_tasks(pass_id))

    def query_pass(self, tr, k: int, kg: str, order: list[str]) -> dict:
        import pipeline as P
        from spans import TreeSampler
        pass_id = "query-%d" % k
        lat, rows, raised = {}, {}, []
        with TreeSampler() as ts:
            t = time.perf_counter()
            with tr.run_pass(pass_id):
                for name in order:
                    t1 = time.perf_counter()
                    try:
                        rows[name] = P.run_query(self.spark, tr, name, kg)
                    except Exception as exc:  # counted, reported, run fails
                        raised.append("%s: %r" % (name, exc))
                    lat[name] = time.perf_counter() - t1
            wall = time.perf_counter() - t
        return {"wall_s": wall, "cpu_s": ts.cpu_s, "peak_mb": ts.peak_mb,
                "lat": lat, "rows": rows, "raised": raised,
                "tasks": tr.failed_tasks(pass_id)}

    # ---------------------------------------------------------- workloads

    def run_update(self) -> tuple[dict, int, int]:
        """Set-up builds the KG (the untimed warm-up of every stage call);
        each timed pass restores that pristine pre-state, then absorbs
        the seeded batch: 2% edited pages and 0.5% new ones."""
        import checks as C
        import pipeline as P
        from spans import Tracer

        t0 = time.perf_counter()
        self.start_spark()
        rows = P.corpus(N_DOCS)
        pages = self.write_pages(rows, "pages")
        batch = P.update_batch(self.spark, N_DOCS, self.seed)
        post = P.post_update(rows, batch, self.seed)
        pages_post = self.write_pages(post, "pages_post")
        tr = Tracer(self.spark, traced=False)
        pristine, kg = self.path("kg_pristine"), self.path("kg")
        with tr.run_pass("prebuild"):
            P.absorb(self.spark, tr, pages, pristine, "r0")
        setup_s = time.perf_counter() - t0

        runs = self.timed(lambda k: self.update_pass(
            tr, k, pages_post, pristine, kg))

        expected = C.kernel_tables(post)
        flat = C.write_flat(expected, self.path("flat_post"))
        bad = C.check_kg(kg, expected, flat) + \
            self.check_rerun(pages_post, kg)
        if bad:
            raise CheckFailed("; ".join(bad))

        docs = sum(r["processed"] for r in runs)
        docs_failed = sum(r["failed"] for r in runs)
        tasks_failed = sum(r["tasks"][0] for r in runs)
        wall = statistics.median([r["wall_s"] for r in runs])
        self.info.update(
            passes=len(runs), docs_per_pass=runs[0]["processed"],
            buckets=runs[0]["buckets"],
            docs_per_s=runs[0]["processed"] / wall,
            latency=runs[-1]["calls"],
            failed_docs="%d/%d" % (docs_failed, docs),
            failed_tasks="%d/%d" % (tasks_failed,
                                    sum(r["tasks"][1] for r in runs)))
        metrics = self.e2e(setup_s, runs,
                           [c for r in runs for c in r["calls"].values()])
        return metrics, docs, docs_failed + tasks_failed

    def check_rerun(self, pages_post: str, kg: str) -> list[str]:
        """Absorbing the batch a second time changes nothing: ``needed``
        selects no page, so no stage has input."""
        import pipeline as P

        from ferenda_spark.operators.lineage import needed
        again = needed(self.spark.read.parquet(pages_post),
                       self.spark.read.parquet(P.kg_paths(kg)["entries"])
                       ).count()
        return ["needed selects %d pages after the batch" % again] \
            if again else []

    def base_kg(self) -> str:
        """The KG of the unedited corpus, and the DuckDB twin result of
        every query op, built once per checkout and code version under
        ``.perfbench_cache``, by a process of its own: a session that
        built the KG is warmer, and holds more memory, than the one every
        other run times its pass in."""
        done = self.base_kg_path()
        if not os.path.exists(os.path.join(done, "READY")):
            built = subprocess.run(
                [sys.executable, os.path.abspath(__file__), "--workload",
                 "query", "--seed", "0", "--seconds", "0", "--build-cache"],
                cwd=self.root)
            if built.returncode:
                raise CheckFailed("building the base KG failed (exit %d)"
                                  % built.returncode)
        return done

    def base_kg_path(self) -> str:
        return os.path.join(self.root, ".perfbench_cache",
                            "kg-n%d-%s" % (N_DOCS, _fingerprint(self.root)))

    def build_base_kg(self) -> None:
        done = self.base_kg_path()
        tmp = "%s.tmp%d" % (done, os.getpid())
        try:
            self.start_spark()
            self.fill_base_kg(tmp)
        except BaseException:
            shutil.rmtree(tmp, ignore_errors=True)
            raise
        parent = os.path.dirname(done)
        for old in os.listdir(parent):  # KGs of other code versions
            if old.startswith("kg-") and ".tmp" not in old:
                shutil.rmtree(os.path.join(parent, old), ignore_errors=True)
        os.rename(tmp, done)

    def fill_base_kg(self, tmp: str) -> None:
        import checks as C
        import pipeline as P
        import pyarrow.parquet as pq
        from spans import Tracer

        rows = P.corpus(N_DOCS)
        pages = os.path.join(tmp, "pages")
        P.make_pages(rows, pages, 0, 2 * self.cores)
        tr = Tracer(self.spark, traced=False)
        with tr.run_pass("prebuild"):
            P.absorb(self.spark, tr, pages, os.path.join(tmp, "kg"), "r0")
        expected = C.kernel_tables(rows)
        flat = C.write_flat(expected, os.path.join(tmp, "flat"))
        bad = C.check_kg(os.path.join(tmp, "kg"), expected, flat)
        if bad:
            raise CheckFailed("; ".join(bad))
        os.makedirs(os.path.join(tmp, "twins"))
        for name, sql in C.query_twins(flat).items():
            pq.write_table(C.oracle(sql),
                           os.path.join(tmp, "twins", name + ".parquet"))
        open(os.path.join(tmp, "READY"), "w").close()

    def run_query(self) -> tuple[dict, int, int]:
        """One client, closed loop, no think time: every op of the mix in
        a seeded order, each built and fetched to the driver."""
        import checks as C
        import pipeline as P
        import pyarrow.parquet as pq
        from spans import Tracer

        t0 = time.perf_counter()
        cache = self.base_kg()
        self.start_spark()
        kg = os.path.join(cache, "kg")
        setup_s = time.perf_counter() - t0

        order = list(P.QUERY_OPS)
        random.Random(self.seed).shuffle(order)
        tr = Tracer(self.spark, traced=False)
        # the session's first query pays 4-7 s of one-off JVM and Spark
        # start-up whichever op it is; pay it untimed, on the same op
        # every run
        with tr.run_pass("warm-up"):
            P.run_query(self.spark, tr, WARM_UP_OP, kg)
        runs = self.timed(lambda k: self.query_pass(tr, k, kg, order))

        bad = [e for r in runs for e in r["raised"]]
        for name in order:
            want = pq.read_table(os.path.join(
                cache, "twins", name + ".parquet")).to_pandas()
            counts = {len(r["rows"][name]) for r in runs
                      if name in r["rows"]}
            if counts != {len(want)}:
                bad.append("%s: row counts %s, twin %d"
                           % (name, sorted(counts), len(want)))
            elif (err := C.same_result(runs[-1]["rows"][name], want)):
                bad.append("%s: %s" % (name, err))
        if bad:
            raise CheckFailed("; ".join(bad))

        lat = [v for r in runs for v in r["lat"].values()]
        raised = sum(len(r["raised"]) for r in runs)
        tasks_failed = sum(r["tasks"][0] for r in runs)
        self.info.update(
            passes=len(runs), latency=runs[-1]["lat"],
            failed_queries="%d/%d" % (raised, len(lat)),
            failed_tasks="%d/%d" % (tasks_failed,
                                    sum(r["tasks"][1] for r in runs)))
        return self.e2e(setup_s, runs, lat), len(lat), raised + tasks_failed

    def e2e(self, setup_s: float, runs: list[dict], ops: list[float]):
        """The end-to-end metrics: medians over the timed passes."""
        def med(key):
            return statistics.median(r[key] for r in runs)
        self.info.update(ops=len(ops), op_p50_s=statistics.median(ops))
        return {
            "setup_s": {"value": setup_s, "unit": "s"},
            "wall_s": {"value": med("wall_s"), "unit": "s"},
            "op_geomean_s": {"value": statistics.geometric_mean(ops),
                             "unit": "s"},
            "cpu_s": {"value": med("cpu_s"), "unit": "s"},
            "peak_pss_mb": {"value": med("peak_mb"), "unit": "MB"},
        }

    # ------------------------------------------------------- traced run

    def run_traced(self) -> tuple[dict, int, int]:
        import layers
        return layers.census(self)


def host_facts() -> dict:
    import pandas
    import pyarrow
    import pyspark
    return {"nproc": nproc(), "loadavg_1m_start": os.getloadavg()[0],
            "spark": pyspark.__version__, "pyarrow": pyarrow.__version__,
            "pandas": pandas.__version__}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--build-cache", action="store_true",
                    help=argparse.SUPPRESS)  # base_kg's own process
    args = ap.parse_args(argv)

    root = os.getcwd()
    if not (os.path.isdir(os.path.join(root, "ferenda_spark")) and
            os.path.isfile(os.path.join(root, "__spark_entry__.py"))):
        print("perfbench: %s is not the root of a checkout of the engine"
              % root, file=sys.stderr)
        return 2
    sys.path[:0] = [HERE, root]
    bench = Bench(root, args.seed, args.seconds, bool(args.trace))
    os.makedirs(os.path.join(bench.work, "tmp"))
    # get_spark's driver heap is 8g unless this is set; 2g holds the
    # 2,000-page KG with room to spare on a host shared with others
    os.environ.setdefault("SPARK_DRIVER_MEMORY", "2g")
    os.environ.update(TMPDIR=bench.path("tmp"),
                      SPARK_LOCAL_DIRS=bench.path("tmp"),
                      PYTHONPATH=os.pathsep.join(
                          p for p in (root, os.environ.get("PYTHONPATH"))
                          if p))
    if args.build_cache:
        try:
            bench.build_base_kg()
        except CheckFailed as exc:
            print("perfbench: base KG: %s" % exc, file=sys.stderr)
            return 1
        finally:
            bench.close()
            shutil.rmtree(bench.work, ignore_errors=True)
        return 0
    facts = host_facts()
    correct, error = True, None
    try:
        if args.trace:
            metrics, attempted, failed = bench.run_traced()
        elif args.workload == "update":
            metrics, attempted, failed = bench.run_update()
        else:
            metrics, attempted, failed = bench.run_query()
    except CheckFailed as exc:
        correct, error = False, str(exc)
        metrics, attempted, failed = {}, 1, 1
    finally:
        bench.close()
        shutil.rmtree(bench.work, ignore_errors=True)
    facts["loadavg_1m_end"] = os.getloadavg()[0]
    info = dict(facts, workload=args.workload, seed=args.seed,
                trace=args.trace, n_docs=N_DOCS, **bench.info)
    if error:
        info["check_failed"] = error
    result = {"correct": correct, "attempted": attempted, "failed": failed,
              "metrics": metrics}
    out = os.path.join(root, ".perfbench_out")
    os.makedirs(out, exist_ok=True)
    with open(os.path.join(out, "%s-seed%d-trace%d.json"
                           % (args.workload, args.seed, args.trace)),
              "w") as f:
        json.dump(dict(info, result=result), f, indent=1)
    print("# " + json.dumps(info))
    print(json.dumps(result))
    return 0 if correct else 1


if __name__ == "__main__":
    sys.exit(main())
