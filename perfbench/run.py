"""Benchmark of the code-search engine: cold build, query and update.

    python3 perfbench/run.py --workload {query,update} --seed N \\
        --seconds S --trace {0,1}
    python3 perfbench/run.py --selftest

Run from the root of a checkout.  Every path derives from this file's
location; scratch output goes under ``.perfbench_out/`` at the root
and is removed when the run ends.  The program is driven only through
its public functions, and every result is checked against the
brute-force oracle (``oracle.py``) and the invariant checker
(``checker.py``) of this directory.  The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed``, ``metrics``.
See README.md for the workloads and metrics.
"""

from __future__ import annotations

import time

T_START = time.time()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = os.path.join(ROOT, "gitlab_elasticsearch_indexer_spark")
K = 10
STREAM = 50    # distinct queries the query workload cycles through
# seeded source files per workload: the update store needs five doc
# parts (1,024 documents each) for its push to meet the known fault of
# the delta path (README, "Known fault")
N_FILES = {"query": 1500, "update": 5000, "selftest": 200}
# the update workload's probes: the first query of each class in the
# stream, one search each and search_many batches of the three
PROBE_CLASSES = ("hot", "or", "ident")


def log(*a, sep: str = " ") -> None:
    print(*a, sep=sep, file=sys.stderr, flush=True)


def progress(what: str) -> None:
    log(f"[{time.time() - T_START:7.1f} s] {what}")


def configure(out: str, trace: bool) -> dict[str, str]:
    """Environment and Spark settings fitted to this machine: one local
    executor thread per CPU, a driver heap of a sixth of RAM (1-2 GiB),
    touched at start so that peak RSS does not depend on when the heap
    grew, Python workers importing the checkout under test."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    mem_gb = max(1, min(2, total_kb // (6 * 2**20)))
    tmp = os.path.join(out, "tmp")
    for d in (tmp, os.path.join(out, "local"), os.path.join(out, "events")):
        os.makedirs(d, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_DRIVER_MEM"] = f"{mem_gb}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(out, "local")
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(out, "local"),
        "spark.sql.warehouse.dir": os.path.join(out, "warehouse"),
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData -XX:+AlwaysPreTouch",
    }
    if trace:
        conf["spark.eventLog.enabled"] = "true"
        conf["spark.eventLog.dir"] = "file://" + os.path.join(out, "events")
        conf["spark.eventLog.compress"] = "false"
    return conf


class Run:
    """State of one benchmark run: session, tracer, operation counts."""

    def __init__(self, args, out: str) -> None:
        self.args = args
        self.out = out
        self.trace = bool(args.trace)
        self.attempted = 0
        self.failed = 0
        self.unexpected: list[str] = []
        self.metrics: dict[str, tuple[float, str]] = {}
        self.layers: dict[str, tuple[float, str]] = {}

    # ---------------------------------------------------------------- setup
    def start(self, corpus_seed: int) -> None:
        from spans import Tracer

        import corpus

        conf = configure(self.out, self.trace)
        self.rows = corpus.source_rows(corpus_seed,
                                       N_FILES[self.args.workload])
        self.src = os.path.join(self.out, "source.parquet")
        corpus.write_source(self.rows, self.src)
        t0 = time.time()
        from gitlab_elasticsearch_indexer_spark.session import get_spark

        self.spark = get_spark(app_name=f"perfbench-{self.args.workload}",
                               extra_conf=conf)
        self.layers["session.start_s"] = (time.time() - t0, "s")
        self.tracer = Tracer(self.trace, self.spark.sparkContext)
        if self.trace:
            self._wrap_layers()

    def _wrap_layers(self) -> None:
        """Spans around the module functions build_index and the query
        path call.  Build phases are materialized inside their span so
        the work lands there; the extra count jobs are tracing cost."""
        from gitlab_elasticsearch_indexer_spark.operators import index_build as ib
        from gitlab_elasticsearch_indexer_spark.operators import query as q

        tr = self.tracer

        def materialized(name, fn):
            def spanned(*a, **kw):
                with tr.span(f"index_build.{name}"):
                    res = fn(*a, **kw)
                    df = res[0] if isinstance(res, tuple) else res
                    df.persist().count()
                return res
            return spanned

        for name in ("assign_doc_ids", "doc_stats_from_docs",
                     "postings_from_docs", "term_stats_from_postings"):
            setattr(ib, name, materialized(name.replace("_from_docs", "")
                                           .replace("_from_postings", ""),
                                           getattr(ib, name)))
        analyze = q.QUERY_ANALYZERS["code"]

        def spanned_analyze(text):
            with tr.span("query.analyze"):
                return analyze(text)

        q.QUERY_ANALYZERS["code"] = spanned_analyze
        tr.wrap(q, "_term_meta_local", "query.idf_map")
        tr.wrap(ib.InvertedIndex, "idf_map", "query.idf_map")

    def build(self, save_to: str | None):
        """parquet source -> run_blob_pipeline -> build_index -> save."""
        from pyspark.sql import functions as F

        from gitlab_elasticsearch_indexer_spark.operators import index_build as ib
        from gitlab_elasticsearch_indexer_spark.operators import pipeline as pl

        tr = self.tracer
        src = self.spark.read.parquet(self.src)
        with tr.span("pipeline") as sp:
            docs = pl.run_blob_pipeline(self.spark, src)
            if self.trace:
                docs = docs.persist()
                sp["docs_out"] = docs.count()
        docs = docs.select("id", "content", F.col("rid").alias("repo"),
                           "path", F.col("language").alias("lang"))
        with tr.span("index_build.build_index"):
            idx = ib.build_index(self.spark, docs, analyzer="code")
        if save_to is not None:
            with tr.span("index_build.save"):
                idx.save(save_to)
        return idx

    # ------------------------------------------------------------ accounting
    def op(self, errors: list[str], known_fault: bool = False) -> None:
        """Count one checked operation; a failed check is counted, logged
        to stderr, and the run goes on.  It makes ``correct`` false
        unless ``known_fault`` says it is the named program fault."""
        self.attempted += 1
        if errors:
            self.failed += 1
            log("FAILED" + (" (known fault)" if known_fault else "") + ":",
                *errors[:6], sep="\n  ")
            if not known_fault:
                self.unexpected += errors[:6]

    def oracle(self):
        from oracle import Oracle

        return Oracle.from_rows(self.rows)

    def stop(self) -> None:
        """Stop Spark and wait until its JVM (and with it the Python
        workers) has exited: closing the gateway's stdin ends the JVM.
        Does nothing when Spark was never started or is stopped."""
        spark = self.__dict__.pop("spark", None)
        if spark is None:
            return
        gateway = spark.sparkContext._gateway
        spark.stop()
        gateway.shutdown()
        proc = getattr(gateway, "proc", None)
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# ------------------------------------------------------------------ helpers


def hits_of(df) -> list[tuple[str, float]]:
    return [(r["id"], float(r["score"])) for r in df.collect()]


def batch_hits(rows) -> dict[str, list[tuple[str, float]]]:
    """search_many rows -> query id -> ranked (id, score)."""
    by_q: dict[str, list] = {}
    for row in sorted(rows, key=lambda x: (x["query_id"], x["rank"])):
        by_q.setdefault(row["query_id"], []).append(
            (row["id"], float(row["score"])))
    return by_q


def pct(values: list[float], p: float) -> float:
    import numpy as np

    return float(np.percentile(np.asarray(values), p))


def median(values):
    return statistics.median(values) if values else float("nan")


def index_sizes(lay, store: str) -> dict[str, int]:
    """Bytes of a saved index by table; the sidecars are everything else
    in the store (filters, part meta, manifests, checkpoints)."""
    from checker import dir_bytes

    sizes = {f"{t}_bytes": sum(os.path.getsize(f) for f in getattr(lay, t))
             for t in ("postings", "doc_stats", "term_stats")}
    sizes["sidecar_bytes"] = dir_bytes(store) - sum(sizes.values())
    return sizes


def doc_parts(path: str) -> int:
    """Doc parts a write created: ``doc_part=`` directories of postings."""
    d = os.path.join(path, "postings")
    return sum(n.startswith("doc_part=") for n in os.listdir(d)) \
        if os.path.isdir(d) else 0


def check_probes(oracle, results) -> list[str]:
    from oracle import compare_topk

    errs = []
    for spec, got in results:
        why = compare_topk(got, oracle.scores(spec["q"], spec.get("lang"),
                                              spec.get("repo"),
                                              spec.get("operator", "or")), K)
        if why:
            errs.append(f"query {spec['q']!r} {spec.get('lang')} "
                        f"{spec.get('repo')} {spec.get('operator')}: {why}")
    return errs


class Searches:
    """Runs checked searches and batches on one client, keeping their
    latencies: single ``search`` calls and ``search_many`` batches of
    the unfiltered OR queries among them."""

    def __init__(self, tracer) -> None:
        self.tr = tracer
        self.search_ms: list[float] = []
        self.batch_s = 0.0                # summed wall of the batches
        self.batch_entries = 0
        self.specs: list[dict] = []       # every search sent, for traces

    def round(self, handle, specs: list[dict], record: bool = True,
              batches: int = 1):
        """One ``search`` per spec, then ``batches`` batches; returns
        [(spec, hits)] for the searches and for the batches."""
        from gitlab_elasticsearch_indexer_spark.operators import query as q

        single = []
        for spec in specs:
            with self.tr.span("query.search", cls=spec["cls"]) as sp:
                got = hits_of(q.search(handle, spec["q"], k=K,
                                       lang=spec["lang"], repo=spec["repo"],
                                       mode=spec["mode"],
                                       operator=spec["operator"]))
            single.append((spec, got))
            if record:
                self.search_ms.append(sp["s"] * 1000)
                self.specs.append(spec)
        batch = {str(i): s["q"] for i, s in enumerate(specs)
                 if s["mode"] == "bmw"}
        batched = []
        for _ in range(batches):
            with self.tr.span("query.search_many", entries=len(batch)) as sp:
                rows = q.search_many(handle, batch, k=K, mode="bmw").collect()
            by_q = batch_hits(rows)
            if record:
                self.batch_s += sp["s"]
                self.batch_entries += len(batch)
            batched += [({**specs[int(i)], "operator": "or"}, by_q.get(i, []))
                        for i in batch]
        return single, batched

    def report(self, run: "Run", oracle) -> None:
        run.metrics["query_p50_ms"] = (median(self.search_ms), "ms")
        run.metrics["batch_ms_per_query"] = (
            self.batch_s * 1000 / self.batch_entries, "ms/query")
        log(f"{len(self.search_ms)} searches, {self.batch_entries} "
            "batched queries")
        if not run.trace:
            return
        run.layers["trace.query_p50_ms"] = run.metrics["query_p50_ms"]
        run.layers["trace.query_p95_ms"] = (pct(self.search_ms, 95), "ms")
        run.layers["query.entries_scanned"] = (statistics.mean(
            oracle.entries_scanned(s["q"]) for s in self.specs),
            "entries/query")
        distinct = {t for s in self.specs for t in oracle.terms(s["q"])}
        run.layers["query.stream_sum_df"] = (
            sum(oracle.df(t) for t in distinct), "entries")


def report_write(run: Run, *, seconds: float, docs: int,
                 written: list[str], content_bytes: int) -> None:
    """The workload's timed write: the cold full build (``query``) or
    the push and its compaction (``update``)."""
    from checker import dir_bytes

    run.metrics["write_docs_per_s"] = (docs / seconds, "docs/s")
    if run.trace:
        nbytes = sum(dir_bytes(d) for d in written)
        run.layers.update({
            "trace.write_docs_per_s": run.metrics["write_docs_per_s"],
            "write.s": (seconds, "s"),
            "write.bytes_written": (nbytes, "bytes"),
            "write.parts_written": (sum(doc_parts(d) for d in written),
                                    "count"),
            "write.write_amp": (nbytes / content_bytes, "ratio"),
        })


def report_index(run: Run, lay, store: str, oracle) -> None:
    """Size of the index the cold build stored."""
    from checker import dir_bytes

    run.metrics["index_bytes_per_source_byte"] = (
        dir_bytes(store) / oracle.source_bytes(), "ratio")
    if run.trace:
        for k, v in index_sizes(lay, store).items():
            run.layers[f"index.{k}"] = (v, "bytes")
        for k, v in lay.counts.items():
            run.layers[f"index.{k}"] = (v, "count")


# ---------------------------------------------------------------- workloads


def workload_query(run: Run) -> None:
    """Set-up: one cold full build (source -> pipeline -> build_index ->
    save), timed as the workload's write, then load_index and every
    query of the stream once.  Window: closed loop, one client, rounds
    of single queries, each closed by one search_many batch of its
    unfiltered queries."""
    import checker
    import corpus

    from gitlab_elasticsearch_indexer_spark.operators import index_build as ib

    run.start(run.args.seed)
    tr = run.tracer
    path = os.path.join(run.out, "index")
    t0 = time.time()
    idx = run.build(path)
    build_s = time.time() - t0
    n_docs = idx.n_docs
    idx.unpersist()
    with tr.span("index_build.load"):
        handle = ib.load_index(run.spark, path)
    stream = corpus.query_stream(STREAM)
    per_round = len(corpus.QUERY_CLASSES)
    rounds = [stream[i:i + per_round] for i in range(0, STREAM, per_round)]
    searches = Searches(tr)
    for specs in rounds:  # every query once: caches filled
        searches.round(handle, specs, record=False)
    setup_s = time.time() - T_START
    progress("set-up done")
    results = []
    r = 0
    t_win = time.time()
    while r == 0 or time.time() - t_win < run.args.seconds:
        results.append(searches.round(handle, rounds[r % len(rounds)]))
        r += 1
    oracle = run.oracle()
    lay = checker.flat_layout(path)
    run.op(checker.check(lay, oracle))   # the cold build
    progress("oracle and cold-build check done")
    for single, batch in results:
        for spec, got in single:
            run.op(check_probes(oracle, [(spec, got)]))
        run.op(check_probes(oracle, batch))
    run.metrics["setup_s"] = (setup_s, "s")
    report_write(run, seconds=build_s, docs=n_docs, written=[path],
                 content_bytes=oracle.source_bytes())
    report_index(run, lay, path, oracle)
    searches.report(run, oracle)


def stale_postings(errors: list[str]) -> bool:
    """The known fault: the delta leaves the postings of deleted and
    modified documents in some of the doc parts it rewrites, so
    term_stats keep their counts and compaction carries the stale lists
    on.  The checker's sign of it is a posting for a document not in
    doc_stats."""
    return any(e.startswith("doc_ref:") for e in errors)


def workload_update(run: Run) -> None:
    """Writes beside reads on a versioned store.  Set-up: cold build,
    save_versioned (snapshot 0).  Then one push through
    update_index_delta, probes on the handle it returns, compact_index
    and the probes on the handle it returns.  The store, the push and the
    probes are the same for every seed: the push fails its checks on
    the known fault (README, "Known fault"), and a failure counted as
    known must not depend on the seed."""
    import checker
    import corpus
    from oracle import latest_rows

    from gitlab_elasticsearch_indexer_spark.operators import incremental as inc

    run.start(corpus.STORE_SEED)
    tr = run.tracer
    spark = run.spark
    vp = os.path.join(run.out, "store")
    idx = run.build(None)
    with tr.span("index_build.save"):
        inc.save_versioned(idx, vp, 0)
    idx.unpersist()
    setup_s = time.time() - T_START
    progress("set-up done")
    oracle = run.oracle()
    lay0 = checker.versioned_layout(vp, 0)
    run.op(checker.check(lay0, oracle))   # the cold build
    report_index(run, lay0, vp, oracle)
    progress("oracle and snapshot-0 check done")

    schema = "id string, content string, repo string, path string, lang string"
    ups, dels = corpus.push_batch(latest_rows(run.rows))
    up_df = spark.createDataFrame(
        [(f"{a}_{b}", c, a, b, d) for a, b, _cm, d, c in ups], schema)
    del_df = spark.createDataFrame(
        [(f"{a}_{b}", a) for a, b in dels], "id string, repo string")
    stream = corpus.query_stream(STREAM)
    probes = [next(s for s in stream if s["cls"] == cls)
              for cls in PROBE_CLASSES]
    searches = Searches(tr)
    with tr.span("incremental.delta") as sp_delta:
        handle = inc.update_index_delta(spark, vp, up_df, del_df, 1)
    progress("delta done")
    # two batches a round: a batch on the Spark plan costs as much as a
    # single search, and two samples were too few for a steady figure
    got = searches.round(handle, probes, batches=2)
    with tr.span("incremental.compact") as sp_compact:
        handle = inc.compact_index(spark, vp, 2, min_parts=1)
    progress("compaction done")
    got += searches.round(handle, probes, batches=2)
    # one checked operation: the push, its compaction and their probes
    oracle.remove([f"{a}_{b}" for a, b in dels])
    oracle.upsert(ups)
    errs = (checker.check(checker.versioned_layout(vp, 1), oracle)
            + checker.check(checker.versioned_layout(vp, 2), oracle)
            + check_probes(oracle, [x for part in got for x in part]))
    run.op(errs, known_fault=stale_postings(errs))
    run.metrics["setup_s"] = (setup_s, "s")
    report_write(run, seconds=sp_delta["s"] + sp_compact["s"],
                 docs=len(ups) + len(dels),
                 written=[f"{vp}/v1", f"{vp}/v2"],
                 content_bytes=sum(len(u[4].encode()) for u in ups))
    searches.report(run, oracle)


def layer_metrics(run: Run) -> None:
    """Per-layer figures from the spans (medians over repeats)."""
    from spans import attach_task_metrics

    spans = run.tracer.spans
    attach_task_metrics(spans, os.path.join(run.out, "events"))
    run.tracer.write(os.path.join(run.out, "spans.jsonl"))

    def named(n):
        return [s for s in spans if s["name"] == n]

    for n in ("pipeline", "index_build.save", "query.search_many"):
        run.layers[f"{n}.s"] = (median([s["s"] for s in named(n)]), "s")
    run.layers["pipeline.docs_out"] = (named("pipeline")[0]["docs_out"],
                                       "count")
    for phase in ("assign_doc_ids", "doc_stats", "postings", "term_stats"):
        s0 = named(f"index_build.{phase}")[0]   # the cold build's phase
        run.layers[f"index_build.{phase}.s"] = (s0["s"], "s")
        for k, unit in (("executor_cpu_s", "s"), ("gc_s", "s"),
                        ("shuffle_write_bytes", "bytes"),
                        ("shuffle_records", "count"),
                        ("spill_bytes", "bytes")):
            run.layers[f"index_build.{phase}.{k}"] = (s0.get(k, 0), unit)
    searches = named("query.search")
    calls = len(searches)
    for n in ("query.analyze", "query.idf_map"):
        run.layers[f"{n}.s"] = (sum(s["s"] for s in named(n)) / calls,
                                "s/query")
    run.layers["query.search.s"] = (median([s["s"] for s in searches]), "s")
    for cls in PROBE_CLASSES:
        run.layers[f"query.search.s.{cls}"] = (
            median([s["s"] for s in searches if s["cls"] == cls]), "s")
    run.layers["query.spark_jobs"] = (
        median([s.get("spark_jobs", 0) for s in searches]), "jobs/query")


def selftest(out: str) -> int:
    """Plant one fault per copy of a small saved index and require the
    checker to catch each; the clean copy must pass."""
    import checker
    from oracle import Oracle

    run = Run(argparse.Namespace(seed=1, workload="selftest", trace=0,
                                 seconds=0), out)
    run.start(1)
    saved = os.path.join(out, "saved")
    run.build(saved).unpersist()
    oracle = Oracle.from_rows(run.rows)
    run.stop()
    ok = True
    plants = {"clean": None, "swap": checker.plant_swap,
              "df": checker.plant_df, "drop_doc": checker.plant_drop_doc}
    for name, plant in plants.items():
        path = os.path.join(out, f"copy_{name}")
        shutil.copytree(saved, path)
        what = plant(path) if plant else "-"
        errs = checker.check(checker.flat_layout(path), oracle)
        caught = bool(errs) == (plant is not None)
        ok &= caught
        print(json.dumps({"plant": name, "target": str(what),
                          "caught" if plant else "clean": caught,
                          "errors": errs[:3]}))
    print(json.dumps({"selftest": "pass" if ok else "FAIL"}))
    return 0 if ok else 1


WORKLOADS = {"query": workload_query, "update": workload_update}


def manifest_mismatch(metrics: dict, trace: int) -> str:
    """Every run must print exactly the metrics BENCHMARK.json lists for
    its mode, each in its unit; returns what differs, or ''."""
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return ""
    with open(path) as fh:
        listed = json.load(fh)["per_layer" if trace else "end_to_end"]
    want = {m["name"]: m["unit"] for m in listed}
    got = {k: u for k, (_v, u) in metrics.items()}
    return "" if want == got else str(sorted(set(want.items())
                                             ^ set(got.items())))


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--selftest", action="store_true")
    args = ap.parse_args()
    if not os.path.isdir(PKG):
        log(f"no program to benchmark: {PKG} is missing")
        return 2
    if not args.selftest and args.workload is None:
        ap.error("--workload is required")
    sys.path[:0] = [HERE, ROOT]
    name = "selftest" if args.selftest else args.workload
    out = os.path.join(ROOT, ".perfbench_out", f"{name}-{args.seed}-{os.getpid()}")
    os.makedirs(out, exist_ok=True)
    from spans import PeakRss

    rss = PeakRss().start() if args.trace else None
    run = None
    try:
        if args.selftest:
            return selftest(out)
        run = Run(args, out)
        WORKLOADS[args.workload](run)
        progress("checks done")
        run.stop()
        progress("Spark stopped")
        if args.trace:
            run.layers["peak_rss_mb"] = (rss.stop(), "MB")
            layer_metrics(run)
            metrics = run.layers
        else:
            metrics = run.metrics
        missing = manifest_mismatch(metrics, args.trace)
        if missing:
            log("metrics do not match BENCHMARK.json:", missing)
            return 3
        result = {
            "correct": not run.unexpected,
            "attempted": run.attempted,
            "failed": run.failed,
            "metrics": {k: {"value": v, "unit": u}
                        for k, (v, u) in sorted(metrics.items())},
        }
        print(json.dumps(result))
        return 0
    finally:
        if run is not None:   # a workload that raised left Spark running
            run.stop()
        if rss is not None:
            rss.stop()
        shutil.rmtree(out, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
