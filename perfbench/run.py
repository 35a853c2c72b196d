"""Hermetic benchmark of t2p-spark: extraction jobs and the operator suite.

    python3 perfbench/run.py --workload extract_gen --seed 42 --seconds 6 --trace 0

Run from the repository root. The last line of stdout is one JSON object
``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics, with ``--trace 1`` the per-layer metrics (and one JSON
trace file under ``.perfbench/``). BENCHMARK.json lists both sets and
perfbench/README.md maps each layer metric to the end-to-end metric it
should move.

Every run sets up a Spark session three times (``setup_s`` is the median),
then runs one cold unit of work and as many warm units as fit in
``--seconds`` (at least two). A unit is one full extract job over the
staged corpus, or one pass over the operator queries. Each unit's output is
checked; a raised unit or a mismatch counts as failed. The work of the
units is reported as CPU time of the whole process tree (``summarize``
says why); their wall time is printed beside it.

The run ends every process it started, and waits for each, on every way
out, a SIGTERM included.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
HERE = os.path.join(ROOT, "perfbench")
CACHE = os.path.join(ROOT, ".perfbench")
CORES = 4
N_SETUPS = 3
MIN_WARM = 2
MIN_TRACED = 2

WORKLOADS = {
    "extract_gen": {"kind": "extract", "family": "gen", "n_docs": 1000},
    "operators_sf001": {"kind": "operators"},
}


def log(msg: str) -> None:
    print(msg, flush=True)


def preflight() -> str:
    """The reason the benchmark cannot run from this directory, or ''."""
    for rel in ("t2p_spark/__init__.py", "t2p_spark/checkpoint.py",
                "__spark_entry__.py", "perfbench/expected.json",
                "perfbench/data/sf0.01/lineitem.parquet"):
        if not os.path.exists(os.path.join(ROOT, rel)):
            return f"missing {rel}: run from a full checkout of the repository"
    return ""


class Session:
    """Starts and stops Spark sessions in one driver process."""

    def __init__(self, work: str, ui: bool = False) -> None:
        self.work = work
        self.ui = ui  # the tracer reads the UI's REST API; else it is off
        self.spark = None

    def start(self, master: str):
        from pyspark.sql import SparkSession

        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        self.spark = (
            SparkSession.builder.master(master).appName("perfbench")
            # the whole heap is committed and touched at JVM launch, so the
            # JVM's RSS does not depend on when its GC chose to grow the heap;
            # no perf-data file, which the JVM would put in /tmp regardless
            # of java.io.tmpdir
            .config("spark.driver.memory", "2g")
            .config("spark.driver.extraJavaOptions",
                    f"-Xms2g -XX:+AlwaysPreTouch -XX:-UsePerfData "
                    f"-Djava.io.tmpdir={tmp}")
            .config("spark.local.dir", os.path.join(self.work, "local"))
            .config("spark.sql.warehouse.dir", os.path.join(self.work, "wh"))
            .config("spark.sql.shuffle.partitions", str(CORES * 2))
            .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
            .config("spark.sql.parquet.columnarReaderBatchSize", "256")
            .config("spark.ui.enabled", str(self.ui).lower())
            .config("spark.ui.showConsoleProgress", "false")
            .config("spark.ui.port", "4050")
            .getOrCreate()
        )
        self.spark.sparkContext.setLogLevel("ERROR")
        return self.spark

    def stop(self) -> None:
        from pyspark import SparkContext

        from perfbench.trace import end_python_daemons

        if self.spark is not None:
            self.spark.stop()
            self.spark = None
            proc = getattr(SparkContext._gateway, "proc", None)
            if proc is not None:
                end_python_daemons(proc.pid)

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait for the JVM to exit."""
        from pyspark import SparkContext

        self.stop()
        gateway = SparkContext._gateway
        if gateway is None:
            return
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            try:
                proc.stdin.close()
                proc.wait(timeout=60)
            except Exception:  # noqa: BLE001 — still reap it below
                proc.kill()
                proc.wait(timeout=30)


def setup_once(sess: Session, master: str, corpus: str | None) -> dict:
    """One timed setup: session, staged inputs, views.

    No Python worker pool is warmed here: the extract job starts a pool of
    its own rather than reusing one a setup warmed, and the operator queries
    run no Python UDF, so a warmed pool would only be dead time in setup.
    The extract job's worker start is part of its cold unit.
    """
    from t2p_spark.relational import register_views

    from perfbench.ops import SF_DIR

    t0 = time.perf_counter()
    spark = sess.start(master)
    t1 = time.perf_counter()
    if corpus is not None:
        spark.read.parquet(corpus).schema  # noqa: B018 — lists the buckets
    t2 = time.perf_counter()
    register_views(spark, SF_DIR)
    t3 = time.perf_counter()
    return {"setup_s": t3 - t0, "setup.session_s": t1 - t0,
            "setup.read_s": t2 - t1, "relational.register_views_s": t3 - t2}


def setup(sess: Session, master: str, corpus: str | None) -> list:
    """N_SETUPS timed setups; the session of the last one stays up."""
    runs = []
    for k in range(N_SETUPS):
        if k:
            sess.stop()
        runs.append(setup_once(sess, master, corpus))
    return runs


class Tally:
    """Operations attempted and failed; the first failures' reasons."""

    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.errors: list = []

    def record(self, ok: bool, what: str) -> None:
        self.attempted += 1
        if not ok:
            self.failed += 1
            if len(self.errors) < 20:
                self.errors.append(what)


# --- extraction -----------------------------------------------------------------


def extract_unit(spark, meta: dict, work: str, tag: str, tally: Tally):
    """One full run_extract_job over the staged corpus; returns its seconds
    (None if it raised) and checks the per-bucket metrics."""
    from t2p_spark.checkpoint import run_extract_job

    from perfbench.corpus import check_buckets

    out = os.path.join(work, f"out-{tag}")
    metrics = os.path.join(work, f"metrics-{tag}")
    t0 = time.perf_counter()
    try:
        rows = run_extract_job(spark, meta["corpus"], out, metrics,
                               run_id=tag).collect()
    except Exception as exc:  # noqa: BLE001 — a raised job is a failure
        tally.record(False, f"job {tag} raised {type(exc).__name__}: {exc}")
        return None
    seconds = time.perf_counter() - t0
    got = {r["bucket"]: (r["n_docs"], r["n_ok"], r["n_quarantined"],
                         r["n_spans"], r["span_checksum"]) for r in rows}
    errs = check_buckets(got, meta["buckets"])
    tally.record(not errs, f"job {tag}: " + "; ".join(errs[:3]))
    return seconds


def clean(*paths: str) -> None:
    for p in paths:
        shutil.rmtree(p, ignore_errors=True)


# --- the run --------------------------------------------------------------------


def traced_unit(k: int) -> bool:
    """Warm units run untraced, traced, traced, untraced, ... (ABBA), so a
    drift while the JVM keeps warming biases neither side of the tracing
    overhead."""
    return k % 4 in (1, 2)


def units(run_unit, seconds: float, tracer=None):
    """One cold unit, then warm units until ``seconds`` have passed (at
    least MIN_WARM). With a tracer, warm units alternate between traced and
    untraced so the tracing overhead is measured in the same session."""
    from perfbench.trace import tree_cpu_s

    me = os.getpid()
    cpu: dict = {"cold": None, "warm": []}
    c0 = tree_cpu_s(me)
    cold = run_unit("cold", tracer)
    if cold is not None:
        cpu["cold"] = tree_cpu_s(me) - c0
    warm, untraced = [], []
    t_end = time.perf_counter() + seconds
    k = 0
    while k < (2 * MIN_TRACED if tracer else MIN_WARM) \
            or time.perf_counter() < t_end:
        traced = tracer is not None and traced_unit(k)
        c0 = tree_cpu_s(me)
        s = run_unit(f"w{k}", tracer if traced else None)
        if s is not None:
            (warm if traced or tracer is None else untraced).append(s)
            if not traced:
                cpu["warm"].append(tree_cpu_s(me) - c0)
        k += 1
    return cold, warm, untraced, cpu


class Tracer:
    """Job groups plus REST metric windows around each traced unit."""

    def __init__(self, spark) -> None:
        from perfbench.trace import SparkRest

        self.spark = spark
        self.rest = SparkRest(spark)
        self.records: list = []

    def around(self, tag: str, fn):
        self.spark.sparkContext.setJobGroup(f"perfbench-{tag}", tag)
        since = self.rest.marks()
        try:
            return fn()
        finally:
            self.spark.sparkContext.setJobGroup("perfbench-idle", "idle")
            rec = self.rest.window(since)
            rec["tag"] = tag
            self.records.append(rec)


def engine_metrics(records: list) -> dict:
    """Median per warm unit of the engine metrics every workload has, plus
    the cold unit's job count and task time."""
    from perfbench.trace import median_of

    warm = [r for r in records if r["tag"] != "cold"]
    cold = [r for r in records if r["tag"] == "cold"]
    return {
        "spark.scan_time_s": median_of(warm, "scan_time_s"),
        "spark.shuffle_mb": median_of(warm, "shuffle_bytes") / (1 << 20),
        "spark.task_s": median_of(warm, "task_s"),
        "spark.task_max_over_median": median_of(warm, "task_max_over_median"),
        "spark.jobs": median_of(warm, "jobs"),
        "spark.cold_jobs": median_of(cold, "jobs"),
        "spark.cold_task_s": median_of(cold, "task_s"),
    }


def kernel_metrics(records: list) -> dict:
    """The mapInArrow kernel's Python-side SQL metrics, median per warm job
    (the operator subset runs no Python UDF, so these are extraction-only)."""
    from perfbench.trace import median_of

    warm = [r for r in records if r["tag"] != "cold"]
    return {
        "kernel.python_run_s": median_of(warm, "python_run_s"),
        "kernel.python_start_s": statistics.median(
            r["python_boot_s"] + r["python_init_s"] for r in warm),
        "kernel.arrow_in_mb": median_of(warm, "arrow_in_bytes") / (1 << 20),
        "kernel.arrow_out_mb": median_of(warm, "arrow_out_bytes") / (1 << 20),
        "kernel.task_max_over_median":
            median_of(warm, "task_max_over_median"),
    }


def run_extract(args, wl: dict, meta: dict, sess: Session, work: str,
                tally: Tally, sampler, expected: dict) -> tuple:
    want = expected.get(args.workload)
    if want and args.seed == expected["default_seed"] \
            and want["n_docs"] == wl["n_docs"]:
        for key in ("input", "output"):
            tally.record(meta[key] == want[key],
                         f"{key} digest {meta[key]} != committed {want[key]}")
    n_docs = meta["input"]["n_docs"]

    setups = setup(sess, f"local[{CORES}]", meta["corpus"])
    spark = sess.spark
    tracer = Tracer(spark) if args.trace else None
    splits: dict = {"write_s": [], "job_s": []}

    def run_unit(tag, tr):
        job = lambda: extract_unit(spark, meta, work, tag, tally)  # noqa: E731
        out_dir = os.path.join(work, f"out-{tag}")
        metrics_dir = os.path.join(work, f"metrics-{tag}")
        try:
            if not tr:
                return job()
            with TimedWrites(splits["write_s"]):
                seconds = tr.around(tag, job)
            splits["job_s"].append(seconds)
            if "resume_noop_s" not in splits and tag != "cold":
                resume_noop(spark, meta, out_dir, metrics_dir, splits, tally)
            return seconds
        finally:
            clean(out_dir, metrics_dir)

    with sampler:
        cold, warm, untraced, cpu = units(run_unit, args.seconds, tracer)
    e2e, wall = summarize(setups, cold, statistics.median(warm) if warm
                          else 0.0, cpu, sampler, n_docs)
    extra = {"docs": n_docs, "input": meta["input"], "output": meta["output"],
             "warm_s": warm, "untraced_s": untraced,
             "cold_cpu_s": cpu["cold"], "warm_cpu_s": cpu["warm"],
             "setups": setups, **wall}
    layers = {}
    if args.trace:
        layers = trace_layers(setups, tracer.records, warm, untraced, sampler)
        layers.update(wall)
        layers.update(replay_sample(wl["family"], args.seed))
        extra.update(kernel_metrics(tracer.records))
        # the write call runs the pipelined scan -> kernel -> write stage;
        # the rest of a job is the metrics pass over the written output
        pairs = list(zip(splits["job_s"], splits["write_s"]))[1:]
        extra["checkpoint.job_s"] = statistics.median(j for j, _ in pairs)
        extra["io_tables.write_s"] = statistics.median(w for _, w in pairs)
        extra["checkpoint.metrics_pass_s"] = statistics.median(
            j - w for j, w in pairs)
        extra["io_tables.output_mb"] = splits["output_mb"]
        extra["checkpoint.resume_noop_s"] = splits["resume_noop_s"]
        extra.update(extract_extras(args, spark, sess, meta, tally, tracer,
                                    warm, expected))
    return e2e, layers, extra


def summarize(setups, cold, unit, cpu, sampler, n_items) -> tuple:
    """The end-to-end metrics, and the wall-clock figures of the units.

    The work of a unit is reported in CPU seconds of the whole process tree
    (driver, JVM, Python workers), not in wall time: on a shared host a
    run's wall time moves with what its neighbours do (a factor of two
    between runs minutes apart), while the CPU time it spends moves far
    less (it still rises when shared caches and cores are contended).
    Wall throughput and the cold unit's wall time are still reported, as
    per-layer metrics of the traced run and on the untraced run's output.
    """
    e2e = {
        "setup_s": statistics.median(s["setup_s"] for s in setups),
        # the cheapest warm unit: the first one still pays JIT compilation
        # (10-30% more CPU), which a minimum leaves out without the cost
        # of one more unit
        "cpu_ms_per_item": (1000.0 * min(cpu["warm"]) / n_items
                            if cpu["warm"] else 0.0),
        "cold_cpu_s": cpu["cold"] or 0.0,
        "peak_rss_mb": sampler.peak["total"],
    }
    wall = {"wall.throughput": n_items / unit if unit else 0.0,
            "wall.cold_s": cold or 0.0}
    return e2e, wall


def trace_layers(setups, records, warm, untraced, sampler) -> dict:
    """The per-layer metrics every workload reports, from the setups, the
    per-unit REST records and the RSS sampler."""
    layers = {k: statistics.median(s[k] for s in setups)
              for k in ("setup.session_s", "setup.read_s",
                        "relational.register_views_s")}
    layers.update(engine_metrics(records))
    for kind in ("driver", "jvm", "workers"):
        layers[f"rss.{kind}_mb"] = sampler.peak[kind]
    if warm and untraced:
        layers["trace.overhead_pct"] = 100.0 * (
            statistics.median(warm) / statistics.median(untraced) - 1.0)
    else:
        layers["trace.overhead_pct"] = 0.0
    return layers


def replay_sample(family: str, seed: int) -> dict:
    from perfbench.corpus import generate
    from perfbench.replay import replay

    docs = [generate(family, seed, i) for i in range(200)]
    return replay(docs)


class TimedWrites:
    """Times every ``write_extracted`` call that ``run_extract_job`` makes
    while active, by wrapping the name it calls through."""

    def __init__(self, sink: list) -> None:
        self.sink = sink

    def __enter__(self):
        from t2p_spark import checkpoint

        self.real = real = checkpoint.write_extracted

        def timed(*a, **kw):
            t0 = time.perf_counter()
            try:
                return real(*a, **kw)
            finally:
                self.sink.append(time.perf_counter() - t0)

        checkpoint.write_extracted = timed
        return self

    def __exit__(self, *exc) -> None:
        from t2p_spark import checkpoint

        checkpoint.write_extracted = self.real


def resume_noop(spark, meta, out_dir, metrics_dir, splits, tally) -> None:
    """A ``resume=True`` rerun over a complete output must redo nothing."""
    from t2p_spark.checkpoint import run_extract_job

    splits["output_mb"] = _du_mb(out_dir)
    t0 = time.perf_counter()
    resumed = run_extract_job(spark, meta["corpus"], out_dir, metrics_dir,
                              "resume", resume=True)
    splits["resume_noop_s"] = time.perf_counter() - t0
    tally.record(resumed.count() == 0, "resume after a complete run redid work")


def extract_extras(args, spark, sess, meta, tally, tracer, warm,
                   expected) -> dict:
    """Layer splits that need extra actions on the extraction workload:
    scan + payload assembly alone, a render pass, and a serial local[1]
    job for scaling."""
    import pyspark.sql.functions as F
    from t2p_spark import pipeline
    from t2p_spark.render_xml import render_pagexml_df

    from perfbench.corpus import render_digest, render_oracle

    out = {}
    docs = spark.read.parquet(meta["corpus"]).drop("bucket")
    since = tracer.rest.marks()
    t0 = time.perf_counter()
    payload = (pipeline.assemble_payload(docs)
               .agg(F.sum(F.length("json_text"))).collect()[0][0])
    out["pipeline.scan_assemble_s"] = time.perf_counter() - t0
    out["pipeline.scan_time_s"] = tracer.rest.window(since)["scan_time_s"]
    out["pipeline.payload_mb"] = payload / (1 << 20)

    want = render_oracle(CACHE, meta["family"], meta["seed"], meta["n_docs"],
                         workers=CORES)
    since = tracer.rest.marks()
    t0 = time.perf_counter()
    rendered = render_pagexml_df(docs).toArrow()
    out["render_xml.job_s"] = time.perf_counter() - t0
    out["render_xml.python_run_s"] = tracer.rest.window(since)["python_run_s"]
    cols = [rendered.column(c).to_pylist()
            for c in ("status", "n_bytes", "canon_md5")]
    got = render_digest(list(zip(*cols)))
    tally.record(got == want, f"render digest {got} != oracle {want}")
    committed = expected.get(args.workload, {}).get("render")
    if args.seed == expected["default_seed"] and committed:
        tally.record(want == committed,
                     f"render oracle {want} != committed {committed}")

    # serial pass: the same job at local[1] in a fresh context of the same
    # (already JIT-warm) JVM; its output must equal the local[4] output
    # (both are checked against the oracle)
    sess.stop()
    serial_setup = setup_once(sess, "local[1]", meta["corpus"])
    p1 = extract_unit(sess.spark, meta, args.work, "p1", tally)
    clean(os.path.join(args.work, "out-p1"),
          os.path.join(args.work, "metrics-p1"))
    n = meta["input"]["n_docs"]
    out["serial.setup_s"] = serial_setup["setup_s"]
    if p1 and warm:
        out["docs_per_s_p1"] = n / p1
        out["scaling_eff"] = (n / statistics.median(warm)) / (CORES * n / p1)
    return out


def _du_mb(path: str) -> float:
    total = 0
    for d, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(d, f)) for f in files)
    return total / (1 << 20)


# --- operators ------------------------------------------------------------------


def run_operators(args, sess: Session, work: str, tally: Tally, sampler,
                  expected: dict) -> tuple:
    import __spark_entry__ as entry

    from perfbench import ops

    fns = entry.queries()
    names = ops.query_names()
    want = expected.get(args.workload, {}).get("digests", {})
    setups = setup(sess, f"local[{CORES}]", None)
    spark = sess.spark
    tracer = Tracer(spark) if args.trace else None
    per_query: dict = {}

    def one_pass(tag, tr):
        total = 0.0
        for name in names:
            def q():
                t0 = time.perf_counter()
                table = fns[name](spark, ops.SF_DIR).toArrow()
                return time.perf_counter() - t0, table
            try:
                seconds, table = tr.around(f"{tag}.{name}", q) if tr else q()
            except Exception as exc:  # noqa: BLE001 — a raised query fails
                tally.record(False, f"{name} raised {type(exc).__name__}: {exc}")
                return None
            total += seconds
            per_query.setdefault(name, {})[tag] = seconds
            tally.record(ops.digest(table) == want.get(name),
                         f"{name}: result digest differs from the committed one")
        return total

    with sampler:
        cold, warm, untraced, cpu = units(one_pass, args.seconds, tracer)
    # a warm pass's time is the sum of each query's median over the warm
    # passes, so one query's hiccup in one pass does not move the figure
    warm_tags = [f"w{k}" for k in range(99)
                 if tracer is None or traced_unit(k)]
    unit = sum(statistics.median([per_query[n][t] for t in warm_tags
                                  if t in per_query[n]] or [0.0])
               for n in names)
    e2e, wall = summarize(setups, cold, unit, cpu, sampler, len(names))
    extra = {"queries": names, "warm_s": warm,
             "untraced_s": untraced, "per_query_s": per_query,
             "cold_cpu_s": cpu["cold"], "warm_cpu_s": cpu["warm"],
             "setups": setups, **wall}
    layers = {}
    if args.trace:
        # the tracer recorded one window per query; fold them per pass so
        # the engine metrics are per unit, like the extraction workload's
        passes: dict = {}
        for rec in tracer.records:
            tag, name = rec["tag"].split(".", 1)
            acc = passes.setdefault(tag, {"tag": tag})
            for k, v in rec.items():
                if k != "tag":
                    acc[k] = (max(acc.get(k, 0.0), v)
                              if k == "task_max_over_median"
                              else acc.get(k, 0.0) + v)
        layers = trace_layers(setups, list(passes.values()), warm, untraced,
                              sampler)
        layers.update(wall)
        layers.update(replay_sample("gen", args.seed))
        for module in ops.QUERIES:
            qs = ops.QUERIES[module]
            extra[f"{module}.cold_s"] = sum(per_query[q]["cold"] for q in qs)
            extra[f"{module}.warm_s"] = statistics.median(
                sum(per_query[q][t] for q in qs)
                for t in per_query[qs[0]] if t != "cold")
        for name in names:
            extra[f"cold.{name}"] = per_query[name]["cold"]
        cold_pass = passes.get("cold", {})
        warm_passes = [p for t, p in passes.items() if t != "cold"]
        extra["operators.spark_jobs_cold"] = cold_pass.get("jobs")
        extra["operators.spark_jobs_warm"] = statistics.median(
            p["jobs"] for p in warm_passes)
        extra["operators.shuffle_mb_cold"] = \
            cold_pass.get("shuffle_bytes", 0.0) / (1 << 20)
    return e2e, layers, extra


# --- main -----------------------------------------------------------------------


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--seconds", type=float, default=6.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    why = preflight()
    if why:
        print(f"perfbench: {why}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep)
                  if p])
    work = args.work = os.path.join(CACHE, f"work-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    # every scratch file (Spark's block manager, the JVM's and Python's temp
    # files, the streaming checkpoints) goes under the run's work dir
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    # spark-submit's launcher JVM would write a perf-data file to /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"
    tempfile.tempdir = tmp

    from perfbench.corpus import stage
    from perfbench.trace import (RssSampler, become_subreaper,
                                 end_descendants, write_json)

    # every process the run starts, and every orphan of one, stays below
    # this one, so the run can end all of them on every way out
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))

    with open(os.path.join(HERE, "expected.json")) as f:
        expected = json.load(f)
    wl = WORKLOADS[args.workload]
    tally = Tally()
    sampler = RssSampler()
    sess = Session(work, ui=bool(args.trace))
    phases = {"start": time.perf_counter()}
    try:
        if wl["kind"] == "extract":
            meta = stage(CACHE, wl["family"], args.seed, wl["n_docs"],
                         workers=CORES)
        phases["stage"] = time.perf_counter()
        # launch the JVM in a throwaway session, so every timed setup is a
        # session restart and none of them carries the one-time JVM launch
        t0 = time.perf_counter()
        sess.start(f"local[{CORES}]")
        sess.stop()
        jvm_s = time.perf_counter() - t0
        if wl["kind"] == "extract":
            e2e, layers, extra = run_extract(args, wl, meta, sess, work,
                                             tally, sampler, expected)
        else:
            e2e, layers, extra = run_operators(args, sess, work, tally,
                                               sampler, expected)
        if args.trace:
            layers["setup.jvm_s"] = jvm_s
        phases["measure"] = time.perf_counter()
    finally:
        try:
            sess.shutdown()
        finally:
            sampler.close()
            end_descendants()
            clean(work)
    phases["shutdown"] = time.perf_counter()
    last = phases.pop("start")
    for name, t in phases.items():
        log(f"phase {name}: {t - last:.1f} s")
        last = t

    units_ = {"setup_s": "s", "cpu_ms_per_item": "ms", "cold_cpu_s": "s",
              "peak_rss_mb": "MB", "wall.throughput": "1/s"}
    for name, value in e2e.items():
        log(f"metric {name} = {value:.4f} {units_[name]}")
    for name, value in sorted(layers.items()):
        log(f"layer {name} = {value:.4f}")
    for name, value in sorted(extra.items()):
        if isinstance(value, (int, float)):
            log(f"extra {name} = {value:.4f}")
        elif isinstance(value, list) and name.endswith("_s"):
            log(f"extra {name} = {[round(v, 3) for v in value]}")
    share = tally.failed / max(tally.attempted, 1)
    log(f"output check: {'ok' if not tally.failed else 'FAILED'}; "
        f"fail_share = {share:.4f} ({tally.failed} of {tally.attempted})")
    for err in tally.errors:
        log(f"  failure: {err}")
    if args.trace:
        path = os.path.join(CACHE, f"trace-{args.workload}-s{args.seed}.json")
        write_json(path, {"workload": args.workload, "seed": args.seed,
                          "end_to_end": e2e, "per_layer": layers,
                          "extra": extra, "attempted": tally.attempted,
                          "failed": tally.failed, "errors": tally.errors})
        log(f"trace written to {os.path.relpath(path, ROOT)}")
    chosen = layers if args.trace else e2e
    unit_of = lambda k: units_.get(k) or layer_unit(k)  # noqa: E731
    print(json.dumps({
        "correct": tally.failed == 0,
        "attempted": tally.attempted,
        "failed": tally.failed,
        "metrics": {k: {"value": v, "unit": unit_of(k)}
                    for k, v in chosen.items()},
    }), flush=True)
    return 0


def layer_unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_mb"):
        return "MB"
    if name.endswith("_pct"):
        return "%"
    if name.endswith("over_median"):
        return "ratio"
    return "count"


if __name__ == "__main__":
    raise SystemExit(main())
