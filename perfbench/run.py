"""Extraction benchmark: one workload, one seed, one JSON result line.

    python3 perfbench/run.py --workload mixed_512 --seed 1 --seconds 20 --trace 0

Run it from the root of a checkout; it reads and writes only inside that
checkout (scratch state goes to ``.bench_cache/``). The last line of stdout
is ``{"correct", "attempted", "failed", "metrics"}``: with ``--trace 0`` the
end-to-end metrics of timed passes, with ``--trace 1`` the per-layer metrics
of a separate traced run. See perfbench/README.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402
import tempfile  # noqa: E402
import uuid  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
CACHE = os.path.join(ROOT, ".bench_cache")

PARALLELISM = 3  # local[k], k <= nproc; chosen by measurement, see README
DRIVER_MEMORY = "3g"  # the session default (16g) exceeds this 15 GiB host's share
DETECT_SIZE = 512
N_BUCKETS = WAVE_SIZE = 8  # text_checkpoint: one wave of eight buckets per pass
WARMUP_PASSES = 1  # after the worker import check; see README for the measurement
MIN_PASSES = 2  # timed passes per run, even when one pass outlasts --seconds
WORKLOADS = ("mixed_512", "text_checkpoint")


def _bootstrap() -> None:
    """Point every scratch path, and the Python workers' imports, at the
    checkout under test."""
    if not os.path.isfile(os.path.join(ROOT, "mit_spark", "__init__.py")):
        sys.exit(f"perfbench: no mit_spark package under {ROOT}; run from a full checkout")
    tmp = os.path.join(CACHE, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    tempfile.tempdir = None
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(CACHE, "spark-local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p
    )
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LAUNCHER_OPTS"] = "-XX:-UsePerfData"  # no hsperfdata file under /tmp
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def _worker_module_file(batches):
    import pandas as pd

    import mit_spark
    import mit_spark.operators.batched_detect  # noqa: F401 -- pre-import the media UDF's stack

    for pdf in batches:
        yield pd.DataFrame({"f": [mit_spark.__file__] * len(pdf)})


def start_session():
    from mit_spark.session import make_session

    spark = make_session(
        master=f"local[{PARALLELISM}]",
        app_name="perfbench",
        extra={
            "spark.ui.showConsoleProgress": "false",
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.sql.warehouse.dir": os.path.join(CACHE, "warehouse"),
            "spark.driver.extraJavaOptions": f"-XX:-UsePerfData -Djava.io.tmpdir={os.environ['TMPDIR']} "
            f"-Dderby.system.home={os.path.join(CACHE, 'derby')}",
            "spark.executorEnv.PYTHONPATH": os.environ["PYTHONPATH"],
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python daemon) to exit."""
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


def assert_worker_imports(spark) -> str:
    """Every Python worker must import mit_spark from this checkout."""
    files = {
        r.f
        for r in spark.range(PARALLELISM)
        .repartition(PARALLELISM)
        .mapInPandas(_worker_module_file, "f string")
        .collect()
    }
    want = os.path.join(ROOT, "mit_spark", "__init__.py")
    if files != {want}:
        raise RuntimeError(f"workers import mit_spark from {sorted(files)}, want {want}")
    return want


def _docs_from_rows(rows) -> list[dict]:
    return [
        {"doc_id": r["doc_id"], "spans": [s.asDict() if hasattr(s, "asDict") else s for s in r["spans"]]}
        for r in rows
    ]


class Workload:
    """A workload's inputs and its pass: ``pass_`` runs the program once over
    the materialized corpus."""

    def __init__(self, name: str, seed: int, run_dir: str):
        from mit_spark.config import DetectorOptions, PipelineConfig
        from perfbench import corpus

        self.name, self.seed, self.run_dir = name, seed, run_dir
        docs = corpus.compose(seed)
        self.docs = docs if name == "mixed_512" else corpus.text_only(docs)
        self.path = os.path.join(run_dir, "corpus.parquet")
        corpus.materialize(self.path, self.docs)
        self.counts = corpus.counts(self.docs)
        self.cfg = PipelineConfig(
            detector=DetectorOptions(detect_size=DETECT_SIZE, emit_mask=False),
            n_buckets=N_BUCKETS,
        )
        self.n_passes = 0
        self.attempted = self.failed = 0

    def read(self, spark):
        return spark.read.parquet(self.path)

    def pass_(self, spark) -> float:
        """One pass; returns the wall time of the program's call alone."""
        if self.name == "mixed_512":
            from mit_spark.plans.pipeline import extract

            t0 = time.perf_counter()
            extract(spark, self.read(spark), self.cfg).write.format("noop").mode("overwrite").save()
            return time.perf_counter() - t0
        return self.checkpoint_pass(spark)

    def checkpoint_pass(self, spark) -> float:
        """A ``run_extraction`` pass into a fresh directory; returns its wall
        time. The lineage count and the removal of the previous pass's
        output come after the clock stops."""
        from mit_spark.plans.checkpoint import run_extraction

        out = self.out_dir(self.n_passes)
        self.n_passes += 1
        t0 = time.perf_counter()
        run_extraction(spark, self.read(spark), out, self.cfg, resume=False, wave_size=WAVE_SIZE)
        elapsed = time.perf_counter() - t0
        statuses = lineage_statuses(out)
        self.attempted += N_BUCKETS
        self.failed += sum(s != "done" for s in statuses) + (N_BUCKETS - len(statuses))
        if self.n_passes > 1:
            shutil.rmtree(self.out_dir(self.n_passes - 2), ignore_errors=True)
        return elapsed

    def out_dir(self, i: int) -> str:
        return os.path.join(self.run_dir, f"pass{i}")

    def collect_mixed(self, spark) -> list[dict]:
        from mit_spark.plans.pipeline import extract

        return _docs_from_rows(extract(spark, self.read(spark), self.cfg).collect())

    def last_checkpoint_output(self) -> list[dict]:
        import pyarrow.dataset as ds

        path = os.path.join(self.out_dir(self.n_passes - 1), "extracted")
        table = ds.dataset(path, format="parquet", partitioning="hive").to_table(columns=["doc_id", "spans"])
        return _docs_from_rows(table.to_pylist())


def lineage_statuses(out_dir: str) -> list[str]:
    import pyarrow.parquet as pq

    return pq.read_table(os.path.join(out_dir, "_lineage"), columns=["status"]).column("status").to_pylist()


def run_checker(w: Workload, out_docs: list[dict]) -> dict:
    from mit_spark.oracle import extract_docs
    from perfbench import checker

    oracle = extract_docs(w.docs, w.cfg)
    res = checker.check(w.docs, out_docs, oracle)
    res["negative_control_caught"] = checker.negative_control_ok(w.docs, out_docs, oracle)
    return res


def timed_run(w: Workload, spark, seconds: float, record: dict, t_bench: float) -> dict:
    """Warm-up, then timed passes. ``t_bench`` is the benchmark's own work
    before the session (host probe, input generation), left out of setup_s."""
    from perfbench.probe import cpu_seconds, worker_rss_peak_mb

    rss = 0.0
    warm = []
    checked = None
    for _ in range(WARMUP_PASSES):
        if w.name == "mixed_512" and checked is None:
            t0 = time.perf_counter()
            checked = w.collect_mixed(spark)  # the warm-up that also yields output to check
            warm.append(time.perf_counter() - t0)
        else:
            warm.append(w.pass_(spark))
        rss = max(rss, worker_rss_peak_mb())
    t_first = time.perf_counter()
    setup_s = t_first - T_START - t_bench

    passes, cpu = [], []
    while len(passes) < MIN_PASSES or time.perf_counter() - t_first < seconds:
        c0 = cpu_seconds()
        passes.append(w.pass_(spark))
        c1 = cpu_seconds()
        cpu.append({k: c1[k] - c0[k] for k in c1})
        rss = max(rss, worker_rss_peak_mb())
    if w.name == "text_checkpoint":
        checked = w.last_checkpoint_output()
    record.update(warmup_s=warm, passes_s=passes, pass_cpu_s=cpu, setup_s=setup_s)
    return {
        "checked": checked,
        "metrics": {
            "docs_per_s": {"value": statistics.median(w.counts["docs"] / p for p in passes), "unit": "1/s"},
            "setup_s": {"value": setup_s, "unit": "s"},
            "worker_rss_peak_mb": {"value": rss, "unit": "MB"},
        },
    }


def _median_wall(fn, reps: int) -> float:
    walls = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        walls.append(time.perf_counter() - t0)
    return statistics.median(walls)


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def traced_run(w: Workload, spark, tracer, t_session: float) -> dict:
    """Per-layer metrics, measured from outside the program: Spark layers
    from Spark's status store around jobs built from the pipeline's public
    pieces, worker layers from a single-process replay."""
    from pyspark.sql import functions as F

    from mit_spark.functions.textclean import clean_text_col
    from mit_spark.plans.pipeline import extract, extract_flat
    from perfbench.trace import SparkStatus

    st = SparkStatus(spark)

    def spans_df():
        return w.read(spark).select("doc_id", F.explode("spans").alias("s")).select(
            "doc_id", "s.kind", "s.text", "s.media_ref", "s.offset"
        )

    checked = None
    with tracer.span("warmup"):
        if w.name == "mixed_512":
            checked = w.collect_mixed(spark)
        else:
            w.pass_(spark)

    m = {"session.start_s": t_session}
    with tracer.span("sources"):
        mark = st.mark()
        scan_s = _median_wall(lambda: _noop(spans_df()), 3)
        m["sources.scan_s"] = scan_s
        m["sources.scan_bytes"] = sum(
            v for n, _, k, v in st.node_metrics(st.since(mark)["executions"])
            if n.startswith("Scan") and k == "size of files read") / 3
    with tracer.span("pipeline.text"):
        text = spans_df().filter(F.col("kind") == "text").select("doc_id", clean_text_col(F.col("text")))
        m["pipeline.text_stage_s"] = _median_wall(lambda: _noop(text), 3) - scan_s
    with tracer.span("pipeline.media"):
        mark = st.mark()
        t0 = time.perf_counter()
        _noop(extract_flat(spark, w.read(spark), w.cfg).filter(F.col("kind") != "text"))
        m["pipeline.media_stage_s"] = time.perf_counter() - t0 - scan_s
        d = st.since(mark)
        m["pipeline.media_tasks"] = d["last_stage_tasks"]
        nodes = st.node_metrics(d["executions"])
        m["pipeline.arrow_bytes_to_py"] = sum(
            v for n, _, k, v in nodes if n == "MapInPandas" and k == "data sent to Python workers")
        m["pipeline.arrow_bytes_from_py"] = sum(
            v for n, _, k, v in nodes if n == "MapInPandas" and k == "data returned from Python workers")
    with tracer.span("pipeline.full"):
        mark = st.mark()
        _noop(extract(spark, w.read(spark), w.cfg))
        d = st.since(mark)
        regroup = [(k, v) for n, desc, k, v in st.node_metrics(d["executions"])
                   if n == "Exchange" and "REPARTITION_BY_NUM" not in desc]
        m["pipeline.regroup_write_s"] = sum(v for k, v in regroup if k == "shuffle write time")
        m["pipeline.regroup_fetch_wait_s"] = sum(v for k, v in regroup if k == "fetch wait time")
        m["pipeline.regroup_shuffle_bytes"] = sum(v for k, v in regroup if k == "shuffle bytes written")
        m["spark.gc_s"] = d["gc_s"]
    with tracer.span("checkpoint"):
        mark = st.mark()
        w.checkpoint_pass(spark)
        d = st.since(mark)
        waves = -(-N_BUCKETS // WAVE_SIZE)
        m["checkpoint.jobs_per_wave"] = d["jobs"] / waves
        writes = [(e.physicalPlanDescription(), SparkStatus.execution_seconds(e)) for e in d["executions"]]
        m["checkpoint.write_s"] = sum(s for plan, s in writes if "InsertIntoHadoopFsRelationCommand" in plan
                                      and f"{os.sep}extracted" in plan)
        m["checkpoint.lineage_s"] = sum(s for plan, s in writes if "InsertIntoHadoopFsRelationCommand" in plan
                                        and f"{os.sep}_lineage" in plan)
    if checked is None:
        checked = w.last_checkpoint_output()
    return {"checked": checked, "metrics": m}


def replay_worker_layers(w: Workload, trace_out: str) -> dict:
    """The worker replay, in a fresh process that starts with WORKER_ENV."""
    from mit_spark.session import WORKER_ENV

    env = dict(os.environ, **WORKER_ENV)
    proc = subprocess.run(
        [sys.executable, os.path.join(HERE, "replay.py"), "--seed", str(w.seed), "--trace-out", trace_out],
        env=env, cwd=ROOT, capture_output=True, text=True, timeout=170, check=True,
    )
    return json.loads(proc.stdout.strip().splitlines()[-1])


PER_LAYER_UNITS = {
    "session.start_s": "s", "sources.scan_s": "s", "sources.scan_bytes": "bytes",
    "pipeline.text_stage_s": "s", "pipeline.media_stage_s": "s", "pipeline.media_tasks": "count",
    "pipeline.arrow_bytes_to_py": "bytes", "pipeline.arrow_bytes_from_py": "bytes",
    "pipeline.regroup_write_s": "s", "pipeline.regroup_fetch_wait_s": "s",
    "pipeline.regroup_shuffle_bytes": "bytes", "checkpoint.jobs_per_wave": "count",
    "checkpoint.write_s": "s", "checkpoint.lineage_s": "s", "spark.gc_s": "s",
    "batched_detect.ms_per_span": "ms", "batched_detect.coverage": "frac",
    "synth.render_ms_per_span": "ms", "detector.pre_ms_per_span": "ms",
    "detector.post_ms_per_span": "ms", "imageops.resize_ms_per_span": "ms",
    "imageops.resize_calls_per_span": "count", "forward.ms_per_span": "ms",
    "forward.calls_per_span": "count", "dbnet_post.ms_per_span": "ms",
    "geometry.convex_hull_calls_per_span": "count", "contours.components_per_span": "count",
    "ocr.ms_per_span": "ms", "ordering.ms_per_span": "ms", "trace.overhead_ms_per_span": "ms",
}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="mit_spark extraction benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    _bootstrap()
    from perfbench.probe import host_probe
    from perfbench.trace import Tracer

    run_id = uuid.uuid4().hex[:10]
    run_dir = os.path.join(CACHE, "runs", run_id)
    t0 = time.perf_counter()
    record = {"workload": args.workload, "seed": args.seed, "trace": args.trace, "run_id": run_id,
              "hygiene": {"master": f"local[{PARALLELISM}]", "nproc": os.cpu_count(),
                          "driver_memory": DRIVER_MEMORY, "show_console_progress": False,
                          "worker_pythonpath": os.environ["PYTHONPATH"], "warmup_passes": WARMUP_PASSES},
              "host_probe_before": host_probe()}
    w = Workload(args.workload, args.seed, run_dir)
    t_bench = time.perf_counter() - t0
    record.update(corpus=w.counts, bench_prep_s=t_bench)

    tracer = Tracer(enabled=bool(args.trace))
    spark = None
    try:
        with tracer.span("session.start"):
            t0 = time.perf_counter()
            spark = start_session()
            t_session = time.perf_counter() - t0
        record["worker_mit_spark"] = assert_worker_imports(spark)
        if args.trace:
            out = traced_run(w, spark, tracer, t_session)
        else:
            out = timed_run(w, spark, args.seconds, record, t_bench)
    finally:
        if spark is not None:
            stop_session(spark)

    if args.trace:
        os.makedirs(os.path.join(CACHE, "traces"), exist_ok=True)
        base = os.path.join(CACHE, "traces", f"{args.workload}-seed{args.seed}-{run_id}")
        replay = replay_worker_layers(w, base + "-replay.json")
        tracer.write(base + "-spark.json")
        out["metrics"].update(replay["metrics"])
        record["replay"] = {k: replay[k] for k in ("rows_equal", "media_spans", "chunks")}
        out["metrics"] = {k: {"value": out["metrics"][k], "unit": u} for k, u in PER_LAYER_UNITS.items()}

    res = run_checker(w, out["checked"])
    shutil.rmtree(run_dir, ignore_errors=True)
    correct_frac = res["correct_docs"] / res["docs"]
    if w.name == "mixed_512":
        attempted, failed = res["media_spans"], res["failed_media_spans"]
    else:
        attempted, failed = w.attempted, w.failed
    if not args.trace:
        out["metrics"]["correct_frac"] = {"value": correct_frac, "unit": "frac"}
    ok = (correct_frac == 1.0 and failed == 0 and res["negative_control_caught"]
          and record.get("replay", {}).get("rows_equal", True))
    record.update(check=res, attempted=attempted, failed=failed, correct=ok,
                  metrics=out["metrics"], host_probe_after=host_probe())
    os.makedirs(os.path.join(CACHE, "records"), exist_ok=True)
    with open(os.path.join(CACHE, "records", f"{args.workload}-seed{args.seed}-t{args.trace}-{run_id}.json"), "w") as fh:
        json.dump(record, fh, indent=1)
    print(json.dumps({"correct": ok, "attempted": int(attempted), "failed": int(failed),
                      "metrics": out["metrics"]}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
