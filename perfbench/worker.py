"""One fresh-process run of a benchmark workload; spawned by run.py.

    python3 perfbench/worker.py <spec.json>   (with the checkout root on PYTHONPATH)

Builds the Spark session SETUPS times, each time in a fresh JVM (timed:
that is set-up; once when traced), runs the workload in the last one
through the package's public functions and writes timings to the spec's
`result` path. Outputs are left on disk for run.py to check against the
DuckDB oracle. With `trace` set, spans and per-layer counters are written
too (see layertrace.py).
"""

from __future__ import annotations

import json
import shutil
import sys
import time
from contextlib import nullcontext
from pathlib import Path

#: sessions built per run, each in a fresh JVM; setup_s is their median
SETUPS = 3
#: the timed loops run for the run's seconds, and at least this many times:
#: re-grinds (each followed by RESUMES resumes) and warm drains. A traced
#: run runs exactly this many, so that its counters can repeat.
MIN_REGRINDS = 3
RESUMES = 3
MIN_DRAINS = 4


def _span(tracer, name, **attrs):
    return tracer.span(name, **attrs) if tracer else nullcontext()


def _dir_bytes(path: Path) -> int:
    return sum(f.stat().st_size for f in path.rglob("*") if f.is_file())


def _timed(op) -> float:
    """Wall ms of one call of `op`."""
    t = time.perf_counter()
    op()
    return (time.perf_counter() - t) * 1000


def _loop(seconds: float, at_least: int, op) -> None:
    """Call `op` until `seconds` have passed, and at least `at_least` times."""
    start, n = time.perf_counter(), 0
    while n < at_least or time.perf_counter() - start < seconds:
        op()
        n += 1


def run_grind(spark, spec, tracer) -> dict:
    """create_output() + grind() into an empty directory as the first call
    after build_session (what one `--job pipeline` run costs). Then, for
    the run's seconds: a re-grind after every stage's checkpoint was lost
    (all stages recomputed, warm JVM), then resumes of the completed
    directory (no stage recomputed)."""
    from roadgrinder_spark import datagen
    from roadgrinder_spark.operators.spans import pack_documents
    from roadgrinder_spark.plans.pipeline import GrinderConfig, RoadGrinderPipeline

    if tracer:
        tracer.instrument_pipeline()
    work = Path(spec["work"])
    out = work / "grind_out"
    keys = spec["keys"]
    t = time.perf_counter()
    docs = pack_documents(
        datagen.derive_roads(spark, keys), datagen.derive_addrpnts(spark, keys)
    )
    pipe = RoadGrinderPipeline(
        spark, GrinderConfig(output_dir=str(out), run_id=f"seed{spec['seed']}")
    )
    pipe.create_output()
    pipe.grind(docs)
    cold_ms = (time.perf_counter() - t) * 1000
    bytes_cold = _dir_bytes(out)
    # keep the cold run's outputs: every later grind rewrites the final tables
    for rel in spec["outputs"].values():
        shutil.copytree(out / rel, work / "grind_cold" / rel)
    manifest = out / "stages" / "_manifest.jsonl"
    stage_dirs = [d for d in (out / "stages").iterdir() if d.is_dir()]
    regrind_ms, resume_ms, appended = [], [], []

    def regrind_then_resume():
        for d in stage_dirs:
            shutil.rmtree(d)
        if tracer:
            tracer.grind_op = "regrind"
        regrind_ms.append(_timed(lambda: pipe.grind(docs)))
        before = len(manifest.read_text().splitlines())
        if tracer:
            tracer.grind_op = "resume"
        for _ in range(RESUMES):
            resume_ms.append(_timed(lambda: pipe.grind(docs)))
        appended.append(len(manifest.read_text().splitlines()) - before)

    _loop(0 if tracer else spec["seconds"], MIN_REGRINDS, regrind_then_resume)
    return {
        "cold_ms": cold_ms,
        "work_ms": regrind_ms,
        "op_ms": resume_ms,
        "bytes_written": bytes_cold,
        "stored_bytes": _dir_bytes(out),
        "recomputed_stages": sum(appended),
    }


def run_geocode_stream(spark, spec, tracer) -> dict:
    """availableNow drains of streaming_geocode_match, one file per
    trigger, against a persisted geocode-roads side, as streaming/gate.py
    drains it. Each drain starts a new query on the same source files with
    a fresh sink and checkpoint; the first is the cold one."""
    from pyspark import StorageLevel

    from roadgrinder_spark.streaming.geocode import streaming_geocode_match

    work = Path(spec["work"])
    with _span(tracer, "perfbench.prep"):
        gcr = spark.read.parquet(str(work / "stream" / "geocode_roads")).persist(
            StorageLevel.MEMORY_AND_DISK
        )
        gcr.count()
    drain_ms: list[float] = []
    progress: list[list[dict]] = []

    def drain():
        n = len(progress)
        t = time.perf_counter()
        with _span(tracer, "streaming.geocode", op="drain", drain=n) as s:
            q = streaming_geocode_match(
                spark, str(work / "stream" / "src"), gcr,
                str(work / "stream_out" / f"drain-{n:03d}"),
                str(work / "stream_ckpt" / f"drain-{n:03d}"),
                max_files_per_trigger=1, shuffle_sides=True,
            )
            if tracer:
                tracer.claim_group(str(q.runId), s)
            q.awaitTermination()
        drain_ms.append((time.perf_counter() - t) * 1000)
        progress.append([
            {"batch": p["batchId"], "rows": p["numInputRows"], **p["durationMs"]}
            for p in q.recentProgress if p["numInputRows"] > 0
        ])

    drain()
    _loop(0 if tracer else spec["seconds"], MIN_DRAINS, drain)
    gcr.unpersist()
    return {
        "cold_ms": drain_ms[0],
        "work_ms": drain_ms[1:],
        # micro-batch latency over the warm drains
        "op_ms": [b["triggerExecution"] for d in progress[1:] for b in d],
        "progress": progress,
    }


WORKLOADS = {
    "grind": run_grind,
    "geocode_stream": run_geocode_stream,
}


def _jvm_hwm_kb(spark) -> int:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    raise RuntimeError("VmHWM missing from /proc status")


def _stop(spark) -> None:
    """Stop the session, wait for the JVM to exit and forget its gateway,
    so that the next session starts a fresh JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF of its stdin
        proc.wait(timeout=60)
    SparkContext._gateway = None
    SparkContext._jvm = None


def main(spec_path: str) -> int:
    spec = json.loads(Path(spec_path).read_text())
    tracer = None
    if spec["trace"]:
        from layertrace import Tracer

        tracer = Tracer()
    from roadgrinder_spark.session import build_session

    setup_s, spark = [], None
    for _ in range(1 if tracer else SETUPS):
        if spark is not None:
            _stop(spark)
        t0 = time.perf_counter()
        with _span(tracer, "session"):
            spark = build_session(
                app_name=f"perfbench-{spec['workload']}",
                master=f"local[{spec['cores']}]",
                extra_conf=spec["conf"],
            )
        setup_s.append(time.perf_counter() - t0)
    try:
        if tracer:
            tracer.attach(spark)
        result = WORKLOADS[spec["workload"]](spark, spec, tracer)
        result["wall_s"] = time.perf_counter() - t0
        result["setup_s"] = setup_s
        result["jvm_hwm_kb"] = _jvm_hwm_kb(spark)
        if tracer:
            tracer.collect()
            tracer.write(spec["spans"])
            result["total_counters"] = tracer.total_counters
    finally:
        _stop(spark)
    Path(spec["result"]).write_text(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1]))
