"""Product-path benchmark for roadgrinder_spark.

    python3 perfbench/run.py --workload grind --seed 1 --seconds 8 --trace 0

Run from the root of a checkout. Generates the seed's key tables, derives
the program's inputs and the expected outputs with DuckDB (untimed), runs
the workload in a fresh Python process (perfbench/worker.py) that sets up
three fresh JVMs in turn and runs the workload in the last, checks every
output against the `__spark_entry__.oracle_sql()` rows and prints, as the
last line of standard output, one JSON object:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics; with --trace 1 the
workload is traced in two fresh processes and the metrics are the per-layer
ones, after a per-layer table. perfbench/README.md defines every metric.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import inputs as I
import report
import worker

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
#: pinned deployment; the package defaults (8g heap + 8g off-heap, 32
#: cores) do not fit a 4-core, 15 GB box
DRIVER_MEM = "2g"
OFFHEAP_MEM = "1g"
#: every run, traced ones too, ends within this many seconds of its start
DEADLINE_S = 170

END_TO_END_UNITS = {
    "setup_s": "s",
    "cold_s": "s",
    "op_ms_p50": "ms",
    "matched_per_s": "1/s",
    "jvm_peak_rss_mb": "MB",
}


def _cores() -> int:
    return len(os.sched_getaffinity(0))


def _spark_conf(work: Path) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        # the trace reads every job and stage back from the status store
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def _worker_env(work: Path) -> dict[str, str]:
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=str(work / "spark-local"),
        TMPDIR=str(work / "tmp"),
        SPARK_DRIVER_MEM=DRIVER_MEM,
        SPARK_OFFHEAP_MEM=OFFHEAP_MEM,
        PYSPARK_PYTHON=sys.executable,
        PYSPARK_DRIVER_PYTHON=sys.executable,
        # every JVM (the launcher's too): temp files under the work dir and
        # no hsperfdata file in /tmp
        JAVA_TOOL_OPTIONS=f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'}",
    )
    env["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(ROOT), env.get("PYTHONPATH", "")) if p
    )
    return env


def _wait_group_gone(pgid: int, timeout: float = 30.0) -> None:
    deadline = time.monotonic() + timeout
    while time.monotonic() < deadline:
        try:
            os.killpg(pgid, 0)
        except ProcessLookupError:
            return
        time.sleep(0.1)
    raise RuntimeError(f"processes of group {pgid} still running")


def run_worker(spec: dict, work: Path, timeout: float) -> dict:
    """Run worker.py in its own session (process group); always leave no
    process of that group behind."""
    spec_path = work / f"spec-{spec['tag']}.json"
    spec_path.write_text(json.dumps(spec))
    proc = subprocess.Popen(
        [sys.executable, worker.__file__, str(spec_path)],
        stdout=sys.stderr.fileno(), env=_worker_env(work), cwd=str(work),
        start_new_session=True,
    )
    try:
        code = proc.wait(timeout=max(1.0, timeout))
    finally:
        try:
            os.killpg(proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        proc.wait()
        _wait_group_gone(proc.pid)
    if code != 0:
        raise RuntimeError(f"worker exited with code {code}")
    return json.loads(Path(spec["result"]).read_text())


# -- per workload: inputs, expectations, checks ---------------------------------

def prepare(workload: str, oracle, work: Path) -> tuple[dict, dict]:
    """Materialize the program's inputs; returns (expected digests by output
    path, input facts: points one operation geocodes and the points it
    matches)."""
    points = oracle.derived_sql("addrpnts")
    if workload == "grind":
        expected = {
            rel: oracle.expected(name) for name, rel in I.GRIND_OUTPUTS.items()
        }
        n_points = oracle.con.sql(f"SELECT count(*) FROM ({points})").fetchone()[0]
        return expected, {"points": n_points, "matched": expected["Matches"]["rows"]}
    pts = oracle.table(f"SELECT {', '.join(I.STREAM_COLUMNS)} FROM ({points})")
    I.write_files(pts, work / "stream" / "src", I.STREAM_FILES)
    I.write_files(oracle.table(oracle.sql["geocode_roads"]), work / "stream" / "geocode_roads", 1)
    expected = {"stream_out": oracle.expected("geocode_match")}
    return expected, {"points": pts.num_rows, "matched": expected["stream_out"]["rows"]}


def check(workload: str, res: dict, expected: dict, oracle, work: Path) -> tuple[int, int, list[str]]:
    """(attempted, failed, problems) for one worker run."""
    problems = []

    def same(rel: str, path: Path, files: str = "*.parquet") -> bool:
        got = oracle.digest_output(path / files)
        if got != expected[rel]:
            problems.append(
                f"{path.relative_to(work)}: got {got['rows']} rows digest "
                f"{got['sum']:x}/{got['xor']:x}, oracle {expected[rel]['rows']} "
                f"rows digest {expected[rel]['sum']:x}/{expected[rel]['xor']:x}"
            )
            return False
        return True

    if workload == "grind":
        cold_ok = all([same(rel, work / "grind_cold" / rel) for rel in expected])
        resumed_ok = all([same(rel, work / "grind_out" / rel) for rel in expected])
        if res["recomputed_stages"]:
            problems.append(f"resume appended {res['recomputed_stages']} manifest lines")
            resumed_ok = False
        # the cold grind, the re-grinds and the resumes; the outputs on disk
        # are the last resume's, over the last re-grind's stages
        n = len(res["work_ms"]) + len(res["op_ms"])
        return 1 + n, (not cold_ok) + (0 if resumed_ok else n), problems
    # geocode_stream: every drain is one operation
    failed = 0
    for i, batches in enumerate(res["progress"]):
        ok = same("stream_out", work / "stream_out" / f"drain-{i:03d}", "batch=*/*.parquet")
        if len(batches) != I.STREAM_FILES:
            problems.append(f"drain {i}: {len(batches)} micro-batches for {I.STREAM_FILES} files")
            ok = False
        failed += not ok
    return len(res["progress"]), failed, problems


def end_to_end(res: dict, facts: dict) -> dict:
    """The end-to-end metrics of one untraced worker run."""
    # the cold operation and every re-grind or warm drain geocode all points
    geocodes = 1 + len(res["work_ms"])
    geocode_s = (res["cold_ms"] + sum(res["work_ms"])) / 1000
    return {
        "setup_s": statistics.median(res["setup_s"]),
        "cold_s": res["cold_ms"] / 1000,
        "op_ms_p50": statistics.median(res["op_ms"]),
        "matched_per_s": facts["matched"] * geocodes / geocode_s,
        "jvm_peak_rss_mb": res["jvm_hwm_kb"] / 1024,
    }


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(worker.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / "roadgrinder_spark" / "__init__.py").is_file() or not (
        ROOT / "__spark_entry__.py"
    ).is_file():
        print(f"perfbench: no roadgrinder_spark checkout at {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, str(ROOT))
    cores = _cores()
    work = HERE / ".work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    traces = HERE / ".work" / "traces"
    shutil.rmtree(work, ignore_errors=True)
    (work / "tmp").mkdir(parents=True)
    traces.mkdir(exist_ok=True)
    oracle = None
    t0 = time.perf_counter()
    try:
        sizes = I.write_key_tables(args.seed, work / "keys")
        oracle = I.Oracle(work / "keys", threads=cores, tmp=work / "tmp")
        expected, facts = prepare(args.workload, oracle, work)
        phases = {"prepare_s": time.perf_counter() - t0, "worker_s": [], "check_s": []}
        print("settings " + json.dumps({
            "cores": cores, "master": f"local[{cores}]",
            "SPARK_LOCAL_DIRS": str((work / "spark-local").relative_to(ROOT)),
            "SPARK_DRIVER_MEM": DRIVER_MEM, "SPARK_OFFHEAP_MEM": OFFHEAP_MEM,
            "seed": args.seed, "seconds": args.seconds,
        }))
        print("inputs " + json.dumps({**sizes, **facts, "expected_rows": {
            k: v["rows"] for k, v in expected.items()}}))
        spec = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "cores": cores, "conf": _spark_conf(work), "work": str(work),
            "keys": str(work / "keys"), "outputs": I.GRIND_OUTPUTS,
            "trace": bool(args.trace),
        }
        results, attempted, failed = [], 0, 0
        # a traced run is made twice, to check that its counters repeat
        for tag in ("run0", "run1") if args.trace else ("run0",):
            for d in ("grind_out", "grind_cold", "stream_out", "stream_ckpt"):
                shutil.rmtree(work / d, ignore_errors=True)
            spans = traces / f"{args.workload}-seed{args.seed}-{tag}.jsonl"
            t = time.perf_counter()
            res = run_worker({
                **spec, "tag": tag, "spans": str(spans),
                "result": str(work / f"result-{tag}.json"),
            }, work, DEADLINE_S - (time.perf_counter() - t0))
            res["spans"] = str(spans)
            phases["worker_s"].append(time.perf_counter() - t)
            t = time.perf_counter()
            a, f, problems = check(args.workload, res, expected, oracle, work)
            phases["check_s"].append(time.perf_counter() - t)
            for p in problems:
                print(f"perfbench: output check failed: {p}", file=sys.stderr)
            attempted, failed = attempted + a, failed + f
            results.append(res)
        print("phases " + json.dumps(phases))
        print("samples " + json.dumps([{
            k: r[k] for k in ("setup_s", "cold_ms", "work_ms", "op_ms")
        } for r in results]))
        if args.trace:
            metrics = report.per_layer(
                args.workload, results, facts["matched"], sizes["key_bytes"], cores
            )
        else:
            metrics = end_to_end(results[0], facts)
            metrics = {k: {"value": v, "unit": END_TO_END_UNITS[k]} for k, v in metrics.items()}
            for k, m in metrics.items():
                print(f"{k:>18} {m['value']:.6g} {m['unit']}")
        print(json.dumps({
            "correct": failed == 0, "attempted": attempted, "failed": failed,
            "metrics": metrics,
        }))
        return 0
    finally:
        if oracle is not None:
            oracle.con.close()
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
