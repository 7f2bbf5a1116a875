"""Per-layer metrics and table from two traced runs of one workload."""

from __future__ import annotations

import json
import statistics
from pathlib import Path

from layertrace import COUNTED_LAYERS, DETERMINISTIC, layer_table

_UNITS = {
    "wall_ms": "ms", "self_ms": "ms", "jobs": "count", "stages": "count",
    "tasks": "count", "run_ms": "ms", "cpu_ms": "ms", "gc_ms": "ms",
    "shuffle_write_bytes": "bytes", "shuffle_read_bytes": "bytes",
    "spill_bytes": "bytes", "output_bytes": "bytes", "slot_util": "ratio",
}
_PROGRESS = {
    "add_batch_ms_p50": "addBatch",
    "wal_commit_ms_p50": "walCommit",
    "commit_offsets_ms_p50": "commitOffsets",
    "latest_offset_ms_p50": "latestOffset",
    "query_planning_ms_p50": "queryPlanning",
}


def _pct(values: list[float], q: int) -> float:
    """The q-th percentile (statistics.quantiles, exclusive method)."""
    if len(values) < 2:
        return values[0] if values else 0.0
    return statistics.quantiles(values, n=100)[q - 1]


def _load(res: dict) -> list[dict]:
    return [json.loads(line) for line in Path(res["spans"]).read_text().splitlines()]


def _layer_values(spans: list[dict], res: dict, cores: int) -> tuple[dict, list[str]]:
    """Every per-layer metric of one traced run, plus the explanation lines
    (each ratio with its base)."""
    layers = layer_table(spans, cores)
    m: dict[str, tuple[float, str]] = {}
    notes: list[str] = []
    zero = {k: 0 for k in (*_UNITS, "join_rows", "spans")}
    for name in COUNTED_LAYERS:
        lay = layers.get(name, zero)
        for k, unit in _UNITS.items():
            m[f"{name}.{k}"] = (lay[k], unit)
        if lay["wall_ms"]:
            notes.append(
                f"{name}.slot_util = run_ms {lay['run_ms']:.0f} / "
                f"(wall_ms {lay['wall_ms']:.0f} x {cores} cores)"
            )

    # candidate-join rows per matched point, over the spans that run the
    # geocode join: the grind's matches stage and the stream's drains
    geo = [s for s in spans if s.get("stage") == "matches" or s.get("op") == "drain"]
    cand = sum(s["counters"]["join_rows"] for s in geo)
    runs = sum(1 for s in geo if s.get("stage") != "matches" or s.get("computed"))
    matched = res["matched_per_run"] * runs
    m["spatial.join.candidates_per_match"] = (cand / matched if matched else 0.0, "ratio")
    if matched:
        notes.append(
            f"spatial.join.candidates_per_match = candidate-join rows {cand} / "
            f"matched points {matched} ({runs} geocode runs)"
        )

    # plans.pipeline: the cold grind, and the resumes of the completed output
    grinds = [s for s in spans if s["name"] == "plans.pipeline" and s.get("op") == "grind"]
    resumes = [s for s in spans if s["name"] == "plans.pipeline" and s.get("op") == "resume"]
    kids: dict[int, list[dict]] = {}
    for s in spans:
        kids.setdefault(s["parent"], []).append(s)
    if grinds:
        cold = grinds[0]
        stages = [s for s in kids.get(cold["span_id"], []) if s.get("stage")]
        computed = [s for s in stages if s.get("computed")]
        stage_jobs = sum(s["counters"]["jobs"] for s in computed)
        stage_ms = sum((s["end"] - s["start"]) * 1000 for s in stages)
        tail_ms = (cold["end"] - cold["start"]) * 1000 - stage_ms
        resume_jobs = [
            s["counters"]["jobs"] + sum(k["counters"]["jobs"] for k in kids.get(s["span_id"], []))
            for s in resumes
        ]
        pipe = {
            "jobs_per_stage": (stage_jobs / len(computed) if computed else 0.0, "ratio"),
            "tail_ms": (tail_ms, "ms"),
            "tail_jobs": (cold["counters"]["jobs"], "count"),
            "resume_jobs_p50": (statistics.median(resume_jobs) if resume_jobs else 0, "count"),
        }
        notes.append(
            f"plans.pipeline.jobs_per_stage = {stage_jobs} jobs / {len(computed)} computed stages"
        )
        notes.append(
            f"plans.pipeline.tail_ms = cold grind {(cold['end'] - cold['start']) * 1000:.0f} ms"
            f" - {len(stages)} stage spans {stage_ms:.0f} ms"
        )
    else:
        pipe = {k: (0, u) for k, u in (
            ("jobs_per_stage", "ratio"), ("tail_ms", "ms"), ("tail_jobs", "count"),
            ("resume_jobs_p50", "count"))}
    pipe["bytes_written"] = (res.get("bytes_written", 0), "bytes")
    pipe["recomputed_stages"] = (res.get("recomputed_stages", 0), "count")
    key_bytes = res["key_bytes"]
    stored = res.get("stored_bytes", 0)
    pipe["stored_bytes_per_input_byte"] = (stored / key_bytes, "ratio")
    notes.append(
        f"plans.pipeline.stored_bytes_per_input_byte = {stored} bytes under the "
        f"output dir / {key_bytes} bytes of key tables"
    )
    m.update({f"plans.pipeline.{k}": v for k, v in pipe.items()})

    # streaming.geocode: recentProgress per micro-batch of the drains after
    # the cold one, pooled over both traced runs so that the 75th
    # percentile has ten samples above it
    prog = res.get("progress_pooled", [])
    drain = [s for s in spans if s.get("op") == "drain"]
    batch_ms = [p["triggerExecution"] for p in prog]
    drains = res.get("progress", [])
    per_drain = len(drains[0]) if drains else 0
    run_batches = sum(len(d) for d in drains)
    stream = {
        "batches": (per_drain, "count"),
        "batch_ms_p50": (_pct(batch_ms, 50) if prog else 0, "ms"),
        "batch_ms_p75": (_pct(batch_ms, 75) if prog else 0, "ms"),
        "jobs_per_batch": (
            sum(s["counters"]["jobs"] for s in drain) / run_batches if run_batches else 0,
            "ratio"),
    }
    for k, field in _PROGRESS.items():
        stream[k] = (statistics.median(p[field] for p in prog) if prog else 0, "ms")
    if prog:
        notes.append(
            f"streaming.geocode: {per_drain} micro-batches per drain, {len(drains)} "
            f"drains in run 1; percentiles over the {len(prog)} micro-batches of "
            f"the warm drains of both traced runs; batch_ms_p75 has "
            f"{sum(1 for b in batch_ms if b > stream['batch_ms_p75'][0])} samples above it"
        )
        notes.append(
            f"streaming.geocode.jobs_per_batch = {sum(s['counters']['jobs'] for s in drain)}"
            f" jobs / {run_batches} micro-batches"
        )
    m.update({f"streaming.geocode.{k}": v for k, v in stream.items()})

    session = [s for s in spans if s["name"] == "session"]
    m["session.build_ms"] = ((session[0]["end"] - session[0]["start"]) * 1000, "ms")
    m["session.jobs"] = (session[0]["counters"]["jobs"], "count")
    tot = res["total_counters"]
    wall_ms = res["wall_s"] * 1000
    for k, unit in (("jobs", "count"), ("tasks", "count"),
                    ("shuffle_write_bytes", "bytes"), ("gc_ms", "ms")):
        m[f"spark.{k}"] = (tot[k], unit)
    m["spark.slot_util"] = (tot["run_ms"] / (wall_ms * cores), "ratio")
    notes.append(
        f"spark.slot_util = run_ms {tot['run_ms']} / (process wall {wall_ms:.0f} ms x {cores} cores)"
    )
    return m, notes


def _deterministic(spans: list[dict]) -> dict:
    """(span name, stage/op, k) -> counter sum, for the counters that must
    repeat exactly."""
    out: dict[str, int] = {}
    for s in spans:
        key = f"{s['name']}[{s.get('stage') or s.get('op') or ''}]"
        for k in DETERMINISTIC:
            out[f"{key}.{k}"] = out.get(f"{key}.{k}", 0) + s["counters"][k]
    return out


def per_layer(workload: str, results: list[dict], matched: int, key_bytes: int,
              cores: int) -> dict:
    """Print the per-layer table of the first traced run and the repeat
    check against the second; return the per-layer metrics. `matched` is
    the number of points one geocode run matches."""
    runs = []
    for res in results:
        res = {**res, "matched_per_run": matched, "key_bytes": key_bytes}
        runs.append((_load(res), res))
    runs[0][1]["progress_pooled"] = [
        p for _, r in runs for d in r.get("progress", [])[1:] for p in d]
    metrics, notes = _layer_values(*runs[0], cores)

    # a traced run runs a fixed number of operations, so every span kind's
    # summed counters can repeat
    counted = [_deterministic(spans) for spans, _ in runs]
    diffs = sorted(k for k in counted[0].keys() | counted[1].keys()
                   if counted[0].get(k) != counted[1].get(k))
    metrics["trace.counters_repeat"] = (0.0 if diffs else 1.0, "bool")

    layers = layer_table(runs[0][0], cores)
    print(f"per-layer trace, workload {workload}, {cores} cores (run 1 of 2)")
    head = ("layer", "spans", "wall_ms", "self_ms", "jobs", "stages", "tasks",
            "run_ms", "cpu_ms", "gc_ms", "shuf_w_B", "shuf_r_B", "spill_B", "out_B", "slot_util")
    print(" ".join(f"{h:>12}" if i else f"{h:<22}" for i, h in enumerate(head)))
    for name in sorted(layers):
        lay = layers[name]
        vals = [lay["spans"], lay["wall_ms"], lay["self_ms"], lay["jobs"], lay["stages"],
                lay["tasks"], lay["run_ms"], lay["cpu_ms"], lay["gc_ms"],
                lay["shuffle_write_bytes"], lay["shuffle_read_bytes"],
                lay["spill_bytes"], lay["output_bytes"], lay["slot_util"]]
        print(f"{name:<22} " + " ".join(
            f"{v:>12.3f}" if isinstance(v, float) else f"{v:>12}" for v in vals))
    for n in notes:
        print("  " + n)
    if diffs:
        for k in diffs:
            print(f"  counter differs between traced runs: {k}: "
                  f"{counted[0].get(k)} vs {counted[1].get(k)}")
    else:
        print(f"  {len(counted[0])} deterministic counters (jobs, stages, tasks, "
              "shuffle bytes per span kind) repeat exactly in the second traced run")
    return {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
