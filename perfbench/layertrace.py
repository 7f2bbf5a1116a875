"""Outside-in layer trace for the product-path benchmark.

Spans are recorded from this file by wrapping the package's public entry
points; the package itself is not modified. Each span runs its Spark jobs
under a job group of its own, so after the run the job group leads to the
span's jobs (`statusTracker()`), the jobs to their stages, and the stages
to executor metrics (the AppStatusStore's stage data). SQL execution
metrics give the geocode candidate-join row count. Streaming queries set
their run id as the job group of every micro-batch job; the drain span
claims that group.

Nothing here is imported by an untraced run.
"""

from __future__ import annotations

import itertools
import json
import time
import uuid
from contextlib import contextmanager
from pathlib import Path

#: pipeline stage name -> the layer whose work its parquet write runs
STAGE_LAYER = {
    "roads": "operators.spans",
    "addrpnts": "operators.spans",
    "geocode_roads": "operators.roadgrinder",
    "scratch": "operators.roadgrinder",
    "altnames_roads": "operators.roadgrinder",
    "altnames_addrpnts": "operators.roadgrinder",
    "matches": "spatial.join",
    "nearest_road": "spatial.join",
}

#: layers that get the full executor-counter set as per-layer metrics
COUNTED_LAYERS = ("operators.spans", "operators.roadgrinder", "spatial.join")
COUNTERS = (
    "jobs", "stages", "tasks", "run_ms", "cpu_ms", "gc_ms",
    "shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "output_bytes",
)
#: counters that must repeat exactly when the same seed is traced twice
DETERMINISTIC = ("jobs", "stages", "tasks", "shuffle_write_bytes", "shuffle_read_bytes")


class Tracer:
    """In-memory spans plus the job groups that tie Spark work to them."""

    def __init__(self):
        self.trace_id = uuid.uuid4().hex
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count(1)
        self.spark = None
        self.sc = None
        self.session_jobs: list[int] = []  # run before any span could set a group
        self.extra_groups: dict[str, dict] = {}  # job group -> span
        #: what the next RoadGrinderPipeline.grind call is, for its span:
        #: "grind" (the cold one), "regrind" or "resume"
        self.grind_op = "grind"

    # -- spans -----------------------------------------------------------
    def attach(self, spark) -> None:
        """Call right after build_session: every job run so far belongs to
        the session span."""
        self.spark = spark
        self.sc = spark.sparkContext
        self.session_jobs = list(self.sc.statusTracker().getJobIdsForGroup(None))

    def _set_group(self, span: dict | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(span["group"], span["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        sid = next(self._ids)
        s = {
            "trace_id": self.trace_id,
            "span_id": sid,
            "parent": self._stack[-1]["span_id"] if self._stack else None,
            "name": name,
            "group": f"perfbench-{self.trace_id[:8]}-{sid}",
            **attrs,
        }
        self._stack.append(s)
        self._set_group(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)
            self.spans.append(s)

    def claim_group(self, group: str, span: dict) -> None:
        """Jobs run under `group` (e.g. a streaming query's run id) belong
        to `span`."""
        self.extra_groups[group] = span

    def instrument_pipeline(self) -> None:
        """Wrap RoadGrinderPipeline.grind / create_output and
        CheckpointManager.stage with spans."""
        from roadgrinder_spark.plans import pipeline as pl

        tracer = self
        grind, create, stage = (
            pl.RoadGrinderPipeline.grind,
            pl.RoadGrinderPipeline.create_output,
            pl.CheckpointManager.stage,
        )

        def traced_grind(self, documents):
            with tracer.span("plans.pipeline", op=tracer.grind_op):
                return grind(self, documents)

        def traced_create(self):
            with tracer.span("plans.pipeline", op="create_output"):
                return create(self)

        def manifest_bytes(ckpt):
            path = Path(ckpt.manifest_path)
            return path.stat().st_size if path.exists() else 0

        def traced_stage(self, name, fingerprint, fn):
            # a computed stage appends a manifest line, also when it
            # replaces an earlier entry of the same stage
            before = manifest_bytes(self)
            with tracer.span(STAGE_LAYER.get(name, "plans.pipeline"), stage=name) as s:
                out = stage(self, name, fingerprint, fn)
                s["computed"] = manifest_bytes(self) > before
                if not s["computed"]:
                    # read back from its checkpoint: the pipeline's own work
                    s["name"] = "plans.pipeline"
                return out

        pl.RoadGrinderPipeline.grind = traced_grind
        pl.RoadGrinderPipeline.create_output = traced_create
        pl.CheckpointManager.stage = traced_stage

    # -- counters ----------------------------------------------------------
    def collect(self) -> None:
        """Attach executor counters and candidate-join rows to every span.
        Call once, after the workload, while the session is alive."""
        sc = self.sc
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        store = jsc.statusStore()
        conv = sc._jvm.scala.jdk.javaapi.CollectionConverters
        sql_store = self.spark._jsparkSession.sharedState().statusStore()
        # an execution's join rows are counted once, with its first job
        join_rows: dict[int, int] = {}
        for ex in conv.asJava(sql_store.executionsList()):
            job_ids = list(conv.asJava(ex.jobs()).keySet())
            if not job_ids:
                continue
            metrics = conv.asJava(sql_store.executionMetrics(ex.executionId()))
            rows = 0
            for node in conv.asJava(sql_store.planGraph(ex.executionId()).allNodes()):
                if "Join" not in node.name():
                    continue
                for m in conv.asJava(node.metrics()):
                    v = metrics.get(m.accumulatorId())
                    if m.name() == "number of output rows" and v:
                        rows += int(str(v).replace(",", ""))
            join_rows[min(job_ids)] = rows

        def counters(job_ids) -> dict:
            c = dict.fromkeys(COUNTERS, 0)
            c["join_rows"] = 0
            for j in job_ids:
                info = tracker.getJobInfo(j)
                if info is None:
                    continue
                c["jobs"] += 1
                c["join_rows"] += join_rows.get(j, 0)
                for sid in info.stageIds:
                    st = store.lastStageAttempt(sid)
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its shuffle output was reused
                    c["stages"] += 1
                    c["tasks"] += st.numCompleteTasks()
                    c["run_ms"] += st.executorRunTime()
                    c["cpu_ms"] += st.executorCpuTime() / 1e6
                    c["gc_ms"] += st.jvmGcTime()
                    c["shuffle_write_bytes"] += st.shuffleWriteBytes()
                    c["shuffle_read_bytes"] += st.shuffleReadBytes()
                    c["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    c["output_bytes"] += st.outputBytes()
            return c

        by_group = {s["group"]: s for s in self.spans}
        by_group.update(self.extra_groups)
        for s in self.spans:
            s["jobs_ids"] = []
        for g, s in by_group.items():
            s["jobs_ids"] += list(tracker.getJobIdsForGroup(g))
            if s["name"] == "session":
                s["jobs_ids"] += self.session_jobs
        for s in self.spans:
            s["counters"] = counters(s["jobs_ids"])
        self.total_counters = counters(
            [jd.jobId() for jd in conv.asJava(store.jobsList(None))]
        )

    def write(self, path) -> None:
        with open(path, "w") as f:
            for s in sorted(self.spans, key=lambda s: s["span_id"]):
                f.write(json.dumps(s) + "\n")


# -- per-layer table -----------------------------------------------------------

def _self_ms(span: dict, children: list[dict]) -> float:
    """Span duration minus the part of it its children's intervals cover."""
    covered, cur_s, cur_e = 0.0, None, None
    for c in sorted(children, key=lambda c: c["start"]):
        if cur_e is None or c["start"] > cur_e:
            if cur_e is not None:
                covered += cur_e - cur_s
            cur_s, cur_e = c["start"], c["end"]
        else:
            cur_e = max(cur_e, c["end"])
    if cur_e is not None:
        covered += cur_e - cur_s
    return (span["end"] - span["start"] - covered) * 1000


def layer_table(spans: list[dict], cores: int) -> dict[str, dict]:
    """Aggregate spans by layer name: wall (outermost spans of the layer
    only), self time and the executor counters."""
    by_id = {s["span_id"]: s for s in spans}
    kids: dict[int, list[dict]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append(s)
    layers: dict[str, dict] = {}
    for s in spans:
        layer = layers.setdefault(
            s["name"], {"wall_ms": 0.0, "self_ms": 0.0, "spans": 0, **dict.fromkeys(COUNTERS, 0), "join_rows": 0}
        )
        layer["spans"] += 1
        parent = by_id.get(s["parent"])
        if parent is None or parent["name"] != s["name"]:
            layer["wall_ms"] += (s["end"] - s["start"]) * 1000
        layer["self_ms"] += _self_ms(s, kids.get(s["span_id"], []))
        for k in (*COUNTERS, "join_rows"):
            layer[k] += s["counters"][k]
    for layer in layers.values():
        layer["slot_util"] = (
            layer["run_ms"] / (layer["wall_ms"] * cores) if layer["wall_ms"] else 0.0
        )
    return layers
