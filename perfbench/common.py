"""Shared pieces of the benchmark: statistics, the span tracer, the Spark
session launcher, the streaming progress listener and the event-log
reader. Nothing here runs at import time."""

from __future__ import annotations

import contextlib
import json
import os
import sys
import threading
import time
from collections import defaultdict

import numpy as np

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# every end-to-end metric each workload reports with --trace 0
END_TO_END = {
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "loaded_p50_ms": "ms",
    "throughput_per_s": "1/s",
}

CURATION_QUERIES = (
    "composite_curation_neardup",
    "composite_semantic_dedup",
    "search_hybrid_rrf",
    "dedup_minhash_verified",
    "dedup_simhash",
    "multimodal_image_decode_jpeg",
    "agg_pricing_summary",
    "text_quality_classifier",
    "multimodal_video_features",
)
RATES = ("r10k", "r20k")
PROBE_KINDS = ("lex", "sq8")

# every per-layer metric each workload reports with --trace 1; a layer a
# workload does not run reports 0
LAYER_METRICS = {
    "session.start_s": "s",
    "sources.offset_ms": "ms",
    "sources.rows_per_batch": "count",
    **{f"sources.backlog_files_slope.{r}": "files/s" for r in RATES},
    "topology.batch_ms.p50": "ms",
    "topology.batch_ms.p95": "ms",
    "topology.plan_ms": "ms",
    "topology.wal_ms": "ms",
    "topology.batches": "count",
    "sensor.alerts_per_record": "ratio",
    "sinks.publish_ms": "ms",
    "sinks.forward_ms": "ms",
    "sinks.mqtt_connects_per_batch": "count",
    "baseline_1core.latency_p50_ms": "ms",
    **{f"operators.{q}_s": "s" for q in CURATION_QUERIES},
    "operators.jobs": "count",
    "operators.stages": "count",
    "operators.tasks": "count",
    "operators.shuffle_bytes": "bytes",
    "operators.gc_ms": "ms",
    **{
        f"serving.probe_{k}_ms.{ph}": "ms"
        for k in PROBE_KINDS
        for ph in ("read_only", "mixed")
    },
    "serving.jobs_per_probe": "count",
    "lake.merge_ms": "ms",
    "lake.diff_ms": "ms",
    "lake.files_per_commit": "count",
    "lake.bytes_written_per_user_byte": "ratio",
    "hybrid.apply_ms": "ms",
    "hybrid.jobs_per_apply": "count",
    "hybrid.index_files": "count",
    "hybrid.freshness_ms": "ms",
    "gen.late_ms.p99": "ms",
    "traced.latency_p50_ms": "ms",
    "traced.loaded_p50_ms": "ms",
}

# percentiles a tail may be reported at, highest first
TAIL_CANDIDATES = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# ---------------------------------------------------------------- stats


def percentile(values, p: float) -> float:
    return float(np.percentile(np.asarray(values, dtype=float), p))


def tail_percentile(n: int, wanted: float = 99.9) -> float:
    """The highest percentile, at most ``wanted``, that has at least ten
    samples beyond it among ``n``. 50 when none has."""
    for p in TAIL_CANDIDATES:
        if p <= wanted and round(n * (100.0 - p) / 100.0, 6) >= 10:
            return p
    return 50.0


def slope(xs, ys) -> float:
    """Least-squares slope of ys over xs; 0 with fewer than two points."""
    if len(xs) < 2:
        return 0.0
    x = np.asarray(xs, dtype=float)
    y = np.asarray(ys, dtype=float)
    if np.ptp(x) == 0:
        return 0.0
    return float(np.polyfit(x, y, 1)[0])


def late_stats(scheduled, actual) -> dict:
    """Open-loop lateness: how long after its due time each send started."""
    late = np.maximum(np.asarray(actual, float) - np.asarray(scheduled, float), 0.0)
    if late.size == 0:
        return {"n": 0, "p50_ms": 0.0, "p99_ms": 0.0, "max_ms": 0.0}
    return {
        "n": int(late.size),
        "p50_ms": float(np.percentile(late, 50) * 1e3),
        "p99_ms": float(np.percentile(late, 99) * 1e3),
        "max_ms": float(late.max() * 1e3),
    }


# --------------------------------------------------------------- tracing


class Tracer:
    """In-memory spans, written out when the run ends. A disabled tracer
    times nothing and records nothing."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._stack = threading.local()

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        stack = getattr(self._stack, "names", None)
        if stack is None:
            stack = self._stack.names = []
        parent = stack[-1] if stack else None
        stack.append(name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            stack.pop()
            with self._lock:
                self.spans.append(
                    {"name": name, "start": t0, "end": t1, "parent": parent, **attrs}
                )

    def wrap(self, name: str, fn):
        """``fn`` with every call recorded as a span named ``name``."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def durations_ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans}, fh)


# --------------------------------------------------------------- session


def prepare_environment(work: str) -> None:
    """Make the engine importable here and in Spark's Python workers, and
    keep every scratch file of the JVM and the workers under ``work``."""
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    prior = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = ROOT + (os.pathsep + prior if prior else "")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "3g")
    # JVM scratch files too; no per-process perf-data file under /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"


def start_session(work: str, cores: int, event_log: bool, app: str):
    """Time ``session.get_session`` and force the first job, so JVM start
    and the first job's class loading both count as session start."""
    from kstreams_spark.session import get_session

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
    }
    if event_log:
        log_dir = os.path.join(work, "eventlog")
        os.makedirs(log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    t0 = time.perf_counter()
    spark = get_session(app_name=app, cores=cores, extra_conf=conf)
    spark.sparkContext.setLogLevel("ERROR")
    spark.range(1).count()
    return spark, time.perf_counter() - t0


def stop_jvm() -> None:
    """End the JVM the sessions ran in and wait for it to exit. The JVM
    ends itself when its stdin closes; this makes the exit happen before
    the benchmark does."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = gateway.proc
    gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)


# ------------------------------------------------------------- event log


def read_event_log(work: str) -> list[dict]:
    """Per-job rows from the Spark event log of this run (call after
    ``spark.stop()`` so the log is flushed): the job's ``perfbench.span``
    local property, its stage count, task count, shuffle bytes written
    and JVM GC time."""
    log_dir = os.path.join(work, "eventlog")
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for name in sorted(os.listdir(log_dir)) if os.path.isdir(log_dir) else []:
        with open(os.path.join(log_dir, name)) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    props = ev.get("Properties") or {}
                    jobs[jid] = {
                        "span": props.get("perfbench.span"),
                        "stages": 0,
                        "tasks": 0,
                        "shuffle_bytes": 0,
                        "gc_ms": 0,
                    }
                    for sid in ev.get("Stage IDs", []):
                        stage_job[sid] = jid
                elif kind == "SparkListenerStageCompleted":
                    jid = stage_job.get(ev["Stage Info"]["Stage ID"])
                    if jid in jobs:
                        jobs[jid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    jid = stage_job.get(ev["Stage ID"])
                    if jid not in jobs:
                        continue
                    m = ev.get("Task Metrics") or {}
                    jobs[jid]["tasks"] += 1
                    jobs[jid]["gc_ms"] += m.get("JVM GC Time", 0)
                    sw = m.get("Shuffle Write Metrics") or {}
                    jobs[jid]["shuffle_bytes"] += sw.get("Shuffle Bytes Written", 0)
    return list(jobs.values())


def by_span(jobs: list[dict]) -> dict[str, dict]:
    """Event-log job rows summed per ``perfbench.span`` label."""
    out: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "stages": 0, "tasks": 0, "shuffle_bytes": 0, "gc_ms": 0}
    )
    for j in jobs:
        if j["span"] is None:
            continue
        agg = out[j["span"]]
        agg["jobs"] += 1
        for k in ("stages", "tasks", "shuffle_bytes", "gc_ms"):
            agg[k] += j[k]
    return dict(out)


@contextlib.contextmanager
def job_label(spark, label: str):
    """Tag every Spark job started by this thread inside the block, so the
    event log can attribute it."""
    sc = spark.sparkContext
    sc.setLocalProperty("perfbench.span", label)
    try:
        yield
    finally:
        sc.setLocalProperty("perfbench.span", None)


# ----------------------------------------------------- streaming progress


def progress_listener(sink: list):
    """A StreamingQueryListener that appends every progress event's
    batch id, input rows and phase durations to ``sink``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class _Listener(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            sink.append(
                {
                    "batch": p.batchId,
                    "rows": p.numInputRows,
                    "durations": dict(p.durationMs),
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return _Listener()


# ------------------------------------------------------------ reporting


def metric(value: float, unit: str) -> dict:
    return {"value": float(value), "unit": unit}


def emit(result: dict, details: dict) -> None:
    """Print every metric by name and unit, the details line, and, last,
    the one-line JSON result."""
    for name, m in sorted(result["metrics"].items()):
        print(f"{name:40s} {m['value']:14.4f} {m['unit']}")
    print("details " + json.dumps(details, sort_keys=True, default=str))
    print(json.dumps(result, sort_keys=True))
