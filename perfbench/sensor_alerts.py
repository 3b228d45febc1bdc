"""``sensor_alerts``: the reference topology as an open-loop stream.

A generator process renames pre-rendered JSON-lines files into a watched
directory every 100 ms. ``ReferenceTopology`` reads them through
``sources.streams.sensor_stream_from_files``, publishes the alerts through
``MqttAlertSink`` and the wire client to an ``InProcessBroker`` (in a
process of its own, like a real broker), and forwards every record as
parquet. Two fixed-rate phases are timed per record, from its file's due
time to the end of the micro-batch that forwarded it and published its
alerts; then a burst dropped at once is timed until it drains."""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time
from collections import Counter
from functools import partial

import numpy as np

from perfbench import common, datagen
from perfbench.broker import BrokerProcess

TICK_S = 0.1
# untimed warm-up: WARM_DROPS drops, each consumed before the next. The
# per-batch cost falls by a third over the first ~15 micro-batches while
# the JIT compiles the per-batch path; counting batches rather than
# seconds warms a slow host as far as a fast one
WARMUP = ("warmup", 10_000, 7.0)
WARM_DROPS = 14
# untimed lead-in of the schedule, so the timed phases start in step
SETTLE = ("settle", 10_000, 1.0)
# (phase name, records per second, share of --seconds)
# The loaded phase runs at 20k rec/s: at 40k the pipeline sits close
# enough to saturation that a few per cent of host CPU steal raised its
# median latency by half, against a quarter at 20k
PHASES = (("r10k", 10_000, 0.6), ("r20k", 20_000, 1.0))
# the stream runs on two cores: its per-batch cost is driver-bound and no
# lower on four, and the broker, the generator and the Python workers
# then have cores of their own instead of preempting the micro-batches
CORES = 2
# after the fixed-rate phases: 320k records in 10 files dropped at once;
# their drain rate is the catch-up throughput (two drops in a run agreed
# within a few per cent, so one is enough)
BURST = ("burst", 320_000, 1.0)
LATE_LIMIT_MS = 50.0
DRAIN_TIMEOUT_S = 90.0
# files are drawn from POOL rendered chunks of CHUNK records each
CHUNK = 1_000
POOL = 40


# ------------------------------------------------------------- inputs


def render(staging: str, watch: str, seed: int, phases) -> dict:
    """Pre-render every file of ``phases`` into ``staging``. Each file is
    a seeded draw of ``CHUNK``-record chunks from a pool of ``POOL``
    rendered ones, so set-up does not format every record in Python.
    Returns the plan (file, target, due offset, phase, rows) and the
    expected alert payload multiset."""
    rng = np.random.default_rng(seed)
    os.makedirs(staging, exist_ok=True)
    os.makedirs(watch, exist_ok=True)
    pool = []
    for i in range(POOL):
        lines, expected = datagen.sensor_lines(rng, CHUNK, i * CHUNK)
        pool.append(("".join(lines), Counter(expected)))
    files, alerts, seq, offset = [], Counter(), 0, 0.0
    for name, rate, seconds in phases:
        per_file = int(rate * TICK_S)
        assert per_file % CHUNK == 0, (name, rate)
        for _ in range(int(round(seconds / TICK_S))):
            picks = rng.integers(0, POOL, per_file // CHUNK)
            fname = f"part-{len(files):06d}.json"
            staged = os.path.join(staging, fname)
            with open(staged, "w") as fh:
                fh.write("".join(pool[k][0] for k in picks))
            files.append(
                {
                    "staged": staged,
                    "target": os.path.join(watch, fname),
                    "offset": offset,
                    "phase": name,
                    "rows": per_file,
                }
            )
            for k in picks:
                alerts.update(pool[k][1])
            seq += per_file
            offset += TICK_S
    return {"files": files, "alerts": alerts, "rows": seq}


# ---------------------------------------------------------- bookkeeping


def files_to_batches(checkpoint: str) -> dict[str, int]:
    """File name → micro-batch id, from the file source's metadata log in
    the query checkpoint (``sources/0/<batch>`` and its ``.compact``
    files: a version line, then one JSON entry per file)."""
    out: dict[str, int] = {}
    for path in glob.glob(os.path.join(checkpoint, "sources", "0", "*")):
        if os.path.basename(path).startswith("."):
            continue
        with open(path) as fh:
            for line in fh:
                line = line.strip()
                if not line.startswith("{"):
                    continue
                entry = json.loads(line)
                out[os.path.basename(entry["path"])] = int(entry["batchId"])
    return out


def backlog_series(arrivals, batch_files, batch_ends) -> list[tuple[float, int]]:
    """Backlog in files at each batch end: files renamed in by then minus
    files of batches finished by then. ``batch_files`` maps batch id to
    its file count, ``batch_ends`` batch id to its end time."""
    arrivals = np.sort(np.asarray(arrivals, dtype=float))
    done = sorted((batch_ends[b], batch_files.get(b, 0)) for b in batch_ends)
    out, consumed = [], 0
    for t, n in done:
        consumed += n
        out.append((t, int(np.searchsorted(arrivals, t, side="right")) - consumed))
    return out


# ---------------------------------------------------------------- run


class BatchRecorder:
    """Stands in for the topology's foreachBatch body: runs it, and notes
    when each micro-batch ended."""

    def __init__(self, body, tracer: common.Tracer) -> None:
        self.body = body
        self.tracer = tracer
        self.ends: dict[int, float] = {}

    def __call__(self, batch_df, epoch_id: int) -> None:
        with self.tracer.span("topology.batch", batch=epoch_id):
            self.body(batch_df, epoch_id)
        self.ends[int(epoch_id)] = time.time()


def _stream(spark, work: str, tag: str, phases, seed: int, tracer: common.Tracer) -> dict:
    """Run one generator schedule through a fresh topology and broker, wait
    for every record and alert to land, and return the raw observations."""
    from kstreams_spark.sinks.mqtt import MqttAlertSink
    from kstreams_spark.sources.streams import sensor_stream_from_files
    from kstreams_spark.streaming import topology as topo_mod

    base = os.path.join(work, tag)
    watch, staging, fwd = (os.path.join(base, d) for d in ("in", "staging", "out"))
    t_render = time.perf_counter()
    plan = render(staging, watch, seed, phases)
    render_s = time.perf_counter() - t_render

    broker = BrokerProcess(common.ROOT)
    progress: list[dict] = []
    listener = None
    if tracer.enabled:
        listener = common.progress_listener(progress)
        spark.streams.addListener(listener)

    def forward(df) -> None:
        df.write.mode("append").parquet(fwd)

    topo = topo_mod.ReferenceTopology(
        forward_sink=tracer.wrap("sinks.forward", forward),
        alert_sink_factory=partial(MqttAlertSink, broker_url=f"tcp://127.0.0.1:{broker.port}"),
    )
    recorder = BatchRecorder(topo.process_batch, tracer)
    topo.process_batch = recorder
    publish = topo_mod.publish_partitions
    if tracer.enabled:
        topo_mod.publish_partitions = tracer.wrap("sinks.publish", publish)
    ckpt_root = os.path.join(base, "checkpoint")
    spark.conf.set("spark.sql.streaming.checkpointLocation", ckpt_root)
    warm = [f for f in plan["files"] if f["phase"] == WARMUP[0]]
    burst = [f for f in plan["files"] if f["phase"] == BURST[0]]
    timed = [f for f in plan["files"] if f["phase"] not in (WARMUP[0], BURST[0])]
    for f in timed[::-1]:  # due offsets count from the first timed file
        f["offset"] -= timed[0]["offset"]
    t_start = time.perf_counter()
    query = topo.start(sensor_stream_from_files(spark, watch))
    gen = None
    try:
        checkpoint = _checkpoint_dir(ckpt_root)
        per_drop = max(len(warm) // WARM_DROPS, 1)
        for i in range(0, len(warm), per_drop):
            drop = warm[i : i + per_drop]
            for f in drop:
                os.replace(f["staged"], f["target"])
            _wait_consumed(drop, checkpoint, recorder, query)
        warm_s = time.perf_counter() - t_start

        plan_path = os.path.join(base, "plan.json")
        report_path = os.path.join(base, "generator.json")
        t0 = time.time() + 0.3
        with open(plan_path, "w") as fh:
            json.dump({"files": [[f["staged"], f["target"], t0 + f["offset"]] for f in timed]}, fh)
        gen = subprocess.Popen(
            [sys.executable, "-m", "perfbench.generator", plan_path, report_path],
            cwd=common.ROOT,
        )
        gen.wait(timeout=timed[-1]["offset"] + 30)
        mapping = _wait_consumed(timed, checkpoint, recorder, query)
        drain_rps = None
        if burst:
            t_drop = time.time()
            for f in burst:
                os.replace(f["staged"], f["target"])
            done = _wait_consumed(burst, checkpoint, recorder, query)
            last = max(done[os.path.basename(f["target"])] for f in burst)
            drain_rps = sum(f["rows"] for f in burst) / (recorder.ends[last] - t_drop)
        _wait_quiet(broker, sum(plan["alerts"].values()))
        received = broker.dump(os.path.join(base, "broker.json"))
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        query.stop()
        topo_mod.publish_partitions = publish
        if listener is not None:
            spark.streams.removeListener(listener)
        broker.close()
    if gen.returncode != 0:
        raise RuntimeError(f"generator exited with {gen.returncode}")
    with open(report_path) as fh:
        actual = json.load(fh)["actual"]
    forwarded = spark.read.parquet(fwd).count() if os.path.isdir(fwd) else 0
    return {
        "files": timed,
        "alerts": plan["alerts"],
        "t0": t0,
        "actual": actual,
        "mapping": mapping,
        "ends": dict(recorder.ends),
        "published": received["payloads"],
        "forwarded": forwarded,
        "rows": plan["rows"],
        "drain_rps": drain_rps,
        "progress": progress,
        "connects": received["connects"],
        "render_s": render_s,
        "warm_s": warm_s,
    }


def _checkpoint_dir(root: str) -> str:
    """The one query checkpoint Spark creates under ``root``."""
    for _ in range(200):
        subdirs = glob.glob(os.path.join(root, "*", "sources"))
        if subdirs:
            return os.path.dirname(subdirs[0])
        time.sleep(0.05)
    raise RuntimeError(f"no query checkpoint under {root}")


def _wait_consumed(files, checkpoint, recorder, query) -> dict[str, int]:
    """Block until the batches holding ``files`` have all finished."""
    names = {os.path.basename(f["target"]) for f in files}
    deadline = time.time() + DRAIN_TIMEOUT_S
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"stream failed: {query.exception()}")
        mapping = files_to_batches(checkpoint)
        if names <= mapping.keys() and max(mapping[n] for n in names) in recorder.ends:
            return mapping
        time.sleep(0.05)
    raise RuntimeError("stream did not consume every file in time")


def _wait_quiet(broker, expected: int) -> None:
    """Wait until the broker has stopped receiving publishes (its handler
    threads drain the sockets after the tasks return)."""
    last, still = -1, 0
    deadline = time.time() + 20
    while time.time() < deadline and still < 3:
        time.sleep(0.1)
        n = broker.count()
        still = still + 1 if n == last and n >= expected else 0
        last = n


def _phase_stats(obs: dict, names) -> dict[str, dict]:
    """Per phase: record latencies, generator lateness and backlog slope."""
    files = obs["files"]
    t0, ends, mapping = obs["t0"], obs["ends"], obs["mapping"]
    batch_files = Counter(mapping[os.path.basename(f["target"])] for f in files)
    backlog = backlog_series(obs["actual"], batch_files, ends)
    out = {}
    for name in names:
        idx = [i for i, f in enumerate(files) if f["phase"] == name]
        if not idx:
            continue
        due = np.array([t0 + files[i]["offset"] for i in idx])
        lat_ms = np.array(
            [ends[mapping[os.path.basename(files[i]["target"])]] for i in idx]
        ) - due
        lat_ms = np.repeat(lat_ms * 1e3, [files[i]["rows"] for i in idx])
        lo, hi = due.min(), due.max() + TICK_S
        in_phase = [(t, b) for t, b in backlog if lo <= t <= hi + 1.0]
        batches = {mapping[os.path.basename(files[i]["target"])] for i in idx}
        out[name] = {
            "rate": int(files[idx[0]]["rows"] / TICK_S),
            "n": int(lat_ms.size),
            "p50_ms": common.percentile(lat_ms, 50),
            "p99_ms": common.percentile(lat_ms, 99),
            "tail_p": common.tail_percentile(int(lat_ms.size), 99.0),
            "late": common.late_stats(due, [obs["actual"][i] for i in idx]),
            "backlog_slope": common.slope(*zip(*in_phase)) if len(in_phase) > 1 else 0.0,
            "backlog_max": max((b for _, b in in_phase), default=0),
            "batches": sorted(batches),
        }
    return out


def _delivery(obs: dict) -> tuple[int, int, dict]:
    """Exact delivery: forwarded rows equal generated rows and the alert
    payload multiset equals the generator's. Returns (attempted, failed,
    detail); each missing or extra record or alert is one failure."""
    expected = obs["alerts"]
    got = Counter(obs["published"])
    missing = sum((expected - got).values())
    extra = sum((got - expected).values())
    rows = obs["rows"]
    row_gap = abs(rows - obs["forwarded"])
    attempted = rows + sum(expected.values())
    detail = {
        "rows_generated": rows,
        "rows_forwarded": obs["forwarded"],
        "alerts_expected": sum(expected.values()),
        "alerts_published": sum(got.values()),
        "alerts_missing": missing,
        "alerts_extra": extra,
    }
    return attempted, row_gap + missing + extra, detail


def run(args, tracer: common.Tracer, work: str) -> tuple[dict, dict, int, int]:
    cores = min(CORES, os.cpu_count() or 1)
    phases = [WARMUP, SETTLE] + [(n, r, share * args.seconds) for n, r, share in PHASES] + [BURST]
    spark, session_s = common.start_session(work, cores, tracer.enabled, "perfbench_sensor")
    try:
        obs = _stream(spark, work, "main", phases, args.seed, tracer)
        stats = _phase_stats(obs, [p[0] for p in phases])
        baseline = None
        if tracer.enabled:
            spark.stop()
            spark, _ = common.start_session(work, 1, False, "perfbench_sensor_1core")
            base_phases = [WARMUP, SETTLE, ("r10k", 10_000, PHASES[0][2] * args.seconds)]
            baseline = _stream(spark, work, "local1", base_phases, args.seed + 1, common.Tracer(False))
            base_stats = _phase_stats(baseline, ["r10k"])
    finally:
        spark.stop()

    attempted, failed, delivery = _delivery(obs)
    if baseline is not None:
        a, f, _ = _delivery(baseline)
        attempted, failed = attempted + a, failed + f
    # a phase whose generator ran late did not get the load it names:
    # its records count as failed rather than as fast
    invalid = [n for n, s in stats.items() if s["late"]["p99_ms"] > LATE_LIMIT_MS]
    failed += sum(stats[n]["n"] for n in invalid)

    setup_s = session_s + obs["render_s"] + obs["warm_s"]
    m = common.metric
    if not tracer.enabled:
        metrics = {
            "setup_s": m(setup_s, "s"),
            "latency_p50_ms": m(stats["r10k"]["p50_ms"], "ms"),
            "loaded_p50_ms": m(stats["r20k"]["p50_ms"], "ms"),
            "throughput_per_s": m(obs["drain_rps"], "1/s"),
        }
    else:
        metrics = _layer_metrics(obs, stats, base_stats, session_s, tracer)
    details = {
        "workload": "sensor_alerts",
        "phases": stats,
        "delivery": delivery,
        "invalid_phases": invalid,
        "cores": cores,
        "session_s": session_s,
        "render_s": obs["render_s"],
        "warm_s": obs["warm_s"],
        "drain_rps": obs["drain_rps"],
    }
    return metrics, details, attempted, failed


def _layer_metrics(obs, stats, base_stats, session_s, tracer) -> dict:
    m = common.metric
    prog = [p for p in obs["progress"] if p["rows"] > 0]
    d = lambda k: [p["durations"].get(k, 0) for p in prog]  # noqa: E731
    batch_ms = d("addBatch")
    n_batches = max(len(obs["ends"]), 1)
    tracer_batches = len(prog) or 1
    expected_alerts = sum(obs["alerts"].values())
    out = {
        "session.start_s": m(session_s, "s"),
        "sources.offset_ms": m(np.median(np.add(d("latestOffset"), d("getBatch"))), "ms"),
        "sources.rows_per_batch": m(np.median([p["rows"] for p in prog]), "count"),
        "topology.batch_ms.p50": m(common.percentile(batch_ms, 50), "ms"),
        "topology.batch_ms.p95": m(common.percentile(batch_ms, 95), "ms"),
        "topology.plan_ms": m(np.median(d("queryPlanning")), "ms"),
        "topology.wal_ms": m(np.median(np.add(d("walCommit"), d("commitOffsets"))), "ms"),
        "topology.batches": m(tracer_batches, "count"),
        "sensor.alerts_per_record": m(expected_alerts / obs["rows"], "ratio"),
        "sinks.mqtt_connects_per_batch": m(obs["connects"] / n_batches, "count"),
        "gen.late_ms.p99": m(max(s["late"]["p99_ms"] for s in stats.values()), "ms"),
        "baseline_1core.latency_p50_ms": m(base_stats["r10k"]["p50_ms"], "ms"),
        "traced.latency_p50_ms": m(stats["r10k"]["p50_ms"], "ms"),
        "traced.loaded_p50_ms": m(stats["r20k"]["p50_ms"], "ms"),
    }
    for name in ("sinks.publish", "sinks.forward"):
        out[f"{name}_ms"] = m(np.median(tracer.durations_ms(name) or [0.0]), "ms")
    for name, _, _ in PHASES:
        out[f"sources.backlog_files_slope.{name}"] = m(stats[name]["backlog_slope"], "files/s")
    return out
