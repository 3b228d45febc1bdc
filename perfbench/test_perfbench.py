"""Self-tests of the benchmark's own bookkeeping (no Spark needed):

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
import time

import numpy as np
import pytest

from perfbench import common, curation_serving, datagen, generator, sensor_alerts

ROOT = common.ROOT


# ---------------------------------------------------- tail percentiles


@pytest.mark.parametrize(
    "n,want",
    [(100_000, 99.9), (10_000, 99.9), (9_999, 99.0), (1_000, 99.0), (200, 95.0),
     (100, 90.0), (99, 75.0), (40, 75.0), (39, 50.0), (20, 50.0), (5, 50.0)],
)
def test_tail_percentile_keeps_ten_samples_beyond(n, want):
    assert common.tail_percentile(n) == want


def test_tail_percentile_is_capped_by_the_wanted_percentile():
    assert common.tail_percentile(10**6, 90.0) == 90.0
    assert common.tail_percentile(10**6, 99.0) == 99.0


# ---------------------------------------------- open-loop lateness


def test_late_stats_counts_only_lateness():
    due = [0.0, 1.0, 2.0, 3.0]
    actual = [0.0, 0.9, 2.5, 3.001]  # early sends count as on time
    s = common.late_stats(due, actual)
    assert s["n"] == 4
    assert s["max_ms"] == pytest.approx(500.0)
    assert s["p50_ms"] == pytest.approx(0.5, abs=1e-6)


class _SlowProber:
    """Stands in for the serving prober: each probe takes ``service_s``."""

    def __init__(self, service_s: float) -> None:
        self.service_s = service_s

    @staticmethod
    def kind(i: int) -> str:
        return "lex"

    def __call__(self, i: int, phase: str) -> int:
        time.sleep(self.service_s)
        return 1


def test_open_loop_latency_counts_from_due_time_under_backlog():
    # 20 probes/s offered, 2 slots of 0.2 s each serve 10/s: the queue grows,
    # and latency measured from the due time must grow with it
    sent = []
    t0 = time.time()
    res = curation_serving.open_loop(
        _SlowProber(0.2), 0, "t", 20.0, lambda: len(sent.append(1) or sent) > 12
    )
    assert len(res) == 12
    lat = [r["latency_ms"] for r in sorted(res, key=lambda r: r["due"])]
    assert min(lat) >= 200.0 - 5
    assert lat[-1] > lat[0] + 200.0
    # the schedule itself never waits on the system: sends are on time
    assert common.late_stats([r["due"] for r in res], [r["sent"] for r in res])["p99_ms"] < 50
    assert res[0]["due"] >= t0 - 1e-3


def test_generator_renames_on_schedule_and_stamps_due_time(tmp_path):
    staged, watch = tmp_path / "staging", tmp_path / "in"
    staged.mkdir()
    watch.mkdir()
    t0 = time.time() + 0.05
    files = []
    for i in range(3):
        p = staged / f"f{i}.json"
        p.write_text("{}\n")
        files.append([str(p), str(watch / p.name), t0 + 0.05 * i])
    actual = generator.run({"files": files})
    for (_, target, due), at in zip(files, actual):
        assert os.path.exists(target)
        assert os.path.getmtime(target) == pytest.approx(due, abs=1e-3)
        assert at >= due - 1e-3
    assert not list(staged.iterdir())


def test_broker_process_counts_and_dumps_publishes(tmp_path):
    from kstreams_spark.sinks.mqtt import MqttAlertSink

    from perfbench.broker import BrokerProcess

    broker = BrokerProcess(ROOT)
    try:
        sink = MqttAlertSink(broker_url=f"tcp://127.0.0.1:{broker.port}")
        assert sink.publish_all(["a", "b", "a"]) == 3
        sink.close()
        deadline = time.time() + 10
        while broker.count() < 3 and time.time() < deadline:
            time.sleep(0.05)
        got = broker.dump(str(tmp_path / "dump.json"))
    finally:
        broker.close()
    assert sorted(got["payloads"]) == ["a", "a", "b"]
    assert got["connects"] == 1
    assert broker.proc.returncode == 0


# ------------------------------------------- files → micro-batches


def _write_log(path, batch, names):
    with open(path, "w") as fh:
        fh.write("v1\n")
        for n in names:
            fh.write(json.dumps({"path": f"file:///w/in/{n}", "timestamp": 1, "batchId": batch}) + "\n")


def test_files_to_batches_reads_plain_and_compacted_logs(tmp_path):
    src = tmp_path / "sources" / "0"
    src.mkdir(parents=True)
    # a compaction rewrites earlier entries with their own batch ids
    with open(src / "9.compact", "w") as fh:
        fh.write("v1\n")
        for b, n in [(0, "a.json"), (3, "b.json"), (9, "c.json")]:
            fh.write(json.dumps({"path": f"file:///w/in/{n}", "timestamp": 1, "batchId": b}) + "\n")
    _write_log(src / "10", 10, ["d.json", "e.json"])
    (src / ".10.crc").write_text("crc")
    assert sensor_alerts.files_to_batches(str(tmp_path)) == {
        "a.json": 0, "b.json": 3, "c.json": 9, "d.json": 10, "e.json": 10,
    }


# ------------------------------------------------------ backlog slope


def test_backlog_series_and_slope():
    # one file every 0.1 s; batches that each take 1 s consume what arrived
    arrivals = np.arange(0, 5, 0.1)
    ends = {0: 1.0, 1: 2.0, 2: 3.0, 3: 4.0}
    files = {0: 5, 1: 5, 2: 5, 3: 5}  # consumer takes 5 per second: falls behind
    series = sensor_alerts.backlog_series(arrivals, files, ends)
    assert [b for _, b in series] == [6, 11, 16, 21]
    assert common.slope(*zip(*series)) == pytest.approx(5.0)
    keeping_up = sensor_alerts.backlog_series(arrivals, {b: 10 for b in ends}, ends)
    assert common.slope(*zip(*keeping_up)) == pytest.approx(0.0, abs=1e-9)


def test_slope_needs_two_distinct_times():
    assert common.slope([1.0], [3.0]) == 0.0
    assert common.slope([1.0, 1.0], [3.0, 5.0]) == 0.0


# --------------------------------------------------------- inputs


def test_sensor_lines_are_seeded_and_alerts_follow_the_reference_rule():
    a = datagen.sensor_lines(np.random.default_rng(5), 2000, 0)
    b = datagen.sensor_lines(np.random.default_rng(5), 2000, 0)
    assert a == b
    lines, alerts = a
    expected = []
    kinds = set()
    for line in lines:
        value = json.loads(line)["value"]
        if value is None:
            kinds.add("null")
            continue
        if "{" in value:
            kinds.add("json")
            reading = float(json.loads(value)["bme680_tempf"])
        else:
            try:
                reading = float(value.strip())
                kinds.add("scalar")
            except ValueError:
                kinds.add("garbage")
                continue
        if reading > datagen.ALERT_LIMIT:
            expected.append(datagen.ALERT_FORMAT % reading)
    assert kinds == {"json", "scalar", "garbage", "null"}
    assert sorted(alerts) == sorted(expected)
    assert 0 < len(alerts) < len(lines)


def test_write_tables_is_seeded(tmp_path):
    import pyarrow.parquet as pq

    for d in ("a", "b"):
        datagen.write_tables(str(tmp_path / d), 3, 50, 50, 100)
    for name in datagen.TABLES:
        ta = pq.read_table(tmp_path / "a" / f"{name}.parquet")
        tb = pq.read_table(tmp_path / "b" / f"{name}.parquet")
        assert ta.equals(tb)


# ------------------------------------------------------ the contract


def test_benchmark_json_lists_exactly_the_reported_metrics():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == common.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == common.LAYER_METRICS
    from perfbench import run

    assert tuple(w["name"] for w in spec["workloads"]) == run.WORKLOADS


def test_run_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path / "BENCHMARK.json")
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "sensor_alerts",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
        env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"},
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
