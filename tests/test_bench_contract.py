"""The bench output contract the grading driver depends on
(VERDICT r7 task 1): the LAST stdout line is a compact JSON summary that
fits any tail-capture window regardless of how many headline queries
accumulate; the per-query map lives on its own earlier line and in
BENCH_DETAIL.json. (BENCH_r07 parsed as null because the single line
outgrew the window — this pins the fix.)"""

from __future__ import annotations

import json

import bench


def test_summary_line_is_bounded_and_parseable():
    # worst-case realistic future: 500 headline queries
    times = {f"query_with_a_rather_long_name_{i:03d}": 123.456 for i in range(500)}
    probes = {
        "probe_postings_index": 0.418,
        "probe_ivf_sq8_index": 0.704,
        "probe_ivf_pq_index": 0.353,
    }
    passes = {n: [t + 0.5, t] for n, t in times.items()}
    probe_passes = {k: [v + 0.1, v] for k, v in probes.items()}
    detail_line, summary_line = bench.format_output(
        times, probes, 0.1, passes=passes, probe_passes=probe_passes
    )

    assert len(summary_line.encode()) <= bench.SUMMARY_MAX_BYTES, len(
        summary_line
    )
    out = json.loads(summary_line)
    assert out["metric"] == "headline_queries_total_time"
    assert out["unit"] == "sec"
    assert out["n_queries"] == 500
    assert abs(out["value"] - 500 * 123.456) < 0.01
    assert set(out["probes"]) == set(probes)
    # no canary query in this synthetic map -> ratio is null, key present
    assert "canary_ratio" in out and out["canary_ratio"] is None
    # the spread lives ONLY in the detail sidecar — the summary line must
    # not grow with it (VERDICT r9 task 1)
    assert "passes" not in out
    # r16 (VERDICT r15 task 2): a compact top-slowest `queries` mini-map
    # rides the summary line so PERF per_query stops coming back empty —
    # bounded by TOP_QUERIES_MAX and the byte cap, values verbatim
    assert 0 < len(out["queries"]) <= bench.TOP_QUERIES_MAX
    assert all(out["queries"][n] == times[n] for n in out["queries"])

    det = json.loads(detail_line)
    assert det["queries"] == times and det["probes"] == probes
    assert det["passes"] == passes and det["probe_passes"] == probe_passes


def test_summary_queries_map_is_slowest_first_and_bounded():
    """r16: the summary `queries` map must hold exactly the slowest
    queries (the driver compares these across rounds — a random subset
    would make n_common churn), stay under the byte cap with realistic
    names, and never grow past TOP_QUERIES_MAX."""
    times = {f"q{i:03d}": float(i) for i in range(100)}
    _, summary_line = bench.format_output(times, {}, 0.1)
    out = json.loads(summary_line)
    top = out["queries"]
    assert len(top) == bench.TOP_QUERIES_MAX
    floor = min(top.values())
    assert all(t <= floor for n, t in times.items() if n not in top)
    assert len(summary_line.encode()) <= bench.SUMMARY_MAX_BYTES
    # realistic current headline names still fit alongside probes
    real = {n: 12.345 for n in bench.HEADLINE}
    probes = {
        "probe_postings_index": 0.418,
        "probe_ivf_sq8_index": 0.704,
        "probe_ivf_pq_index": 0.353,
        "probe_vector_mmr": 1.725,
    }
    _, line = bench.format_output(real, probes, 0.1)
    assert len(line.encode()) <= bench.SUMMARY_MAX_BYTES
    assert len(json.loads(line)["queries"]) > 0


def test_passes_optional_for_backcompat():
    """format_output without passes (older callers / partial re-runs)
    still emits the keys, empty — BENCH_DETAIL readers can rely on their
    presence."""
    _, summary = bench.format_output({"q": 1.0}, {}, 0.1)
    det_line, _ = bench.format_output({"q": 1.0}, {}, 0.1)
    det = json.loads(det_line)
    assert det["passes"] == {} and det["probe_passes"] == {}
    assert json.loads(summary)["n_queries"] == 1


def test_canary_ratio_normalizes_machine_state():
    """VERDICT r8 task 1: the summary carries canary_ratio = (this run's
    total over the 5 pinned trivial queries) / CANARY_REF_TOTAL_S, so a
    reader can divide any cross-round delta by the machine-state factor."""
    times = {c: 1.0 for c in bench.CANARY}
    times["composite_curation_pipeline"] = 9.0
    _, summary_line = bench.format_output(times, {}, 0.1)
    out = json.loads(summary_line)
    want = round(len(bench.CANARY) * 1.0 / bench.CANARY_REF_TOTAL_S, 3)
    assert out["canary_ratio"] == want

    # canaries must stay registered headline queries (a renamed canary
    # silently degrades the ratio to a partial sum)
    assert set(bench.CANARY) <= set(bench.HEADLINE)


def test_fit_exponent_recovers_power_laws():
    """VERDICT r11 task 5: the scale-probe exponent is the least-squares
    slope of log-time on log-scale — exact on perfect power laws."""
    assert bench.fit_exponent([(1, 2.0), (3, 6.0), (10, 20.0)]) == 1.0
    assert bench.fit_exponent([(1, 1.0), (4, 16.0)]) == 2.0
    assert bench.fit_exponent([(1, 5.0), (3, 5.0), (10, 5.0)]) == 0.0
    # superlinear shows up ABOVE 1 (n log n fits ~1.5 over 1..10 because
    # the log grows fast off the tiny base; quadratic fits exactly 2)
    import math

    nlogn = bench.fit_exponent(
        [(s, s * math.log(s + 1)) for s in (1, 3, 10)]
    )
    assert 1.0 < nlogn < 2.0


def test_scale_probe_families_are_registered_and_summary_bounded():
    from kstreams_spark import registry

    registry.load_all()
    for fam, qname in bench.SCALE_PROBE_FAMILIES.items():
        assert qname in registry.QUERIES, (fam, qname)
    # the probe's own LAST line stays inside the driver tail window
    summary = json.dumps(
        {
            "metric": "scale_probe",
            "unit": "exponent",
            "sf": 0.1,
            "exponents": {f: 1.234 for f in bench.SCALE_PROBE_FAMILIES},
            "detail": "BENCH_DETAIL.json",
        }
    )
    assert len(summary.encode()) <= bench.SUMMARY_MAX_BYTES


def test_scale_probe_carried_forward_in_detail():
    """A normal bench run must not erase a prior probe's scale_probe map
    (format_output merges it into the detail sidecar)."""
    sp = {"neardup_chain": {"exponent": 1.02}}
    detail_line, summary_line = bench.format_output(
        {"q": 1.0}, {}, 0.1, scale_probe=sp
    )
    assert json.loads(detail_line)["scale_probe"] == sp
    assert "scale_probe" not in json.loads(summary_line)
    # and absent stays absent (no empty-key noise)
    detail_line, _ = bench.format_output({"q": 1.0}, {}, 0.1)
    assert "scale_probe" not in json.loads(detail_line)


def test_headline_names_are_registered():
    """Every headline entry must resolve — a typo'd name silently
    shrinks the bench (the filter drops unknowns)."""
    from kstreams_spark import registry

    registry.load_all()
    missing = [n for n in bench.HEADLINE if n not in registry.QUERIES]
    assert not missing, missing


def test_top_queries_skips_an_oversize_entry():
    """One long-named slowest query must not empty the summary map: it is
    skipped and the shorter-named queries behind it still fit."""
    times = {"q" * 900: 9.0, "q2": 2.0, "q3": 1.0}
    out = {"metric": 1}
    top = bench._top_queries_fit(times, out, 200)
    assert top == {"q2": 2.0, "q3": 1.0}
    assert out["queries"] == top
    assert len(json.dumps(out).encode()) <= 200
