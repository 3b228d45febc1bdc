"""Driver-resident probe snapshots of the hybrid index group: the lexical
and SQ8 legs of HybridIngestMaintainer answer from NumPy twins over the
index rows committed at the visible epoch (serving.load_*_snapshot). The
Spark probes at the same cap stay the reference: rows AND schema must
equal them in every index state a maintainer passes through, a probe
must start no Spark job, concurrent probes across an epoch advance must
each see one whole epoch, and above the driver cap the Spark probe
serves."""

from __future__ import annotations

import glob
import sys
import threading
import time

import numpy as np
import pyarrow.dataset as ds
import pytest
from pyspark.sql import functions as F

from kstreams_spark import serving
from kstreams_spark.io import load_table
from kstreams_spark.operators.quantize import sq8_params
from kstreams_spark.serving import (
    probe_ivf_sq8_index,
    probe_postings_index,
    upsert_postings_delta,
)
from kstreams_spark.streaming.hybrid import HybridIngestMaintainer

TERMS = [("spark", "window", "scan"), ("the",), ("zzabsent",), ("data", "data")]
STATES = [
    "fresh",
    "uncommitted_rows_above_visible",
    "upsert_with_replayed_duplicate_delta",
    "cdc_delete",
    "erase",
    "compact",
]


def _corpus(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    emb = load_table(spark, sf_dir, "embeddings").select(
        F.col("vec_id").alias("doc_id"), "embedding"
    )
    return docs.join(emb, "doc_id").filter(F.col("doc_id") < 240)


def _build(spark, root, corpus):
    base = corpus.filter(F.col("doc_id") % 3 != 2)
    emb = base.select(F.col("doc_id").alias("vec_id"), "embedding")
    cents = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    m = HybridIngestMaintainer(root)
    m.bootstrap(base, cents, params=sq8_params(emb))
    return m, cents


def _pairs(spark, m, cents, vecs):
    """(driver probe, Spark probe at the visible epoch) for every query."""
    e = m.visible_epoch()
    out = []
    for t in TERMS:
        out.append(
            (
                m.probe_lexical(spark, t, k=10),
                probe_postings_index(
                    spark, m.postings_dir, t, k=10, max_epoch=e
                ),
            )
        )
    for v in vecs:
        for n_probe in (1, 3):
            out.append(
                (
                    m.probe_vector(spark, v, k=10, n_probe=n_probe),
                    probe_ivf_sq8_index(
                        spark, m.sq8_dir, v, cents, k=10, n_probe=n_probe,
                        max_epoch=e,
                    ),
                )
            )
    return [
        (got.schema, got.collect(), want.schema, want.collect())
        for got, want in out
    ]


@pytest.fixture(scope="module")
def walk(spark, sf_dir, tmp_path_factory):
    """Drive one maintainer through every STATE; record the probe pairs
    and the visible epoch at each."""
    corpus = _corpus(spark, sf_dir).cache()
    m, cents = _build(
        spark, str(tmp_path_factory.mktemp("hy_snap") / "idx"), corpus
    )
    vecs = [
        [float(x) for x in r.embedding]
        for r in corpus.filter(F.col("doc_id") % 61 == 0).collect()
    ]
    seen = {}

    def record(state):
        seen[state] = (m.visible_epoch(), _pairs(spark, m, cents, vecs))

    record("fresh")
    revised = corpus.filter(F.col("doc_id") == 0).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" spark spark")).alias("text"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    delta = corpus.filter(F.col("doc_id") % 3 == 2).unionByName(revised)
    # a crashed batch: postings rows at epoch 1 on disk, no marker
    upsert_postings_delta(
        delta.select("doc_id", "text"), m.postings_dir, epoch=1
    )
    record("uncommitted_rows_above_visible")
    m.process_batch(delta, 0)  # the replay appends the same rows again
    record("upsert_with_replayed_duplicate_delta")
    doomed = corpus.filter(F.col("doc_id").isin(1, 4, 5)).select(
        "doc_id",
        F.lit(None).cast("string").alias("text"),
        F.lit(None).cast("array<double>").alias("embedding"),
        F.lit("delete").alias("op"),
    )
    m.process_batch(doomed, 1)
    record("cdc_delete")
    m.erase(spark.createDataFrame([(3,), (6,)], "doc_id bigint"))
    record("erase")
    m.compact(spark)
    record("compact")
    yield m, cents, vecs, corpus, seen
    corpus.unpersist()


@pytest.mark.parametrize("state", STATES)
def test_driver_probe_equals_spark_probe(walk, state):
    *_, seen = walk
    _, pairs = seen[state]
    for got_schema, got, want_schema, want in pairs:
        assert got_schema == want_schema
        assert got == want
    assert any(got for _, got, _, _ in pairs)  # not vacuously empty


def test_walk_reaches_the_expected_epochs(walk):
    *_, seen = walk
    assert [seen[s][0] for s in STATES] == [0, 0, 1, 2, 3, 3]


def test_probe_starts_no_spark_job(spark, walk):
    m, _, vecs, *_ = walk
    sc = spark.sparkContext
    m.probe_lexical(spark, TERMS[0], k=10).collect()  # snapshot loaded
    m.probe_vector(spark, vecs[0], k=10).collect()
    sc.setJobGroup("hy_snap_probe", "driver probes")
    try:
        m.probe_lexical(spark, TERMS[0], k=10).collect()
        m.probe_vector(spark, vecs[0], k=10, n_probe=3).collect()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("hy_snap_probe") == []


def test_concurrent_probes_across_an_epoch_advance(spark, walk):
    """Eight threads probe while the epoch advances; every answer must be
    the Spark answer at the old epoch or at the new one, never a mix."""
    m, cents, vecs, corpus, _ = walk
    terms = ("spark", "window", "scan")
    e0 = m.visible_epoch()

    def spark_rows(e):
        return (
            probe_postings_index(
                spark, m.postings_dir, terms, k=10, max_epoch=e
            ).collect(),
            probe_ivf_sq8_index(
                spark, m.sq8_dir, vecs[0], cents, k=10, n_probe=3, max_epoch=e
            ).collect(),
        )

    got, errors = [], []
    stop = threading.Event()

    def prober():
        try:
            while not stop.is_set():
                got.append(
                    (
                        m.probe_lexical(spark, terms, k=10).collect(),
                        m.probe_vector(spark, vecs[0], k=10, n_probe=3).collect(),
                    )
                )
        except Exception as exc:  # noqa: BLE001 - surfaced by the assert
            errors.append(exc)

    update = corpus.filter(F.col("doc_id").isin(9, 12)).select(
        "doc_id",
        F.concat(F.col("text"), F.lit(" spark window scan" * 6)).alias("text"),
        F.transform("embedding", lambda x: -x).alias("embedding"),
    )
    switch = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    threads = [threading.Thread(target=prober) for _ in range(8)]
    try:
        for t in threads:
            t.start()
        m.process_batch(update, 2)
        n_after, deadline = len(got), time.monotonic() + 60
        while len(got) < n_after + 8 and time.monotonic() < deadline:
            time.sleep(0.05)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(switch)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    e1 = m.visible_epoch()
    assert e1 == e0 + 1
    before, after = spark_rows(e0), spark_rows(e1)
    assert before[0] != after[0] and before[1] != after[1]
    # each leg reads the epoch on its own: check them one by one
    assert all(lex in (before[0], after[0]) for lex, _ in got)
    assert all(vec in (before[1], after[1]) for _, vec in got)
    assert got[-1] == after
    assert m._snaps["postings"][0] == e1 and m._snaps["sq8"][0] == e1


def test_above_the_driver_cap_the_spark_probe_serves(
    spark, walk, monkeypatch
):
    m, cents, vecs, *_ = walk
    monkeypatch.setattr(serving, "DRIVER_INDEX_MAX_BYTES", 10)
    capped = HybridIngestMaintainer(m.root)
    e = capped.visible_epoch()
    lex = capped.probe_lexical(spark, TERMS[0], k=10)
    vec = capped.probe_vector(spark, vecs[0], k=10, n_probe=3)
    assert capped._snaps["postings"] == (e, None)
    assert capped._snaps["sq8"] == (e, None)
    assert lex.collect() == m.probe_lexical(spark, TERMS[0], k=10).collect()
    assert (
        vec.collect()
        == m.probe_vector(spark, vecs[0], k=10, n_probe=3).collect()
    )


def test_an_older_cap_does_not_evict_the_visible_snapshot(spark, walk):
    """A probe capped below the visible epoch (one that read the epoch
    just before an advance, or an explicit older cap) is served from a
    one-off load; the visible epoch's snapshots stay held."""
    m, cents, vecs, *_ = walk
    e = m.visible_epoch()
    m.probe_lexical(spark, TERMS[0], k=10).collect()
    m.probe_vector(spark, vecs[0], k=10, n_probe=3).collect()
    held = dict(m._snaps)
    assert held["postings"][0] == e and held["sq8"][0] == e
    old_lex = m.probe_lexical(spark, TERMS[0], k=10, max_epoch=e - 1)
    old_vec = m.probe_vector(spark, vecs[0], k=10, n_probe=3, max_epoch=e - 1)
    assert all(m._snaps[n] is held[n] for n in held)
    assert old_lex.collect() == probe_postings_index(
        spark, m.postings_dir, TERMS[0], k=10, max_epoch=e - 1
    ).collect()
    assert old_vec.collect() == probe_ivf_sq8_index(
        spark, m.sq8_dir, vecs[0], cents, k=10, n_probe=3, max_epoch=e - 1
    ).collect()


def _rows(path, part):
    """Footer row count of the committed data files under `path`."""
    return ds.dataset(
        glob.glob(f"{path}/{part}=*/*.parquet"), format="parquet"
    ).count_rows()


def test_snapshots_hold_no_more_than_their_byte_budget(walk, monkeypatch):
    """The footer row count times a loader's per-row figure is what the
    budget checks, so that figure must cover what a loaded row holds:
    uint8 SQ8 codes plus vec_id/epoch/flag, and a posting's Arrow
    columns. A budget one byte short of the figure falls back."""
    m, *_ = walk
    e = m.visible_epoch()
    sq8 = serving.load_sq8_snapshot(m.sq8_dir, e)
    dim = len(sq8.params)
    n_cells = _rows(m.sq8_dir + "/cells", "cen_id")
    assert all(c[3].dtype == np.uint8 for c in sq8.cells.values())
    held = sum(a.nbytes for c in sq8.cells.values() for a in c)
    assert held <= n_cells * (dim + 24)
    post = serving.load_postings_snapshot(m.postings_dir, e)
    n_post = _rows(m.postings_dir, "part")
    held = sum(t.nbytes for t in post.buckets.values())
    assert held <= n_post * serving.POSTING_ROW_BYTES
    monkeypatch.setattr(serving, "DRIVER_INDEX_MAX_BYTES", n_cells * (dim + 24))
    assert serving.load_sq8_snapshot(m.sq8_dir, e) is not None
    monkeypatch.setattr(
        serving, "DRIVER_INDEX_MAX_BYTES", n_cells * (dim + 24) - 1
    )
    assert serving.load_sq8_snapshot(m.sq8_dir, e) is None
