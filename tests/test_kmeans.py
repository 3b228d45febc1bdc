"""k-means for IVF centroids: determinism (bitwise parity with a NumPy
twin replaying the same fixed-point arithmetic), monotone objective, and
planted-cluster recovery feeding ivf_topk."""

from __future__ import annotations

import math

import numpy as np

from kstreams_spark.operators.kmeans import (
    kmeans_fit,
    kmeans_inertia,
)
from kstreams_spark.operators.similarity import FX


def _planted(n_clusters=10, n_copies=8, seed=3):
    rng = np.random.default_rng(seed)
    rows = []
    for cluster in range(n_clusters):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        for copy in range(n_copies):
            noisy = base + rng.normal(scale=0.05, size=16)
            rows.append(
                (cluster + n_clusters * copy, [float(np.float32(x)) for x in noisy])
            )
    return rows


def _round_half_away(x: np.ndarray) -> np.ndarray:
    return np.where(x >= 0, np.floor(x + 0.5), np.ceil(x - 0.5))


def _numpy_twin(rows, k, iters):
    """Replays kmeans_fit exactly: f32→f64 values, per-term fixed-point
    rounding, exact int64 sums, max-dot assignment with low-id ties,
    mean + fsum-normalize on the driver."""
    ids = np.array([r[0] for r in rows])
    order = np.argsort(ids)
    vecs = np.array([r[1] for r in rows], dtype=np.float64)[order]

    def normalize(v):
        n = math.sqrt(math.fsum(float(x) * float(x) for x in v))
        return [float(x) / n for x in v] if n else list(v)

    cur = [normalize(vecs[i]) for i in range(k)]
    dim = vecs.shape[1]
    for _ in range(iters):
        cen = np.array(cur)
        # dot_fx[v, c] = Σ_d round_half_away(v_d * c_d * FX) — int64 exact
        terms = vecs[:, None, :] * cen[None, :, :] * float(FX)
        dots = _round_half_away(terms).astype(np.int64).sum(axis=2)
        # max dot, ties to the LOWEST cen_id
        best = np.argmax(dots, axis=1)  # argmax returns first max = low id
        sums = np.zeros((k, dim), dtype=np.int64)
        counts = np.zeros(k, dtype=np.int64)
        v_fx = _round_half_away(vecs * float(FX)).astype(np.int64)
        for i, c in enumerate(best):
            sums[c] += v_fx[i]
            counts[c] += 1
        nxt = []
        for c in range(k):
            if counts[c]:
                mean = [(int(s) / FX) / int(counts[c]) for s in sums[c]]
                nxt.append(normalize(mean))
            else:
                nxt.append(cur[c])
        cur = nxt
    return cur


def test_fit_matches_numpy_twin_bitwise(spark):
    rows = _planted()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = kmeans_fit(emb, k=10, iters=3)
    want = _numpy_twin(rows, k=10, iters=3)
    assert len(got) == len(want)
    for cid, (g, w) in enumerate(zip(got, want)):
        assert g == w, f"centroid {cid} differs: {g[:3]} vs {w[:3]}"


def test_objective_is_monotone_and_recovers_clusters(spark):
    rows = _planted()
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.cache()
    scores = [
        kmeans_inertia(emb, kmeans_fit(emb, k=10, iters=i)) for i in (0, 1, 3)
    ]
    assert scores[0] <= scores[1] <= scores[2] + 1e-9, scores
    # with k = n_clusters and interleaved init spanning all 10 clusters,
    # 3 iterations must land every centroid on a distinct cluster base:
    # each vector's dot to its own centroid ≈ 1 (unit vectors, small noise)
    final = scores[2] / len(rows)
    assert final >= 0.95, f"mean best-dot {final:.3f}"
    emb.unpersist()


def test_ivf_with_fitted_centroids_beats_seed_centroids(spark):
    """The payoff: planted clusters where the first-k 'k-means-lite' seeds
    collide (several seeds from the same cluster) — fitted centroids
    spread one cell per cluster and lift recall."""
    from kstreams_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(9)
    rows = []
    vec_id = 0
    # ids cluster-sorted on purpose: the first 20 vectors span only 2
    # clusters, so seed centroids collide badly — the degenerate-ingest
    # order (e.g. data written cluster-by-cluster) where fitted centroids
    # actually move the needle. With an already-spread init, Lloyd
    # preserves the seed structure and recall barely changes — that case
    # is covered by the objective test above, not this one.
    for cluster in range(20):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        for _ in range(10):
            noisy = base + rng.normal(scale=0.05, size=16)
            rows.append((vec_id, [float(x) for x in noisy]))
            vec_id += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.cache()

    exact_sets = {}
    for r in brute_force_topk(emb, n_queries=10).collect():
        exact_sets.setdefault(r.qid, set()).add(r.cid)

    def recall(result_rows):
        aps = {}
        for r in result_rows:
            aps.setdefault(r.qid, set()).add(r.cid)
        rs = [
            len(exact_sets[q] & aps.get(q, set())) / len(exact_sets[q])
            for q in exact_sets
        ]
        return sum(rs) / len(rs)

    seed = recall(ivf_topk(emb, n_queries=10, n_centroids=20).collect())
    cens = kmeans_fit(emb, k=20, iters=4)
    fitted = recall(ivf_topk(emb, n_queries=10, centroids=cens).collect())
    print(f"ivf recall: seed-centroids={seed:.2f} fitted={fitted:.2f}")
    assert fitted > seed, (seed, fitted)
    assert fitted >= 0.55, fitted
    emb.unpersist()


def test_farthest_point_init_cracks_adversarial_order(spark):
    """The case first-k seeding loses (cluster-sorted ingest: first 20
    vectors span 2 clusters → fitted recall ~0.58): Gonzalez seeding
    picks one seed per cluster regardless of ingest order, so the same
    Lloyd run lands near-perfect recall."""
    from kstreams_spark.operators.kmeans import farthest_point_init
    from kstreams_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(9)  # same corpus as the seed-vs-fitted test
    rows = []
    vec_id = 0
    for cluster in range(20):
        base = rng.normal(size=16)
        base /= np.linalg.norm(base)
        for _ in range(10):
            noisy = base + rng.normal(scale=0.05, size=16)
            rows.append((vec_id, [float(x) for x in noisy]))
            vec_id += 1
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.cache()

    exact_sets = {}
    for r in brute_force_topk(emb, n_queries=10).collect():
        exact_sets.setdefault(r.qid, set()).add(r.cid)

    def recall(result_rows):
        aps = {}
        for r in result_rows:
            aps.setdefault(r.qid, set()).add(r.cid)
        rs = [
            len(exact_sets[q] & aps.get(q, set())) / len(exact_sets[q])
            for q in exact_sets
        ]
        return sum(rs) / len(rs)

    seeds = farthest_point_init(emb, 20)
    # one seed per planted cluster: every seed's nearest true base differs
    cens = kmeans_fit(emb, k=20, iters=3, init="farthest")
    fitted = recall(ivf_topk(emb, n_queries=10, centroids=cens).collect())
    print(f"farthest-init ivf recall on cluster-sorted ingest: {fitted:.2f}")
    assert len(seeds) == 20
    assert fitted >= 0.9, fitted
    emb.unpersist()


def test_farthest_point_init_enforces_sample_contract(spark):
    """Gonzalez seeding runs k sequential corpus passes, so the
    'run it on a sample' guidance is API-enforced (VERDICT r4 #8, the
    small_alerts pattern): oversized inputs are refused unless the
    caller asserts sampled=True; the size probe is bounded, not a full
    count."""
    import pytest

    from kstreams_spark.operators.kmeans import farthest_point_init

    emb = spark.createDataFrame(
        [(i, [float(i), 1.0]) for i in range(30)],
        "vec_id long, embedding array<float>",
    )
    with pytest.raises(ValueError, match="sampled=True"):
        farthest_point_init(emb, 2, max_rows=10)
    seeds = farthest_point_init(emb, 2, sampled=True, max_rows=10)
    assert len(seeds) == 2
    assert len(farthest_point_init(emb, 2)) == 2  # under default cap


def test_lloyd_collect_is_capped_at_k_times_dim(spark):
    """r16 (VERDICT r15 task 3): the Lloyd update pre-reduces per-task
    partials to (cen_id, dim) grain before collect(), so the driver
    receives <= k*D rows no matter how many tasks scanned the input —
    the 100 TB posture (10^5-10^6 tasks) would otherwise collect
    10^8-10^9 rows. Also pins width-invariance of the fit itself
    (integer addition is exactly associative)."""
    from pyspark.sql import functions as F

    from kstreams_spark.operators.kmeans import _lloyd_partials

    rows = _planted()
    k, dim, iters = 10, 16, 2
    fits = {}
    for width in (1, 7):
        emb = spark.createDataFrame(
            rows, "vec_id long, embedding array<float>"
        ).repartition(width)
        cur = _numpy_twin(rows, k=k, iters=0)
        reduced = (
            emb.select("embedding")
            .mapInPandas(
                _lloyd_partials(cur),
                "cen_id long, dim long, sum_fx long, n long",
            )
            .groupBy("cen_id", "dim")
            .agg(F.sum("sum_fx").alias("sum_fx"), F.sum("n").alias("n"))
            .collect()
        )
        # the collected-row cap: <= k*D, independent of task count
        assert len(reduced) <= k * dim, (width, len(reduced))
        # each (cen_id, dim) appears exactly once after the reduction
        keys = [(r.cen_id, r.dim) for r in reduced]
        assert len(keys) == len(set(keys)), width
        fits[width] = kmeans_fit(emb, k=k, iters=iters)
    assert fits[1] == fits[7]
    assert fits[1] == _numpy_twin(rows, k=k, iters=iters)


def test_lloyd_sums_past_int64_stay_exact(spark):
    """FX-scaled components of ~1e6 are ~1e18 each, so 16 members of one
    cell sum past int64 (~9.2e18). The Lloyd fold must still equal the
    exact Python-int mean, not wrap or raise ARITHMETIC_OVERFLOW."""
    rows = [
        (i, [float(np.float32(1e6 + 1000 * i)), float(np.float32(2e6 - 500 * i))])
        for i in range(16)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    sums = [
        sum(int(_round_half_away(np.float64(v[d]) * float(FX))) for _, v in rows)
        for d in range(2)
    ]
    assert max(sums) > np.iinfo(np.int64).max
    mean = [(s / FX) / len(rows) for s in sums]
    norm = math.sqrt(math.fsum(x * x for x in mean))
    assert kmeans_fit(emb, k=1, iters=1) == [[x / norm for x in mean]]
