"""Quality tests for the approximate north-star operators: LSH-ANN recall
against the exact top-k, and MinHash-LSH candidate recall against true
Jaccard pairs — the claims the docstrings make, measured."""

from __future__ import annotations

from pyspark.sql import functions as F

from kstreams_spark import registry

registry.load_all()


def test_lsh_ann_recall_on_planted_clusters(spark):
    """LSH recall measured where recall is statistically meaningful: a
    planted-cluster corpus (20 base vectors, 10 noisy copies each). True
    neighbors are the cluster-mates (cosine ≈ 0.99); the fixture
    embeddings are isotropic noise (mean pairwise cosine ≈ 0), where
    "top-k" is noise ranking that NO bucketing scheme can recover."""
    import numpy as np

    from kstreams_spark.operators.similarity import brute_force_topk, lsh_topk

    rng = np.random.default_rng(7)
    rows = []
    for cluster in range(20):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for copy in range(10):
            # scale 0.02 → mate cosine ≈ 0.975 → P(one hyperplane splits a
            # pair) ≈ acos(.975)/π ≈ 0.07 → P(all 8 bits agree) ≈ 0.55
            noisy = base + rng.normal(scale=0.02, size=64)
            # interleave ids so queries (vec_id < 10) span 10 DIFFERENT
            # clusters — sequential ids would measure one cluster's luck
            rows.append((cluster + 20 * copy, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = brute_force_topk(emb, n_queries=10).collect()
    approx = lsh_topk(emb, n_queries=10).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.cid)
    for r in approx:
        approx_sets.setdefault(r.qid, set()).add(r.cid)
    # self-match always survives bucketing
    for qid, cids in approx_sets.items():
        assert qid in cids
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    # analytic expectation ≈ 0.55 per mate for a single 8-bit table (see
    # above); multi-table OR-amplification is the production lever for
    # higher recall (SCALE.md) — this pins the single-table math with
    # slack for cluster-level variance
    assert mean_recall >= 0.4, f"mean recall {mean_recall:.2f}"
    assert all(-1.0000001 <= r.cosine <= 1.0000001 for r in approx)


def test_lsh_on_fixture_always_finds_self(spark, sf_dir):
    """On the noise fixture the one guaranteed neighbor is the vector
    itself (cosine 1.0, rank 1) — LSH must return it for every query."""
    approx = registry.QUERIES["similarity_topk_lsh"](spark, sf_dir).collect()
    rank1 = {r.qid: (r.cid, r.cosine) for r in approx if r.rank == 1}
    assert len(rank1) == 10
    for qid, (cid, cos) in rank1.items():
        assert cid == qid and abs(cos - 1.0) < 1e-9


def test_minhash_candidates_cover_true_near_dups(spark, sf_dir):
    """Every pair with true 3-gram Jaccard ≥ 0.9 (the near-duplicates the
    fixture plants) must appear among the MinHash-LSH candidates —
    4 bands × 2 rows makes missing a 0.9-similar pair very unlikely
    (P(miss) = (1 - 0.9²)⁴ ≈ 0.1% per pair)."""
    jac = registry.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    strong = {
        (r.doc_id1, r.doc_id2)
        for r in jac.filter(F.col("jaccard") >= 0.9).collect()
    }
    cand = {
        (r.doc_id1, r.doc_id2)
        for r in registry.QUERIES["dedup_minhash_lsh"](spark, sf_dir).collect()
    }
    assert strong, "fixture should contain near-duplicate pairs"
    missed = strong - cand
    assert not missed, f"minhash missed {len(missed)}/{len(strong)} strong pairs"


def test_simhash_finds_exact_duplicates(spark, sf_dir):
    """Exact duplicates have identical simhash signatures → Hamming 0,
    so every same-source exact-dup pair must be a simhash pair."""
    exact = registry.QUERIES["dedup_exact"](spark, sf_dir)
    dup_groups = exact.filter(F.col("n_copies") > 1)
    sim = registry.QUERIES["dedup_simhash"](spark, sf_dir)
    zero_pairs = sim.filter(F.col("hamming") == 0).count()
    n_dup_groups = dup_groups.count()
    if n_dup_groups > 0:
        assert zero_pairs > 0


def test_simhash_signatures_match_jvm_twin(spark, sf_dir):
    """r16 parity pin (VERDICT r15 task 5): the doc-grain mapInPandas
    signature path must be BIT-IDENTICAL to the JVM aggregation form it
    replaced (explode + md5 per token + 64 parity SUMs) — the twin is
    built here from the same _simhash_sig_exprs the old path used, so
    the md5-hex-digit-parity semantics stay pinned on both engines
    (driver_sim covers the DuckDB side)."""
    from pyspark.sql import functions as F

    from kstreams_spark.io import load_table
    from kstreams_spark.operators.dedup import (
        SIM_BITS,
        _simhash_sig_exprs,
        simhash_signatures,
    )

    d = load_table(spark, sf_dir, "documents")
    toks = d.select(
        "doc_id", F.explode(F.split("text", " ")).alias("token")
    ).select(
        "doc_id",
        F.md5("token").alias("h0"),
        F.md5(F.concat(F.col("token"), F.lit("1"))).alias("h1"),
    )
    sums = toks.groupBy("doc_id").agg(*_simhash_sig_exprs())
    sig = F.concat(
        *[
            F.when(F.col(f"s{j}") >= 0, "1").otherwise("0")
            for j in range(SIM_BITS)
        ]
    )
    want = {r.doc_id: r.sig for r in sums.select("doc_id", sig.alias("sig")).collect()}
    rows = simhash_signatures(spark, sf_dir).collect()
    got = {r.doc_id: r.sig for r in rows}
    assert got == want
    # the packed 16-bit words (r16 Hamming fast path) are exactly the
    # signature's bit groups, MSB-first
    for r in rows:
        for k in range(SIM_BITS // 16):
            assert r[f"w{k}"] == int(r.sig[16 * k : 16 * (k + 1)], 2), (
                r.doc_id,
                k,
            )


def test_simhash_pigeonhole_exact_and_bounded(spark, sf_dir):
    """The pigeonhole chunk-bucketed simhash must (a) return EXACTLY the
    brute-force all-pairs result (full recall — Hamming ≤ 3 over 4 chunks
    guarantees one equal chunk), and (b) enumerate far fewer candidate
    pairs than the quadratic product on a uniform-signature corpus
    (expected ratio 1 - (1 - 2^-CHUNK_W)^N_CHUNKS ≈ 0.016 for 4×8-bit)."""
    from kstreams_spark.operators.dedup import (
        HAM_MAX,
        SIM_BITS,
        simhash_candidate_pairs,
        simhash_signatures,
    )

    sigs = simhash_signatures(spark, sf_dir)
    rows = sigs.collect()

    def ham(a: str, b: str) -> int:
        return sum(x != y for x, y in zip(a, b))

    truth = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            d1, s1 = rows[i].doc_id, rows[i].sig
            d2, s2 = rows[j].doc_id, rows[j].sig
            if d1 > d2:
                d1, d2 = d2, d1
            h = ham(s1, s2)
            if h <= HAM_MAX:
                truth.add((d1, d2, h))
    got = {
        (r.doc_id1, r.doc_id2, r.hamming)
        for r in registry.QUERIES["dedup_simhash"](spark, sf_dir).collect()
    }
    assert got == truth, (
        f"bucketed != brute force: missed {len(truth - got)}, extra {len(got - truth)}"
    )

    # candidate bound on uniform signatures (the fixture corpus is dup-dense
    # by design, so selectivity is measured where the math is meaningful)
    import random

    rng = random.Random(13)
    uni = spark.createDataFrame(
        [(i, "".join(rng.choice("01") for _ in range(SIM_BITS))) for i in range(800)],
        "doc_id long, sig string",
    )
    n_cand = simhash_candidate_pairs(uni).count()
    total = 800 * 799 // 2
    assert n_cand < 0.3 * total, f"candidates {n_cand} vs quadratic {total}"


def test_ivf_recall_on_planted_clusters(spark):
    """IVF with centroids drawn from the data: cluster-mates share their
    nearest centroid almost surely (a centroid IS a cluster member here),
    so recall on planted clusters should be near-perfect — higher than
    single-table LSH on the same data."""
    import numpy as np

    from kstreams_spark.operators.similarity import brute_force_topk, ivf_topk

    rng = np.random.default_rng(11)
    rows = []
    for cluster in range(20):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for copy in range(10):
            noisy = base + rng.normal(scale=0.02, size=64)
            rows.append((cluster + 20 * copy, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact = brute_force_topk(emb, n_queries=10).collect()
    approx = ivf_topk(emb, n_queries=10).collect()
    exact_sets, approx_sets = {}, {}
    for r in exact:
        exact_sets.setdefault(r.qid, set()).add(r.cid)
    for r in approx:
        approx_sets.setdefault(r.qid, set()).add(r.cid)
    recalls = [
        len(exact_sets[q] & approx_sets.get(q, set())) / len(exact_sets[q])
        for q in exact_sets
    ]
    mean_recall = sum(recalls) / len(recalls)
    assert mean_recall >= 0.9, f"mean recall {mean_recall:.2f}"


def test_lsh_recall_at_two_widths(spark):
    """The N→bits sizing rule, measured: wider signatures → fewer
    candidates per bucket (cheaper re-rank) but lower per-table recall
    (analytically ≈ p_agree^bits with p_agree ≈ 0.93 on these clusters:
    4 bits → ~0.75, 12 bits → ~0.42). Prints the recall/candidate table
    the tuning decision reads from."""
    import numpy as np

    from kstreams_spark.operators.similarity import brute_force_topk, lsh_topk

    rng = np.random.default_rng(7)
    rows = []
    for cluster in range(20):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for copy in range(10):
            noisy = base + rng.normal(scale=0.02, size=64)
            rows.append((cluster + 20 * copy, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    exact_sets = {}
    for r in brute_force_topk(emb, n_queries=10).collect():
        exact_sets.setdefault(r.qid, set()).add(r.cid)

    stats = {}
    for bits in (4, 12):
        approx = lsh_topk(emb, n_queries=10, bits=bits).collect()
        aps = {}
        for r in approx:
            aps.setdefault(r.qid, set()).add(r.cid)
        recalls = [
            len(exact_sets[q] & aps.get(q, set())) / len(exact_sets[q])
            for q in exact_sets
        ]
        # candidate volume proxy: rows the re-rank actually scored
        stats[bits] = (sum(recalls) / len(recalls), len(approx))
        print(
            f"lsh bits={bits:2d}  recall={stats[bits][0]:.2f}  "
            f"reranked_rows={stats[bits][1]}"
        )
    assert stats[4][0] > stats[12][0], f"recall should drop with width: {stats}"


def test_minhash_recall_at_two_band_configs(spark, sf_dir):
    """Same lever for MinHash: 4 bands × 2 rows vs 2 bands × 4 rows over
    the same 8 signatures. Fewer/wider bands → fewer candidate pairs and
    lower recall of true Jaccard ≥ 0.5 pairs (P = 1-(1-s^r)^b)."""
    from kstreams_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
    )
    from kstreams_spark.io import load_table

    jac = registry.QUERIES["dedup_ngram_jaccard"](spark, sf_dir)
    truth = {(r.doc_id1, r.doc_id2) for r in jac.collect()}
    assert truth, "fixture should contain Jaccard >= 0.5 pairs"

    sig = minhash_signatures(load_table(spark, sf_dir, "documents"), 8)
    sig.cache()
    stats = {}
    for n_bands in (4, 2):
        cand = {
            (r.doc_id1, r.doc_id2)
            for r in minhash_band_pairs(sig, 8, n_bands).collect()
        }
        recall = len(truth & cand) / len(truth)
        stats[n_bands] = (recall, len(cand))
        print(f"minhash bands={n_bands} rows={8 // n_bands}  "
              f"recall={recall:.2f}  candidates={len(cand)}")
    sig.unpersist()
    assert stats[4][0] >= stats[2][0], f"more bands must not lower recall: {stats}"
    assert stats[4][1] >= stats[2][1], f"more bands must not shrink candidates: {stats}"


def test_multi_table_lsh_beats_single_table(spark):
    """OR-amplification: 2-table recall ≈ 1-(1-p)² must beat the
    single-table recall on the same planted clusters."""
    import numpy as np

    from kstreams_spark.operators.similarity import (
        brute_force_topk,
        lsh_multi_topk,
        lsh_topk,
    )

    rng = np.random.default_rng(7)  # same corpus as the single-table test
    rows = []
    for cluster in range(20):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for copy in range(10):
            noisy = base + rng.normal(scale=0.02, size=64)
            rows.append((cluster + 20 * copy, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def mean_recall(approx_rows, exact_rows):
        es, aps = {}, {}
        for r in exact_rows:
            es.setdefault(r.qid, set()).add(r.cid)
        for r in approx_rows:
            aps.setdefault(r.qid, set()).add(r.cid)
        rs = [len(es[q] & aps.get(q, set())) / len(es[q]) for q in es]
        return sum(rs) / len(rs)

    exact = brute_force_topk(emb, n_queries=10).collect()
    single = mean_recall(lsh_topk(emb, n_queries=10).collect(), exact)
    multi = mean_recall(lsh_multi_topk(emb, n_queries=10).collect(), exact)
    assert multi > single, f"multi {multi:.2f} <= single {single:.2f}"
    assert multi >= 0.6, f"multi-table recall {multi:.2f}"


def test_jaccard_verifier_is_candidate_scoped(spark, sf_dir):
    """VERDICT r2 #3: exact n-gram Jaccard runs only on proposed candidate
    pairs. Proves (a) the MinHash candidate set is far smaller than the
    block-quadratic pair space the old corpus-wide join risked, and
    (b) every pair the verified pipeline scores came from the candidate
    set (pair space = |candidates|, never N²)."""
    from kstreams_spark.io import load_table
    from kstreams_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    cand = minhash_band_pairs(minhash_signatures(d))
    cand_pairs = {(r.doc_id1, r.doc_id2) for r in cand.collect()}

    block_sizes = [
        r.n for r in d.groupBy("source").agg(F.count(F.lit(1)).alias("n")).collect()
    ]
    block_quadratic = sum(n * (n - 1) // 2 for n in block_sizes)
    assert block_quadratic > 0
    assert len(cand_pairs) < block_quadratic / 5, (
        f"{len(cand_pairs)} candidates vs {block_quadratic} block-quadratic"
    )

    verified = ngram_jaccard_pairs(d)  # default: MinHash candidates
    scored = {(r.doc_id1, r.doc_id2) for r in verified.collect()}
    assert scored <= cand_pairs


def test_sizing_rule_at_10x_corpus(spark):
    """VERDICT r2 #6: the prose sizing rules, executed. Scale the planted
    corpus 10× (200 clusters × 10 copies = 2000 vectors), take the widths
    the rules prescribe for that N, and require (a) recall stays above
    target with the prescribed OR-amplification and (b) the re-rank
    volume per query stays near the bucket budget instead of growing
    linearly with N."""
    import numpy as np

    from kstreams_spark.operators.similarity import (
        brute_force_topk,
        ivf_cells_for,
        ivf_topk,
        lsh_bits_for,
        lsh_multi_topk,
    )

    n_clusters, n_copies = 200, 10
    n = n_clusters * n_copies
    rng = np.random.default_rng(11)
    rows = []
    for cluster in range(n_clusters):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for copy in range(n_copies):
            noisy = base + rng.normal(scale=0.02, size=64)
            # interleave ids: queries (vec_id < 10) span 10 clusters,
            # centroids (vec_id < n_cells) span distinct clusters
            rows.append((cluster + n_clusters * copy, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.cache()

    exact_sets = {}
    for r in brute_force_topk(emb, n_queries=10).collect():
        exact_sets.setdefault(r.qid, set()).add(r.cid)

    def mean_recall(approx_rows):
        aps = {}
        for r in approx_rows:
            aps.setdefault(r.qid, set()).add(r.cid)
        rs = [len(exact_sets[q] & aps.get(q, set())) / len(exact_sets[q])
              for q in exact_sets]
        return sum(rs) / len(rs)

    # --- LSH at the prescribed width, recall bought back with 2 tables
    bucket_budget = 25
    bits = lsh_bits_for(n, target_bucket=bucket_budget)
    assert bits == 6, f"rule: log2(2000/25) ≈ 6.3 → 6, got {bits}"
    approx = lsh_multi_topk(emb, n_queries=10, n_tables=2, bits=bits).collect()
    recall = mean_recall(approx)
    print(f"10x corpus: bits={bits} 2-table recall={recall:.2f} "
          f"reranked={len(approx)}")
    assert recall >= 0.6, f"recall {recall:.2f} at prescribed bits={bits}"
    # bucket populations ~ budget (cluster lumpiness slack), NOT ~ N:
    # the whole point of growing bits with log2(N). Measured directly on
    # the table-0 signatures.
    from kstreams_spark.operators.similarity import _sig_expr

    buckets = [
        r.n
        for r in emb.select(_sig_expr(0, bits).alias("sig"))
        .groupBy("sig")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    mean_bucket = sum(buckets) / len(buckets)
    print(f"10x corpus: {len(buckets)} buckets, mean={mean_bucket:.0f} "
          f"max={max(buckets)}")
    assert mean_bucket <= 4 * bucket_budget, mean_bucket
    assert max(buckets) <= n / 4, max(buckets)  # no degenerate mega-bucket

    # --- IVF at the prescribed cell count (k ≈ 4·√N, sublinear) with the
    # prescribed probe width holding the per-query scan budget
    from kstreams_spark.operators.similarity import ivf_probes_for

    n_cells = ivf_cells_for(n)
    assert n_cells == 179, f"rule: 4·√2000 ≈ 179, got {n_cells}"
    # sublinearity is the 100 TB point: 100× the corpus ≤ ~10× the
    # centroids (the linear N/C rule this replaced gave exactly 100×)
    assert ivf_cells_for(100 * n) <= 10 * ivf_cells_for(n) + 1
    n_probe = ivf_probes_for(n, n_cells, target_scan=100)
    assert n_probe == 9, f"rule: ceil(100·179/2000) = 9, got {n_probe}"
    ivf = ivf_topk(
        emb, n_queries=10, n_centroids=n_cells, n_probe=n_probe
    ).collect()
    ivf_recall = mean_recall(ivf)
    print(f"10x corpus: cells={n_cells} n_probe={n_probe} "
          f"ivf recall={ivf_recall:.2f}")
    assert ivf_recall >= 0.6, f"ivf recall {ivf_recall:.2f} at {n_cells} cells"
    emb.unpersist()


def test_max_bucket_drops_degenerate_flood(spark):
    """The hash-flooding skew valve SCALE.md promises: a flood of
    identical near-empty documents forms one mega band bucket whose
    quadratic expansion would dominate a task; max_bucket drops that
    bucket while organic (small-bucket) candidate pairs survive."""
    from kstreams_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
    )

    flood = [(i, "spam spam spam spam ham") for i in range(100)]
    organic = [
        (100, "the quick brown fox jumps over the lazy dog today"),
        (101, "the quick brown fox jumps over the lazy dog tonight"),
        (102, "completely unrelated text about distributed query engines"),
    ]
    docs = spark.createDataFrame(flood + organic, "doc_id long, text string")
    sig = minhash_signatures(docs)
    sig.cache()

    uncapped = minhash_band_pairs(sig)
    n_uncapped = uncapped.count()
    assert n_uncapped >= 100 * 99 // 2, n_uncapped  # flood is quadratic

    capped = {
        (r.doc_id1, r.doc_id2)
        for r in minhash_band_pairs(sig, max_bucket=10).collect()
    }
    assert all(p[0] >= 100 for p in capped), capped  # flood pairs gone
    assert (100, 101) in capped  # organic near-dup survives
    sig.unpersist()


def test_simhash_radius_is_parameterized(spark, sf_dir):
    """The pigeonhole guarantee at a SECOND radius: ham_max=1 (2 chunks ×
    8 bits) must still cover every true Hamming ≤ 1 pair — the radius is
    a function argument like every other width in the engine, and an
    indivisible sim_bits/chunk combination is refused loudly."""
    import pytest

    from kstreams_spark.operators.dedup import (
        simhash_candidate_pairs,
        simhash_signatures,
    )

    sigs = simhash_signatures(spark, sf_dir)
    rows = sigs.collect()
    truth = set()
    for i in range(len(rows)):
        for j in range(i + 1, len(rows)):
            a, b = rows[i], rows[j]
            h = sum(x != y for x, y in zip(a.sig, b.sig))
            if h <= 1:
                truth.add((min(a.doc_id, b.doc_id), max(a.doc_id, b.doc_id)))
    assert truth, "fixture should contain Hamming<=1 pairs"
    cand = {
        (r.doc_id1, r.doc_id2)
        for r in simhash_candidate_pairs(sigs, ham_max=1).collect()
    }
    assert truth <= cand, f"missed {len(truth - cand)} true pairs"

    with pytest.raises(ValueError, match="multiple"):
        simhash_candidate_pairs(sigs, ham_max=2)  # 16 % 3 != 0


def test_lsh_topk_multiprobe_lifts_recall(spark):
    """Multi-probe in the DISTRIBUTED lsh_topk (query-side fan-out of the
    n_flip lowest-margin bit flips): recall must be monotone in n_flip
    and strictly above single-probe on planted clusters — the same lever
    the serving probe exposes, verified in the bucket-join plan."""
    import numpy as np

    from kstreams_spark.operators.similarity import brute_force_topk, lsh_topk

    rng = np.random.default_rng(7)
    rows = []
    for cluster in range(20):
        base = rng.normal(size=64)
        base /= np.linalg.norm(base)
        for copy in range(10):
            noisy = base + rng.normal(scale=0.02, size=64)
            rows.append((cluster + 20 * copy, [float(x) for x in noisy]))
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.cache()

    exact_sets = {}
    for r in brute_force_topk(emb, n_queries=10).collect():
        exact_sets.setdefault(r.qid, set()).add(r.cid)

    def mean_recall(result_rows):
        aps = {}
        for r in result_rows:
            aps.setdefault(r.qid, set()).add(r.cid)
        rs = [len(exact_sets[q] & aps.get(q, set())) / len(exact_sets[q])
              for q in exact_sets]
        return sum(rs) / len(rs)

    single = mean_recall(lsh_topk(emb, n_queries=10).collect())
    multi = mean_recall(lsh_topk(emb, n_queries=10, n_flip=2).collect())
    print(f"lsh_topk recall: single={single:.2f} n_flip=2 -> {multi:.2f}")
    assert multi > single, (single, multi)
    assert multi >= 0.6, multi
    emb.unpersist()


def test_cluster_resolution_transitive_chain(spark):
    """A–B and B–C pairs (C–A never proposed) must resolve to ONE cluster
    {A,B,C} with keep_id = A — the claim pairwise output cannot express
    and the reason the resolution operator exists (VERDICT r4 #1)."""
    from kstreams_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame(
        [(1, 5), (5, 9), (20, 21)], "doc_id1 long, doc_id2 long"
    )
    out = {r.doc_id: r for r in resolve_clusters(pairs).collect()}
    assert set(out) == {1, 5, 9, 20, 21}
    for d in (1, 5, 9):
        assert out[d].keep_id == 1 and out[d].n_members == 3
    for d in (20, 21):
        assert out[d].keep_id == 20 and out[d].n_members == 2
    assert {d for d, r in out.items() if r.is_kept} == {1, 20}


def test_cluster_resolution_long_path_pointer_jumping(spark, monkeypatch):
    """A 200-node path graph (diameter 199): neighbor-only min-label
    propagation needs ~199 rounds; with the pointer-jumping shortcut the
    fixpoint must arrive within max_iter=12 ≈ log2(199) + slack. This
    pins the O(log diameter) convergence claim, not just correctness.
    (Driver fallback disabled so the DISTRIBUTED loop is what converges.)"""
    from kstreams_spark.operators import dedup
    from kstreams_spark.operators.dedup import resolve_clusters

    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    n = 200
    pairs = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "doc_id1 long, doc_id2 long"
    )
    rows = resolve_clusters(pairs, max_iter=12).collect()
    assert len(rows) == n
    assert all(r.keep_id == 0 and r.n_members == n for r in rows)


def test_driver_and_distributed_cc_agree(spark, monkeypatch):
    """The small-graph driver union-find and the distributed min-label
    loop must produce IDENTICAL (node, label) sets on the same graph —
    the contract that makes the DRIVER_CC_MAX_EDGES dispatch invisible
    to every consumer."""
    import random

    from kstreams_spark.operators import dedup

    rng = random.Random(7)
    edges = {(rng.randrange(300), rng.randrange(300)) for _ in range(250)}
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "doc_id1 long, doc_id2 long"
    )
    via_driver = {
        (r.node, r.label)
        for r in dedup.connected_components(pairs).collect()
    }
    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    via_loop = {
        (r.node, r.label)
        for r in dedup.connected_components(pairs).collect()
    }
    assert via_driver == via_loop and via_driver


def test_cluster_resolution_empty_pairs(spark):
    """No pairs → no clusters (schema intact, no crash)."""
    from kstreams_spark.operators.dedup import resolve_clusters

    pairs = spark.createDataFrame([], "doc_id1 long, doc_id2 long")
    assert resolve_clusters(pairs).count() == 0


def test_cluster_resolution_restores_shuffle_conf(spark, monkeypatch):
    """connected_components scopes spark.sql.shuffle.partitions to its
    loop (sized from the edge count) and must restore the session value
    on BOTH exits — normal convergence and the non-convergence raise —
    or it would silently rewrite the hosting session's parallelism (the
    grading driver's session included). (Driver fallback disabled: the
    conf scoping exists only on the distributed path.)"""
    import pytest

    from kstreams_spark.operators import dedup
    from kstreams_spark.operators.dedup import connected_components

    monkeypatch.setattr(dedup, "DRIVER_CC_MAX_EDGES", 0)
    key = "spark.sql.shuffle.partitions"
    saved = spark.conf.get(key)
    try:
        spark.conf.set(key, "17")
        pairs = spark.createDataFrame(
            [(1, 2), (2, 3)], "doc_id1 long, doc_id2 long"
        )
        assert connected_components(pairs).count() == 3
        assert spark.conf.get(key) == "17"
        with pytest.raises(RuntimeError, match="did not converge"):
            connected_components(pairs, max_iter=0)
        assert spark.conf.get(key) == "17"
    finally:
        spark.conf.set(key, saved)


def test_ivf_n_probe_recovers_boundary_neighbor(spark):
    """VERDICT r4 #4's done-criterion, batch form (the serving probe has
    the monotone-widening twin): a query assigned to cell A whose true
    nearest neighbor lives in cell B is UNFINDABLE at n_probe=1 and
    found at n_probe=2 — the recall lever demonstrated, not asserted."""
    import math

    from kstreams_spark.operators.similarity import ivf_topk

    def unit(x, y):
        n = math.sqrt(x * x + y * y)
        return [x / n, y / n]

    rows = [
        (0, unit(1.0, 0.0)),  # centroid/cell A
        (1, unit(0.0, 1.0)),  # centroid/cell B
        (2, unit(0.8, 0.6)),  # the query: assigned to A (0.8 > 0.6)...
        (3, unit(0.5, 0.87)),  # ...but its best neighbor lands in B
        #    cos(q, v3) = 0.8·0.5 + 0.6·0.87 ≈ 0.922
        (4, unit(0.99, 0.141)),  # filler in A, cos(q, v4) ≈ 0.877 < 0.922
        (5, unit(0.1, 0.995)),  # filler in B
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")

    def neighbors(n_probe):
        out = ivf_topk(
            emb, n_queries=3, n_centroids=2, n_probe=n_probe
        ).collect()
        return [r.cid for r in sorted(
            (r for r in out if r.qid == 2), key=lambda r: r.rank
        ) if r.cid != 2]

    assert 3 not in neighbors(1), "boundary neighbor must be invisible at n_probe=1"
    got = neighbors(2)
    assert got[0] == 3, f"n_probe=2 must rank the true neighbor first, got {got}"


def test_containment_catches_embedded_doc_jaccard_misses(spark):
    """A short doc fully embedded in a 4x-longer one: containment = 1.0
    (caught at the 0.8 threshold) while Jaccard ~= 0.24 (missed at 0.5)
    — the exact complementarity dedup_ngram_containment exists for."""
    from kstreams_spark.operators.dedup import (
        CONTAINMENT_THRESHOLD,
        _shingles,
        ngram_jaccard_pairs,
    )
    from pyspark.sql import functions as F

    short = " ".join(f"s{i}" for i in range(20))
    long_ = short + " " + " ".join(f"u{i}" for i in range(60))
    docs = spark.createDataFrame(
        [(1, short), (2, long_)], ["doc_id", "text"]
    )
    cand = spark.createDataFrame([(1, 2)], "doc_id1 long, doc_id2 long")
    # Jaccard at the standard 0.5 threshold: pair rejected
    assert ngram_jaccard_pairs(docs, candidates=cand).count() == 0
    # containment scoring accepts it (replicates the registered query's
    # scorer over the same injected candidate)
    sets = (
        _shingles(docs, 3, distinct=False)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shs"))
        .collect()
    )
    shs = {r.doc_id: set(r.shs) for r in sets}
    inter = len(shs[1] & shs[2])
    containment = inter / min(len(shs[1]), len(shs[2]))
    jaccard = inter / len(shs[1] | shs[2])
    assert containment == 1.0 >= CONTAINMENT_THRESHOLD
    assert jaccard < 0.5


def test_overcap_split_bounds_cells(spark):
    """VERDICT r6 #3: the SemDeDup occupancy cap. The balanced cell rule
    lets per-cell population grow as √(2N); split_overcap_cells must
    HARD-bound one task's pair space at cap·(cap-1)/2 regardless of
    distribution, keep planted near-duplicate recall inside split cells,
    and the oracle CTE chain (_cell_cand_sql) must replay the split
    bit-for-bit — the fixture corpus never triggers it (mean occupancy
    crosses SEMDEDUP_MAX_CELL only past ~2M vectors), so this synthetic
    corpus is the split path's only value-level gate."""
    import duckdb
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from kstreams_spark.operators.similarity import (
        _cell_cand_sql,
        _ivf_assign_sql,
        ivf_cell_ids,
        ivf_cell_pairs,
        split_overcap_cells,
    )

    K, CAP = 4, 20

    def corpus(n_clusters, n_copies, seed=11):
        # tightly clustered on purpose: the adversarial shape where a
        # nearest-sub-centroid re-split fails (identical vectors glue)
        rng = np.random.default_rng(seed)
        rows = []
        for c in range(n_clusters):
            base = rng.normal(size=16)
            base /= np.linalg.norm(base)
            for k in range(n_copies):
                v = (base + rng.normal(scale=0.02, size=16)).astype(np.float32)
                rows.append((c + n_clusters * k, [float(x) for x in v]))
        return rows

    for n_clusters, n_copies in ((40, 25), (40, 250)):  # 1x and 10x
        rows = corpus(n_clusters, n_copies)
        emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
        emb.cache()
        cen = [
            [float(x) for x in r.embedding]
            for r in emb.filter(F.col("vec_id") < K).orderBy("vec_id").collect()
        ]
        split = split_overcap_cells(emb, ivf_cell_ids(emb, cen), CAP)
        pops = split.groupBy("cen_id", "sub_id").count().toPandas()
        assert int(pops["count"].max()) <= CAP, (
            f"occupancy {int(pops['count'].max())} exceeds cap {CAP} "
            f"at N={len(rows)} — per-task pair space unbounded"
        )

    # --- recall inside split cells (1x corpus): every planted cluster
    # must still contribute verified near-pairs — block cuts cost only
    # boundary pairs, never a whole cluster.
    rows = corpus(40, 25)
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    emb.cache()
    cen = [
        [float(x) for x in r.embedding]
        for r in emb.filter(F.col("vec_id") < K).orderBy("vec_id").collect()
    ]
    ver = ivf_cell_pairs(
        emb, n_centroids=K, min_cosine=0.9, max_cell=CAP
    ).toPandas()
    cluster_of = {vid: vid % 40 for vid, _ in rows}
    hit = {cluster_of[r.id1] for r in ver.itertuples() if cluster_of[r.id1] == cluster_of[r.id2]}
    assert len(hit) == 40, f"only {len(hit)}/40 planted clusters rejoined"

    # --- Spark vs DuckDB parity of the split CTEs: candidate sets equal
    pdf = pd.DataFrame(
        {
            "vec_id": [vid for vid, _ in rows],
            "embedding": [np.asarray(v, dtype=np.float64) for _, v in rows],
        }
    )
    con = duckdb.connect()
    con.register("embeddings", pdf)
    sql = f"""
    WITH {_ivf_assign_sql(str(K))},
    {_cell_cand_sql(CAP)}
    SELECT id1, id2 FROM cand
    """
    oracle_pairs = {(r[0], r[1]) for r in con.execute(sql).fetchall()}
    assigned = split_overcap_cells(emb, ivf_cell_ids(emb, cen), CAP)
    a1 = assigned.select(
        F.col("vec_id").alias("id1"), "cen_id", "sub_id"
    )
    a2 = assigned.select(
        F.col("vec_id").alias("id2"), "cen_id", "sub_id"
    )
    spark_pairs = {
        (r.id1, r.id2)
        for r in a1.join(a2, ["cen_id", "sub_id"])
        .filter(F.col("id1") < F.col("id2"))
        .collect()
    }
    assert spark_pairs == oracle_pairs, (
        f"split-path candidate sets diverge: spark-only "
        f"{sorted(spark_pairs - oracle_pairs)[:5]}, oracle-only "
        f"{sorted(oracle_pairs - spark_pairs)[:5]}"
    )


def test_importance_selection_favors_target_lang(spark, sf_dir):
    """DSIR-shaped hashed importance (sample_importance_hashed): target
    (en) documents must be selected at a strictly higher rate than the
    rest of the corpus — the integer-ratio weights pick up the (weak)
    lang signal in the fixture's hashed-bucket distributions (measured
    0.62 vs ~0.38 at both sf0.001 and sf0.01)."""
    from pyspark.sql import functions as F

    from kstreams_spark.io import load_table
    from kstreams_spark.registry import QUERIES, load_all

    load_all()
    sel = QUERIES["sample_importance_hashed"](spark, sf_dir)
    d = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    rates = {
        r.is_en: r.rate
        for r in sel.join(d, "doc_id")
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(F.avg("is_selected").alias("rate"))
        .collect()
    }
    assert rates[True] > rates[False] + 0.1, rates


def test_pagerank_hub_dominates_planted_star(spark):
    """dedup.pagerank_fixed on a planted star-plus-chain: the star hub
    (degree 5) must out-rank every leaf and every chain node, and ranks
    must be identical across shuffle widths (pure-integer arithmetic)."""
    from kstreams_spark.operators.dedup import PR_BASE, pagerank_fixed

    pairs = spark.createDataFrame(
        # star: hub 0 — leaves 1..5; chain: 10-11-12
        [(0, i) for i in range(1, 6)] + [(10, 11), (11, 12)],
        "a long, b long",
    )
    got = {r.doc_id: (r.degree, r.pr_fx) for r in pagerank_fixed(pairs).collect()}
    assert got[0][0] == 5
    hub = got[0][1]
    for node, (_, pr) in got.items():
        if node != 0:
            assert pr < hub, (node, pr, hub)
    # leaves are symmetric: identical ranks
    assert len({got[i][1] for i in range(1, 6)}) == 1
    # ranks stay in fixed-point range and above the teleport floor
    assert all(pr >= (15 * PR_BASE) // 100 for _, pr in got.values())

    saved = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        spark.conf.set("spark.sql.shuffle.partitions", "3")
        again = {
            r.doc_id: (r.degree, r.pr_fx)
            for r in pagerank_fixed(pairs).collect()
        }
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved)
    assert again == got


def test_pagerank_driver_and_distributed_agree(spark, monkeypatch):
    """The small-graph driver NumPy iteration and the distributed loop
    must produce IDENTICAL (doc_id, degree, pr_fx) sets on the same
    graph — the contract that makes the DRIVER_PR_MAX_EDGES dispatch
    invisible (the CC parity test's argument, applied to pagerank)."""
    import random

    from kstreams_spark.operators import dedup

    rng = random.Random(11)
    edges = {(rng.randrange(200), rng.randrange(200)) for _ in range(300)}
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b], "a long, b long"
    )
    via_driver = {
        (r.doc_id, r.degree, r.pr_fx)
        for r in dedup.pagerank_fixed(pairs).collect()
    }
    monkeypatch.setattr(dedup, "DRIVER_PR_MAX_EDGES", 0)
    via_loop = {
        (r.doc_id, r.degree, r.pr_fx)
        for r in dedup.pagerank_fixed(pairs).collect()
    }
    assert via_driver == via_loop and via_driver


def test_simhash_batches_drop_null_text():
    """A NULL text yields no signature row — the null-drop of the
    explode(split(text)) form the mapInPandas body replaced — and does
    not disturb its batch neighbours' signatures."""
    import pandas as pd

    from kstreams_spark.operators.dedup import _simhash_sig_batches

    both = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["a b a", None, "c"]})
    alone = pd.DataFrame({"doc_id": [1, 3], "text": ["a b a", "c"]})
    got = pd.concat(list(_simhash_sig_batches(iter([both]))))
    want = pd.concat(list(_simhash_sig_batches(iter([alone]))))
    assert list(got["doc_id"]) == [1, 3]
    assert got.reset_index(drop=True).equals(want.reset_index(drop=True))
    only_null = pd.DataFrame({"doc_id": [9], "text": [None]})
    assert len(pd.concat(list(_simhash_sig_batches(iter([only_null]))))) == 0


def test_jaccard_default_candidates_propose_at_width_3(spark, sf_dir):
    """The default candidates are the minhash band pairs over 3-token
    shingles (the oracle's shingles_sql(3)) whatever verify width `n`
    the caller asks for."""
    from kstreams_spark.io import load_table
    from kstreams_spark.operators.dedup import (
        minhash_band_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    d = load_table(spark, sf_dir, "documents")
    cand = minhash_band_pairs(minhash_signatures(d))
    for n in (2, 3):
        got = ngram_jaccard_pairs(d, n=n, threshold=0.3)
        want = ngram_jaccard_pairs(d, candidates=cand, n=n, threshold=0.3)
        assert sorted(got.collect()) == sorted(want.collect())
