"""Deduplication operators for training-data pipelines (BASELINE.json
north-star; SURVEY.md §2.3 "north-star LLM ops"): exact, n-gram Jaccard,
MinHash+LSH, SimHash.

Cross-engine determinism trick: every hash in this module is md5 (identical
hex output in Spark and DuckDB). MinHash needs only a pseudo-random total
order per hash function, so ``min(md5(seed || shingle))`` over lexicographic
hex IS a valid minhash — portable to any engine with md5. SimHash bits come
from md5 hex-digit parity.

Scale posture:
- exact dedup: hash-groupBy on the full text (or md5(text) to shrink the
  shuffle key) — one shuffle, map-side combine;
- MinHash-LSH: per-doc signatures are a groupBy over exploded shingles
  (shuffle ∝ corpus token count), then candidate pairs come from the
  band-bucket equi-join — NEVER an all-pairs comparison. At 100 TB the
  band join is the only quadratic-risk step and it is quadratic only
  within a bucket, controlled by bands×rows tuning;
- n-gram Jaccard / SimHash pairing is *blocked* on the `source` column —
  an explicit blocking key keeps the pair space per-block; at 100 TB the
  blocking key would be an LSH band, a length bucket, or a shard key.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from kstreams_spark.io import load_table
from kstreams_spark.operators._util import spread
from kstreams_spark.registry import query

# Defaults for the REGISTERED fixture queries (and their generated oracle
# SQL); the operator functions take n_hashes / n_bands as arguments.
# Sizing rule: a band of r = n_hashes/n_bands rows catches a pair of
# Jaccard s with P = 1-(1-s^r)^bands; more bands → higher recall AND more
# candidate pairs. At corpus scale, band-value buckets must stay bounded:
# rows-per-band r grows with log(N) just like LSH bits (SCALE.md §dedup).
N_HASHES = 8  # minhash functions (≤ 8 with the md5-rotation trick)
N_BANDS = 4  # bands of 2 hashes → candidate if any band matches
# SimHash signature width. Sized by the same log2 rule as LSH bits:
# buckets per chunk index = 2^(SIM_BITS/N_CHUNKS), and pair enumeration
# is quadratic WITHIN a bucket, so chunk width must track log2(N/B) —
# with generous headroom, because REAL text signatures are skewed (common
# tokens push many docs toward the same bit pattern): at 16 bits (4-bit
# chunks) the sf0.1 bench paid 48 s expanding ~13% of all pairs as
# candidates, and even 8-bit chunks left 1.6 M candidates (~8× the
# uniform-corpus expectation). 64 bits / 16-bit chunks is the published
# configuration (Manku, Jain, Sarma, "Detecting Near-Duplicates for Web
# Crawling", WWW 2007: 64-bit fingerprints, k = 3) — one md5 yields 32
# parity bits, so the signature draws on two independent salted hashes.
SIM_BITS = 64
_BITS_PER_MD5 = 32  # one parity bit per hex digit


def _shingles(df: DataFrame, n: int = 3, distinct: bool = True) -> DataFrame:
    """doc_id → n-gram (token) shingles, joined by single spaces.

    distinct=True (set semantics, needed for Jaccard counts) costs a
    shuffle; duplicate-insensitive consumers (minhash MIN) pass False."""
    toks = F.split(F.col("text"), " ")
    # project the token array ONCE (the inline form re-splits text for
    # size() and for each slice inside the transform lambda)
    with_toks = df.select("doc_id", toks.alias("toks")).filter(
        F.size(F.col("toks")) >= n
    )
    sh_from_toks = F.expr(
        f"transform(sequence(0, size(toks) - {n}), "
        f"i -> concat_ws(' ', slice(toks, i + 1, {n})))"
    )
    out = with_toks.select("doc_id", F.explode(sh_from_toks).alias("shingle"))
    return out.distinct() if distinct else out


_SHINGLES_SQL = """
    SELECT DISTINCT doc_id,
           unnest(list_transform(generate_series(1, len(l) - {nm1}),
                                 i -> array_to_string(l[i:i+{nm1}], ' '))) AS shingle
    FROM (SELECT doc_id, str_split(text, ' ') AS l FROM {src})
    WHERE len(l) >= {n}
"""


def shingles_sql(n: int = 3, src: str = "documents") -> str:
    """`src` lets the CTE chain run over a derived (doc_id, text) relation
    — e.g. the curation composite's post-filter post-exact-dedup set —
    instead of the raw documents table."""
    return _SHINGLES_SQL.format(n=n, nm1=n - 1, src=src)


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS text_hash,
           MIN(doc_id) AS keep_id,
           COUNT(*) AS n_copies
    FROM documents
    GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on md5(text); keep the lowest doc_id.
    Hashing first keeps the shuffle key 32 bytes instead of whole documents
    — at 100 TB the shuffle moves hashes, not text."""
    d = load_table(spark, sf_dir, "documents")  # one md5/row: no spread needed
    return d.groupBy(F.md5("text").alias("text_hash")).agg(
        F.min("doc_id").alias("keep_id"), F.count(F.lit(1)).alias("n_copies")
    )


def ngram_jaccard_pairs(
    docs: DataFrame,
    candidates: DataFrame | None = None,
    n: int = 3,
    threshold: float = 0.5,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
) -> DataFrame:
    """Exact n-gram Jaccard as a VERIFIER over candidate pairs.

    Exact Jaccard is quadratic if asked to enumerate pairs itself, so this
    operator never does: it scores only the (doc_id1, doc_id2) pairs in
    ``candidates`` — by default the MinHash band pairs, i.e. the two-stage
    100 TB near-dup pipeline (LSH proposes, exact Jaccard disposes) that
    SCALE.md prescribes. Pair space = |candidates|, never N².

    Shuffle budget: ONE per-doc shingle-set aggregation (the doc sketch),
    then two keyed lookups attaching each side's set to the candidate
    pair; |∩| is a per-row array_intersect — no shingle-level join, no
    separate size aggregation, no cross product anywhere. At 100 TB the
    sketch is the unit that travels: candidate-pair count × set size,
    never corpus token count squared.

    Jaccard = |∩| / (|A|+|B|-|∩|) from integer counts — bit-deterministic.
    Candidate pairs sharing no shingle drop out (their Jaccard is 0, below
    any positive threshold).

    r16 (guide §2.4 "two ops keyed the same way share one exchange"):
    on the DEFAULT path the minhash signature mins and the Jaccard
    shingle sets are computed by ONE groupBy(doc_id) over ONE shingle
    stream — the propose and verify sides previously each exploded and
    shingled the corpus (three evaluations counting both join sides),
    paying the shingle transform, md5, and a doc-keyed exchange per
    evaluation. The combined doc-grain aggregate (k mins + one shingle
    set per doc) is fenced so the bands branch and both pair-side
    lookups read one materialization. It is doc-grain in ROWS but
    corpus-grain in BYTES — the sets hold about the whole shingled
    corpus (see fence()'s footprint note). Aggregate values are
    identical to the split form (same MIN over the same md5 stream —
    MIN is duplicate-insensitive; same collect_set), so results are
    unchanged. The combined form needs the verify width `n` to equal
    the proposer's width, which minhash_signatures and the DuckDB
    oracle (shingles_sql(3)) pin at 3; any other `n` proposes from
    minhash_signatures and verifies on its own n-grams."""
    if candidates is None and n == 3:
        sh = _shingles(docs, 3, distinct=False).select(
            "doc_id", "shingle", F.md5("shingle").alias("h")
        )
        from kstreams_spark.operators._util import fence

        combined = fence(
            sh.groupBy("doc_id").agg(
                *[
                    F.min(F.expr(_rot_sql("h", i))).alias(f"h{i}")
                    for i in range(n_hashes)
                ],
                F.collect_set("shingle").alias("shs"),
            )
        )
        candidates = minhash_band_pairs(
            combined.select("doc_id", *[f"h{i}" for i in range(n_hashes)]),
            n_hashes,
            n_bands,
        )
        doc_sets = combined.select("doc_id", "shs")
    else:
        if candidates is None:
            candidates = minhash_band_pairs(
                minhash_signatures(docs, n_hashes), n_hashes, n_bands
            )
        doc_sets = (
            _shingles(docs, n, distinct=False)
            .groupBy("doc_id")
            .agg(F.collect_set("shingle").alias("shs"))
        )
    s1 = doc_sets.select(
        F.col("doc_id").alias("doc_id1"), F.col("shs").alias("shs1")
    )
    s2 = doc_sets.select(
        F.col("doc_id").alias("doc_id2"), F.col("shs").alias("shs2")
    )
    scored = (
        candidates.join(s1, "doc_id1")
        .join(s2, "doc_id2")
        .select(
            "doc_id1",
            "doc_id2",
            F.size(F.array_intersect("shs1", "shs2")).alias("n_common"),
            F.size("shs1").alias("n1"),
            F.size("shs2").alias("n2"),
        )
    )
    jac = F.col("n_common").cast("double") / (
        F.col("n1") + F.col("n2") - F.col("n_common")
    )
    return (
        scored.withColumn("jaccard", jac)
        .filter((F.col("n_common") > 0) & (jac >= threshold))
        .select("doc_id1", "doc_id2", "n_common", "jaccard")
    )


def blocked_shingle_candidates(docs: DataFrame, n: int = 3) -> DataFrame:
    """Candidate pairs = docs sharing ≥1 shingle within a `source` block.
    The fixture-scale candidate generator (full recall at any threshold,
    pair space bounded per block); at 100 TB use MinHash band pairs
    instead — per-shingle buckets are still quadratic within a block.
    Same per-bucket enumeration shape as every other candidate generator
    (shingles + block lookup computed once, no self-join)."""
    sh = _shingles(docs, n)
    blocked = sh.join(docs.select("doc_id", "source"), "doc_id")
    per_bucket = (
        blocked.groupBy("source", "shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS doc_id1, y AS doc_id2))))"
    )
    return (
        per_bucket.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_id1", "p.doc_id2")
        .distinct()
    )


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH sh AS ({shingles_sql(3)}),
    sized AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    blocked AS (
      SELECT s.doc_id, s.shingle, d.source
      FROM sh s JOIN documents d USING (doc_id)
    ),
    inter AS (
      SELECT a.doc_id AS doc_id1, b.doc_id AS doc_id2, COUNT(*) AS n_common
      FROM blocked a
      JOIN blocked b ON a.source = b.source AND a.shingle = b.shingle
                     AND a.doc_id < b.doc_id
      GROUP BY a.doc_id, b.doc_id
    )
    SELECT i.doc_id1, i.doc_id2, i.n_common,
           CAST(i.n_common AS DOUBLE)
             / (s1.n_sh + s2.n_sh - i.n_common) AS jaccard
    FROM inter i
    JOIN sized s1 ON s1.doc_id = i.doc_id1
    JOIN sized s2 ON s2.doc_id = i.doc_id2
    WHERE CAST(i.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - i.n_common) >= 0.5
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs by exact 3-gram Jaccard ≥ 0.5 over source-blocked
    candidates, routed through the verifier API (ngram_jaccard_pairs).
    The candidate set here is "shares a shingle within a source block" —
    full recall, so the result equals the corpus-wide blocked join the
    oracle computes; the scoring path itself is candidate-scoped and
    identical to the one dedup_minhash_verified runs on LSH candidates."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(d, candidates=blocked_shingle_candidates(d, 3))


def _rot_sql(col: str, i: int) -> str:
    """Rotate a 32-char md5 hex string left by 4·i chars — the i-th hash
    function. One md5 per shingle instead of N_HASHES md5s; rotations of a
    uniform hash give distinct total orders, which is all minhash needs."""
    if i == 0:
        return col
    return f"concat(substr({col}, {4 * i + 1}, {32 - 4 * i}), substr({col}, 1, {4 * i}))"


def _minhash_cand_cte(src: str = "documents") -> str:
    """CTE chain `sh, sig, bands, cand` — `cand` is the distinct MinHash
    band-pair candidate set. Shared by the candidate query's oracle and
    the verified-pipeline query's oracle."""
    mins = ",\n           ".join(
        f"MIN({_rot_sql('md5(shingle)', i)}) AS h{i}" for i in range(N_HASHES)
    )
    bands = "\n      UNION ALL ".join(
        f"SELECT doc_id, {b} AS band_id, concat(h{2 * b}, h{2 * b + 1}) AS band_val FROM sig"
        for b in range(N_BANDS)
    )
    return f"""sh AS ({shingles_sql(3, src)}),
    sig AS (
      SELECT doc_id,
           {mins}
      FROM sh GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2
      FROM bands a
      JOIN bands b ON a.band_id = b.band_id AND a.band_val = b.band_val
                   AND a.doc_id < b.doc_id
    )"""


def _minhash_band_sql() -> str:
    return f"""
    WITH {_minhash_cand_cte()}
    SELECT doc_id1, doc_id2 FROM cand
    """


def _minhash_verified_cte(src: str = "documents", threshold: float = 0.5) -> str:
    """Extends the candidate CTE chain with `ver` = the Jaccard-verified
    near-dup pairs (the dedup_minhash_verified result). Shared by that
    query's oracle, the cluster-resolution oracle, the curation
    composite's oracle (src = its curated set), and the fuzzy
    decontamination oracle (src = corpus ∪ eval, looser threshold)."""
    return f"""{_minhash_cand_cte(src)},
    sized AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_id1, c.doc_id2, COUNT(*) AS n_common
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_id1
      JOIN sh s2 ON s2.doc_id = c.doc_id2 AND s2.shingle = s1.shingle
      GROUP BY c.doc_id1, c.doc_id2
    ),
    ver AS (
      SELECT i.doc_id1, i.doc_id2, i.n_common,
             CAST(i.n_common AS DOUBLE)
               / (s1.n_sh + s2.n_sh - i.n_common) AS jaccard
      FROM inter i
      JOIN sized s1 ON s1.doc_id = i.doc_id1
      JOIN sized s2 ON s2.doc_id = i.doc_id2
      WHERE CAST(i.n_common AS DOUBLE) / (s1.n_sh + s2.n_sh - i.n_common)
            >= {threshold}
    )"""


def _minhash_verified_sql() -> str:
    return f"""
    WITH {_minhash_verified_cte()}
    SELECT doc_id1, doc_id2, n_common, jaccard FROM ver
    """


def cc_closure_sql() -> str:
    """Generic transitive-closure CTE suffix: consumes a preceding CTE
    named `ver` with (doc_id1, doc_id2) pair columns and yields `labels`
    = (doc_id, keep_id = min node of the connected component). Callers
    must open their statement with WITH RECURSIVE. Shared by the text
    near-dup oracles and the embedding near-pair cluster oracle
    (operators/similarity.py)."""
    return """edges AS (
      SELECT doc_id1 AS src, doc_id2 AS dst FROM ver
      UNION
      SELECT doc_id2 AS src, doc_id1 AS dst FROM ver
    ),
    reach(src, dst) AS (
      SELECT src, dst FROM edges
      UNION
      SELECT r.src, e.dst FROM reach r JOIN edges e ON r.dst = e.src
    ),
    labels AS (
      SELECT src AS doc_id, LEAST(src, MIN(dst)) AS keep_id
      FROM reach GROUP BY src
    )"""


def _cluster_labels_cte(src: str = "documents") -> str:
    """Verified-pair CTEs + the generic closure suffix."""
    return f"""{_minhash_verified_cte(src)},
    {cc_closure_sql()}"""


def _cluster_resolution_sql() -> str:
    """DuckDB twin of connected-components resolution: labels CTE, then
    per-cluster sizes."""
    return f"""
    WITH RECURSIVE {_cluster_labels_cte()},
    sizes AS (
      SELECT keep_id, COUNT(*) AS n_members FROM labels GROUP BY keep_id
    )
    SELECT l.doc_id, l.keep_id, s.n_members,
           CAST(l.doc_id = l.keep_id AS BOOLEAN) AS is_kept
    FROM labels l JOIN sizes s USING (keep_id)
    """


def minhash_signatures(docs: DataFrame, n_hashes: int = N_HASHES) -> DataFrame:
    """(doc_id, text) → doc_id + n_hashes minhash columns h0..h{n-1}.

    One md5 per shingle, then a map-side partial MIN of n_hashes rotations
    per doc (MIN is duplicate-insensitive, so no distinct; the aggregation
    buffers fold rotations without materializing rotated arrays — a
    per-row array_min formulation was measured 2.5× slower)."""
    if not 1 <= n_hashes <= 8:
        raise ValueError("md5-rotation minhash supports 1..8 hash functions")
    sh = _shingles(docs, 3, distinct=False).select(
        "doc_id", F.md5("shingle").alias("h")
    )
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.expr(_rot_sql("h", i))).alias(f"h{i}")
            for i in range(n_hashes)
        ]
    )


def minhash_band_pairs(
    sig: DataFrame,
    n_hashes: int = N_HASHES,
    n_bands: int = N_BANDS,
    max_bucket: int | None = None,
) -> DataFrame:
    """Signatures → distinct candidate pairs by per-bucket enumeration.
    n_hashes/n_bands rows per band; a pair is a candidate iff some band's
    concatenated rows agree — never an all-pairs comparison. Each band
    bucket enumerates its own pairs in place (sorted collect_list +
    nested-transform expansion) instead of a band self-join, so the
    signature aggregation upstream is computed ONCE, not once per join
    side; bucket populations are bounded by the bands×rows sizing rule
    (dedup.py:33-41), so per-group lists stay small by construction.

    ``max_bucket`` is the hash-flooding skew valve (SCALE.md §dedup): a
    bucket over the cap (a degenerate band value — e.g. a flood of
    near-empty documents) is DROPPED rather than expanded quadratically
    in one task. Recall trade documented + measured in
    tests/test_dedup_quality.py; default None keeps exact band
    semantics."""
    if n_hashes % n_bands:
        raise ValueError("n_bands must divide n_hashes")
    rows = n_hashes // n_bands
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band_id"),
                F.concat(
                    *[F.col(f"h{rows * b + r}") for r in range(rows)]
                ).alias("band_val"),
            )
            for b in range(n_bands)
        ]
    )
    bands = sig.select(
        "doc_id", F.explode(band_structs).alias("band")
    ).select("doc_id", "band.band_id", "band.band_val")
    per_bucket = (
        bands.groupBy("band_id", "band_val")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ids"))
        .filter(F.size("ids") >= 2)
    )
    if max_bucket is not None:
        per_bucket = per_bucket.filter(F.size("ids") <= max_bucket)
    pair_expr = F.expr(
        "flatten(transform(ids, (x, i) -> "
        "transform(slice(ids, i + 2, size(ids)), "
        "y -> struct(x AS doc_id1, y AS doc_id2))))"
    )
    return (
        per_bucket.select(F.explode(pair_expr).alias("p"))
        .select("p.doc_id1", "p.doc_id2")
        .distinct()
    )


@query("dedup_minhash_lsh", oracle=_minhash_band_sql())
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs: 8 md5-seeded minhashes, 4 bands × 2 rows
    (the defaults; minhash_signatures/minhash_band_pairs take widths as
    arguments).

    Pipeline: shingle → md5 once per shingle → map-side partial MIN →
    band keys → equi-join on (band_id, band_val). Only docs colliding in
    a band are ever paired — the all-pairs space is never materialized,
    which is what makes MinHash-LSH the 100 TB near-dup algorithm."""
    d = spread(load_table(spark, sf_dir, "documents"))
    sig = minhash_signatures(d, N_HASHES)
    return minhash_band_pairs(sig, N_HASHES, N_BANDS)


@query("dedup_minhash_verified", oracle=_minhash_verified_sql())
def dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The complete two-stage near-dup pipeline: MinHash-LSH proposes
    candidate pairs (band equi-join, never all-pairs), exact 3-gram
    Jaccard verifies them (candidate-scoped, ngram_jaccard_pairs default
    path). This is the shape that runs at 100 TB — the oracle checks the
    whole propose→verify composition end-to-end."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return ngram_jaccard_pairs(d)


def _sim_h(j: int) -> tuple[str, int]:
    """Which pre-projected hash column and hex position feeds bit j:
    bits 0..31 from h0 = md5(token), 32..63 from h1 = md5(token||'1')."""
    return f"h{j // _BITS_PER_MD5}", j % _BITS_PER_MD5


def _simhash_sig_exprs() -> list[F.Column]:
    """Per-token ±1 contribution for each of SIM_BITS bits, from md5
    hex-digit parity: bit_j(token) = hexval(h[j])) % 2. Operates on
    pre-projected hex columns h0/h1 (md5 runs once per token row per
    salt, not once per aggregate buffer — the inline-md5 form paid
    SIM_BITS hashes/row)."""
    exprs = []
    for j in range(SIM_BITS):
        col, pos = _sim_h(j)
        exprs.append(
            F.expr(
                f"sum(2 * ((instr('0123456789abcdef', substring({col}, {pos + 1}, 1)) - 1) % 2) - 1)"
            ).alias(f"s{j}")
        )
    return exprs


HAM_MAX = 3  # near-dup threshold; needs HAM_MAX + 1 pigeonhole chunks
N_CHUNKS = HAM_MAX + 1
# integer division must be exact: a remainder would leave trailing
# signature bits outside every chunk and silently void the pigeonhole
# full-recall guarantee (mirrors the n_hashes % n_bands guard above)
assert SIM_BITS % N_CHUNKS == 0, "SIM_BITS must be a multiple of N_CHUNKS"
CHUNK_W = SIM_BITS // N_CHUNKS


def _simhash_sql() -> str:
    sums = ",\n           ".join(
        "SUM(2 * ((instr('0123456789abcdef', substring({col}, {pos}, 1)) - 1) % 2) - 1) AS s{j}".format(
            col=_sim_h(j)[0], pos=_sim_h(j)[1] + 1, j=j
        )
        for j in range(SIM_BITS)
    )
    bits = " || ".join(
        f"CASE WHEN s{j} >= 0 THEN '1' ELSE '0' END" for j in range(SIM_BITS)
    )
    ham = " + ".join(
        f"CASE WHEN substring(sig1, {j + 1}, 1) = substring(sig2, {j + 1}, 1) THEN 0 ELSE 1 END"
        for j in range(SIM_BITS)
    )
    return f"""
    WITH toks AS (
      SELECT doc_id, unnest(str_split(text, ' ')) AS token FROM documents
    ),
    hashed AS (
      SELECT doc_id, md5(token) AS h0, md5(token || '1') AS h1 FROM toks
    ),
    sums AS (
      SELECT doc_id, {sums}
      FROM hashed GROUP BY doc_id
    ),
    sigs AS (
      SELECT doc_id, {bits} AS sig FROM sums
    ),
    chunks AS (
      SELECT doc_id, sig, c AS chunk_idx,
             substring(sig, c * {CHUNK_W} + 1, {CHUNK_W}) AS chunk_val
      FROM sigs, (SELECT unnest(generate_series(0, {N_CHUNKS - 1})) AS c)
    ),
    cand AS (
      SELECT DISTINCT a.doc_id AS doc_id1, b.doc_id AS doc_id2,
                      a.sig AS sig1, b.sig AS sig2
      FROM chunks a
      JOIN chunks b ON a.chunk_idx = b.chunk_idx
                   AND a.chunk_val = b.chunk_val
                   AND a.doc_id < b.doc_id
    )
    SELECT doc_id1, doc_id2, {ham} AS hamming
    FROM cand
    WHERE {ham} <= {HAM_MAX}
    """


def _simhash_sig_batches(it):
    """mapInPandas body for simhash_signatures: per document, split on
    single spaces (the F.split(text, ' ') / str.split(' ') semantics —
    consecutive delimiters yield empty tokens in both), md5 each token
    occurrence twice (token, token||'1' — hashlib md5 is the same md5
    both engines print), take the PARITY of each hex digit (= the LSB of
    each digest nibble; hex char j is byte j//2, high nibble when j is
    even), sum ±1 contributions per bit across token occurrences, and
    emit the SIM_BITS-char '0'/'1' signature (bit = '1' iff sum ≥ 0).
    Integer-only arithmetic end to end — bit-identical to the JVM
    aggregation form it replaced (parity pin:
    tests/test_dedup_quality.py::test_simhash_signatures_match_jvm_twin)."""
    import hashlib

    import numpy as np
    import pandas as pd

    md5 = hashlib.md5
    empty = {
        "doc_id": pd.Series([], dtype="int64"),
        "sig": pd.Series([], dtype="object"),
        **{
            f"w{k}": pd.Series([], dtype="int64")
            for k in range(SIM_BITS // 16)
        },
    }
    for pdf in it:
        # a NULL text has no tokens and no signature, as the
        # explode(split(text)) form it replaced emitted no row for it
        pdf = pdf[pdf["text"].notna()]
        if len(pdf) == 0:
            yield pd.DataFrame(empty)
            continue
        tok_lists = [t.split(" ") for t in pdf["text"]]
        counts = np.fromiter(
            (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
        )
        flat = [tok for lst in tok_lists for tok in lst]
        b0 = b"".join(md5(t.encode("utf-8")).digest() for t in flat)
        b1 = b"".join(md5((t + "1").encode("utf-8")).digest() for t in flat)
        a0 = np.frombuffer(b0, dtype=np.uint8).reshape(-1, 16)
        a1 = np.frombuffer(b1, dtype=np.uint8).reshape(-1, 16)
        par = np.empty((a0.shape[0], SIM_BITS), dtype=np.int64)
        par[:, 0:32:2] = (a0 >> 4) & 1
        par[:, 1:32:2] = a0 & 1
        par[:, 32:64:2] = (a1 >> 4) & 1
        par[:, 33:64:2] = a1 & 1
        starts = np.zeros(len(counts), dtype=np.int64)
        starts[1:] = np.cumsum(counts)[:-1]
        sums = np.add.reduceat(2 * par - 1, starts, axis=0)
        ones = sums >= 0
        bits = np.where(ones, "1", "0")
        # 16-bit words of the signature (first char = MSB), packed as
        # int64 — the pair-grain Hamming consumers XOR+popcount these
        # instead of re-parsing the 64-char string per candidate pair
        # (r16: conv(substring) moved from pair grain to doc grain)
        shifts = np.arange(15, -1, -1, dtype=np.int64)
        words = {
            f"w{k}": (
                ones[:, 16 * k : 16 * (k + 1)].astype(np.int64) << shifts
            ).sum(axis=1)
            for k in range(SIM_BITS // 16)
        }
        yield pd.DataFrame(
            {
                "doc_id": pdf["doc_id"].astype("int64"),
                "sig": ["".join(r) for r in bits],
                **words,
            }
        )


def simhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """doc_id → SIM_BITS-char '0'/'1' simhash signature (frequency-
    weighted: tokens contribute once per occurrence), bits from md5
    hex-digit parity.

    r16 (guide §4.2/§2.4, VERDICT r15 task 5): ONE doc-grain mapInPandas
    replaces explode(split) + 2 JVM md5/token + a 64-SUM groupBy(doc_id)
    — the signature needs only the doc's own tokens, so it is computed
    where the doc row already sits: no token-row blowup (~55× rows), no
    per-bit substring+instr (64/row on the old agg path), and the
    groupBy(doc_id) EXCHANGE disappears outright. The Python boundary
    moves (doc_id, text) once — the same bytes the explode path scanned —
    and hashlib/NumPy do the hashing and bit math batch-wise. The r15
    popcount-only NumPy attempt regressed because it round-tripped the
    candidate PAIRS; this one crosses once, corpus-grain, and removes a
    shuffle (the verdict's amortization suggestion)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    words = ", ".join(f"w{k} long" for k in range(SIM_BITS // 16))
    return d.select("doc_id", "text").mapInPandas(
        _simhash_sig_batches, f"doc_id long, sig string, {words}"
    )


def simhash_candidate_pairs(
    sigs: DataFrame,
    max_bucket: int | None = None,
    ham_max: int = HAM_MAX,
    sim_bits: int = SIM_BITS,
    carry: tuple[str, ...] = ("sig",),
) -> DataFrame:
    """Pigeonhole prefix-chunk bucketing: split each signature into
    ham_max + 1 equal chunks; Hamming ≤ ham_max can flip bits in at most
    ham_max chunks, so every qualifying pair agrees exactly on at least
    one (chunk_idx, chunk_val) — candidates come from that bucket
    collision, never an all-pairs product. Exact (full recall by the
    pigeonhole argument) at ANY ham_max whose chunk width divides the
    signature; pair enumeration is bounded per bucket:
    E[bucket size] = N / 2^chunk_w per chunk index, so chunk_w scales
    with log2(N) at 100 TB (SCALE.md) — i.e. for a wider Hamming radius
    at the same N, widen sim_bits, don't shrink chunks.

    ``carry`` names the per-doc columns attached to each side of a pair
    (suffixed `1`/`2`). The default keeps the historical contract —
    distinct (doc_id1, doc_id2, sig1, sig2). dedup_simhash passes the
    packed signature words instead (r16): the bucket entries and the
    distinct then move 4 longs per side rather than a 64-char string,
    and the Hamming consumer XOR+popcounts longs instead of re-parsing
    the string per pair (measured ~1.9 s of the sf0.1 solo run in the
    per-pair conv(substring) form). Carried columns are functions of
    doc_id, so the distinct's cardinality is identical under any carry."""
    n_chunks = ham_max + 1
    if sim_bits % n_chunks:
        raise ValueError(
            f"sim_bits={sim_bits} must be a multiple of ham_max+1={n_chunks} "
            "(a remainder would leave bits outside every chunk and void "
            "the pigeonhole full-recall guarantee)"
        )
    chunk_w = sim_bits // n_chunks
    chunk_structs = F.array(
        *[
            F.struct(
                F.lit(c).alias("chunk_idx"),
                F.substring("sig", c * chunk_w + 1, chunk_w).alias("chunk_val"),
            )
            for c in range(n_chunks)
        ]
    )
    chunks = sigs.select(
        "doc_id", *carry, F.explode(chunk_structs).alias("ch")
    ).select("doc_id", *carry, "ch.chunk_idx", "ch.chunk_val")
    # per-bucket enumeration (struct sort orders by doc_id first, so
    # x.doc_id < y.doc_id holds within each expansion) — the signature
    # aggregation upstream is computed once, not once per join side
    per_bucket = (
        chunks.groupBy("chunk_idx", "chunk_val")
        .agg(
            F.sort_array(
                F.collect_list(F.struct("doc_id", *carry))
            ).alias("entries")
        )
        .filter(F.size("entries") >= 2)
    )
    if max_bucket is not None:  # hash-flooding skew valve, see
        per_bucket = per_bucket.filter(  # minhash_band_pairs docstring
            F.size("entries") <= max_bucket
        )
    carried = ", ".join(f"x.{c} AS {c}1, y.{c} AS {c}2" for c in carry)
    pair_expr = F.expr(
        "flatten(transform(entries, (x, i) -> "
        "transform(slice(entries, i + 2, size(entries)), "
        f"y -> struct(x.doc_id AS doc_id1, y.doc_id AS doc_id2, {carried}))))"
    )
    return (
        per_bucket.select(F.explode(pair_expr).alias("p"))
        .select(
            "p.doc_id1",
            "p.doc_id2",
            *[f"p.{c}{s}" for c in carry for s in ("1", "2")],
        )
        .distinct()
    )


def connected_components(
    pairs: DataFrame, max_iter: int = 25
) -> DataFrame:
    """Undirected connected components over a (doc_id1, doc_id2) pair set
    → one (node, label) row per node, label = the component's minimum
    node id. The transitive-closure step every pair-emitting dedup
    operator needs before survivors can be picked (a pairwise output
    cannot express that A–B plus B–C makes {A,B,C} one duplicate group).

    Algorithm: iterative min-label propagation with pointer jumping —
    each round a node's label becomes min(own, neighbors' labels,
    label-of-label). Neighbor propagation alone needs O(diameter) rounds;
    the label-of-label shortcut (pointer jumping) makes long chains
    collapse in O(log diameter), so max_iter=25 covers any component a
    real corpus can produce. All steps are equi-joins + partial-agg MINs
    — no all-pairs product, no driver-side graph. Labels only ever
    decrease, so the fixpoint is the unique per-component minimum
    regardless of partitioning (drift-safe).

    Scale notes: the edge list is localCheckpoint-ed once (upstream pair
    generation — e.g. the whole MinHash propose→verify pipeline — runs
    ONE time, not once per iteration; on a cluster use a reliable
    checkpoint dir instead) and each round's labels are checkpointed to
    truncate the iterative join lineage. Graphs at or below
    DRIVER_CC_MAX_EDGES symmetrized edges (≈32 MB — the same bounded-
    driver-state class as kmeans' O(k·D) collect) skip the loop for a
    driver union-find: identical labels, none of the per-round job
    scheduling; the distributed loop is the ≥cap path a 100 TB pair
    graph takes. Per-round cost: two joins on
    node id + one groupBy(node) MIN over (2|E| + 2|V|) rows. Convergence
    is detected by the strictly-decreasing label sum — one scalar agg per
    round, no old-vs-new join.

    The loop's SHUFFLE WIDTH is sized from the measured edge count (one
    partition per ~250k edges, floor 2) rather than inherited from
    spark.sql.shuffle.partitions: ~10 rounds × ~5 stages at the session
    default (200 under the grading driver) is pure task-scheduling
    overhead on pair graphs orders of magnitude smaller than the corpus
    — measured 2.3× end-to-end on the sf0.1 near-pair graph (7.6k edges).
    The conf is restored in a finally (results are width-invariant
    anyway: MIN is commutative — the drift gate varies this exact conf).

    Raises RuntimeError if max_iter rounds don't reach the fixpoint
    (returning a half-propagated labeling would silently split clusters).
    """
    e = pairs.select(
        F.col("doc_id1").alias("src"), F.col("doc_id2").alias("dst")
    )
    # the ONE place the upstream pair pipeline executes — at full session
    # width, which is what a corpus-sized propose→verify needs. r15:
    # symmetrize by exploding each edge into both directions IN the same
    # pass instead of union(e, swap(e)) — the union's two branches each
    # re-ran the whole propose→verify pipeline (Catalyst has no
    # cross-branch subplan reuse), doubling the most expensive stage of
    # every clustering query (guide §2.1). Same rows, same types.
    sym = (
        e.select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("src").alias("src"), F.col("dst").alias("dst")
                    ),
                    F.struct(
                        F.col("dst").alias("src"), F.col("src").alias("dst")
                    ),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .localCheckpoint(eager=True)
    )
    spark = pairs.sparkSession
    n_edges = sym.count()  # cheap: reads the checkpoint
    if n_edges == 0:  # no pairs at all → no clusters
        return spark.createDataFrame([], "node long, label long")
    if n_edges <= DRIVER_CC_MAX_EDGES:
        # The verified-pair graph is orders of magnitude smaller than
        # the corpus (it exists only where near-dups exist), and below
        # the cap a driver-side union-find beats ~7 distributed rounds
        # of job scheduling outright — measured 2.4 s → ~0.2 s on the
        # sf0.1 SemDeDup pair graph. Bounded driver state by the same
        # argument as kmeans' O(k·D) collect: collect() materializes
        # Row objects (~100-150 B each, ~10× the raw 16 B/edge), so the
        # cap is set where 500k Rows ≈ 50-75 MB transient heap — not by
        # the raw-bytes figure. Identical labels to the distributed loop
        # (tests/test_dedup_quality.py::test_driver_and_distributed_cc_agree);
        # deterministic regardless of partitioning — min-per-component
        # doesn't depend on edge order.
        return _cc_driver(spark, sym.collect())
    loop_parts = max(2, min(200, n_edges // 250_000 + 1))
    # coalesce (narrow, no shuffle) so every loop-side read of the edge
    # checkpoint is loop_parts map tasks, not the session-width layout —
    # under the grading driver's 200-partition session, 10 rounds
    # re-reading a 200-partition sym is 2 000 near-empty tasks
    sym = sym.coalesce(loop_parts)
    saved_parts = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(loop_parts))
    try:
        # built inside the conf scope: the node distinct is loop-sized too
        labels = (
            sym.select(F.col("src").alias("node"))
            .distinct()
            .withColumn("label", F.col("node"))
            .localCheckpoint(eager=True)
        )
        # strictly-decreasing monovariant; decimal sum can't overflow
        prev_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).first()[0]
        return _cc_loop(sym, labels, prev_sum, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", saved_parts)


# Above this many (symmetrized) edges the transitive closure stays fully
# distributed; below it the edge list collects to a driver union-find
# (sized for collect()'s Row-object overhead — see the dispatch comment).
DRIVER_CC_MAX_EDGES = 500_000


def _cc_driver(spark, edge_rows) -> DataFrame:
    """Union-find with path compression over collected (src, dst) rows →
    the same (node, label=min component member) frame the distributed
    loop produces. Edge order cannot affect the result: components are a
    set property and the label is their minimum member."""
    parent: dict[int, int] = {}

    def find(x: int) -> int:
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for r in edge_rows:
        a, b = r[0], r[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[ra] = rb
    label: dict[int, int] = {}
    for node in parent:
        root = find(node)
        cur = label.get(root)
        if cur is None or node < cur:
            label[root] = node
    rows = [(node, label[find(node)]) for node in parent]
    return spark.createDataFrame(rows, "node long, label long")


def _cc_loop(sym, labels, prev_sum, max_iter: int) -> DataFrame:
    for _ in range(max_iter):
        nbr = sym.join(labels, sym.dst == labels.node).select(
            F.col("src").alias("node"), "label"
        )
        hop = (
            labels.alias("a")
            .join(labels.alias("b"), F.col("a.label") == F.col("b.node"))
            .select(F.col("a.node").alias("node"), F.col("b.label").alias("label"))
        )
        labels = (
            labels.union(nbr)
            .union(hop)
            .groupBy("node")
            .agg(F.min("label").alias("label"))
            .localCheckpoint(eager=True)
        )
        cur_sum = labels.agg(
            F.sum(F.col("label").cast("decimal(38,0)"))
        ).first()[0]
        if cur_sum == prev_sum:
            return labels
        prev_sum = cur_sum
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} rounds "
        "(component diameter > 2^25 — raise max_iter)"
    )


def resolve_clusters(pairs: DataFrame, max_iter: int = 25) -> DataFrame:
    """Pairs → per-member survivor assignment: (doc_id, keep_id,
    n_members, is_kept). keep_id = the component's minimum doc_id (the
    same survivor rule dedup_exact uses), n_members = cluster size,
    is_kept marks the one canonical row per cluster. Docs in no pair are
    singletons by definition and are not emitted — a curation pipeline
    keeps them unconditionally."""
    from pyspark.sql import Window

    labels = connected_components(pairs, max_iter)
    members = labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("keep_id")
    )
    # r15: cluster size as a WINDOW over keep_id instead of
    # groupBy+join-back (the duplicated_starts shared-exchange
    # argument) — one keep_id exchange, no join, same rows.
    return members.select(
        "doc_id",
        "keep_id",
        F.count(F.lit(1))
        .over(Window.partitionBy("keep_id"))
        .alias("n_members"),
        (F.col("doc_id") == F.col("keep_id")).alias("is_kept"),
    )


@query("dedup_cluster_resolution", oracle=_cluster_resolution_sql())
def dedup_cluster_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The missing end of the near-dup story (VERDICT r4 #1): the verified
    MinHash pairs (dedup_minhash_verified) resolved into duplicate
    CLUSTERS — connected components over the pair graph, min-doc_id
    survivor per cluster, per-member (doc_id, keep_id, n_members,
    is_kept). The oracle replays the whole chain in DuckDB: propose →
    verify → WITH RECURSIVE transitive closure → min-label → sizes."""
    d = spread(load_table(spark, sf_dir, "documents"))
    return resolve_clusters(ngram_jaccard_pairs(d))


@query(
    "dedup_cluster_best_quality",
    oracle=f"""
    WITH RECURSIVE {_cluster_labels_cte()},
    scored AS (
      SELECT doc_id,
             0.4 * (CASE WHEN len(toks) > 100 THEN 1.0
                         ELSE CAST(len(toks) AS DOUBLE) / 100 END)
           + 0.3 * (CAST(len(list_distinct(toks)) AS DOUBLE) / len(toks))
           + 0.3 * (CASE WHEN list_contains(toks, 'the')
                          OR list_contains(toks, 'a')
                         THEN 1.0 ELSE 0.0 END) AS quality
      FROM (SELECT doc_id, str_split(text, ' ') AS toks FROM documents)
    ),
    ranked AS (
      SELECT l.doc_id, l.keep_id,
             ROW_NUMBER() OVER (PARTITION BY l.keep_id
                                ORDER BY s.quality DESC, l.doc_id) AS rn
      FROM labels l JOIN scored s USING (doc_id)
    ),
    winners AS (SELECT keep_id, doc_id AS best_id FROM ranked WHERE rn = 1)
    SELECT r.doc_id, r.keep_id, w.best_id,
           CAST(r.doc_id = w.best_id AS BOOLEAN) AS is_kept
    FROM ranked r JOIN winners w USING (keep_id)
    """,
)
def dedup_cluster_best_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware survivor election: the near-dup clusters of
    dedup_cluster_resolution, but the kept member is the HIGHEST-QUALITY
    doc (shared c4_quality_expr, ties → lowest doc_id) instead of the
    lowest doc_id — what a production curation run actually wants: when
    five copies of a page differ by boilerplate, keep the cleanest one,
    not the first-crawled one. keep_id stays the min-label cluster id
    (stable across re-runs), best_id is the elected survivor.

    The quality scalar is portable across engines because it is pure
    rational arithmetic evaluated in the same operation order (the same
    argument the curation composites' >= 0.5 gate rests on). Shuffle
    budget adds ONE window (per-cluster rank) + one broadcast-size join
    over the CC chain; quality is computed scan-side on the documents
    table, never on the pair graph."""
    from kstreams_spark.operators.text import c4_quality_expr

    d = spread(load_table(spark, sf_dir, "documents"))
    labels = connected_components(ngram_jaccard_pairs(d)).select(
        F.col("node").alias("doc_id"), F.col("label").alias("keep_id")
    )
    scored = load_table(spark, sf_dir, "documents").select(
        "doc_id", c4_quality_expr(F.split("text", " ")).alias("quality")
    )
    # r15: the winner is FIRST_VALUE over the same ordered window —
    # the former rank-filter + join-back put the labels⋈scored+window
    # subtree on two plan branches (it executed twice) and paid a
    # keep_id join; one full-frame window pass elects the identical
    # best_id for every member (deterministic total order).
    w_full = (
        Window.partitionBy("keep_id")
        .orderBy(F.col("quality").desc(), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return (
        labels.join(scored, "doc_id")
        .withColumn("best_id", F.first("doc_id").over(w_full))
        .select(
            "doc_id",
            "keep_id",
            "best_id",
            (F.col("doc_id") == F.col("best_id")).alias("is_kept"),
        )
    )


@query("dedup_simhash", oracle=_simhash_sql())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3, corpus-wide, via pigeonhole
    prefix-chunk bucketing (simhash_candidate_pairs) — no blocking column
    and no all-pairs enumeration anywhere. Replaces the round-1
    source-block join the docstring only promised to replace.

    Shuffle budget: one groupBy(doc_id) for signatures, one equi-join
    shuffle on (chunk_idx, chunk_val), one distinct on the candidate set.
    The chunk join is the only quadratic-risk step and only within a
    bucket (2^CHUNK_W buckets per chunk index).

    Hamming is scored with integer ops — XOR + bit_count over the
    packed 16-bit signature words the signature stage already emits
    (r16; they ride the bucket entries via ``carry``) — not a
    per-character compare (the 64-bit char form cost ~6 s over the
    sf0.1 candidate set) and not a per-pair conv(substring) re-parse
    (~1.9 s over 184k candidates: the r15 form parsed each 64-char
    signature back into words once per PAIR; words are doc-grain
    facts and are now computed once per DOC). The DuckDB oracle keeps
    the per-char sum (no conv there); only the VALUES must agree, and
    both compute the same Hamming distance."""
    sigs = simhash_signatures(spark, sf_dir)
    wcols = tuple(f"w{k}" for k in range(SIM_BITS // 16))
    cand = simhash_candidate_pairs(sigs, carry=wcols)
    ham = " + ".join(f"bit_count({c}1 ^ {c}2)" for c in wcols)
    return (
        cand.withColumn("hamming", F.expr(ham))
        .filter(F.col("hamming") <= HAM_MAX)
        .select("doc_id1", "doc_id2", "hamming")
    )


@query(
    "dedup_cluster_sizes",
    oracle=f"""
    WITH RECURSIVE {_cluster_labels_cte()},
    sizes AS (
      SELECT keep_id, COUNT(*) AS n_members FROM labels GROUP BY keep_id
    )
    SELECT n_members::BIGINT AS cluster_size,
           COUNT(*)::BIGINT AS n_clusters,
           SUM(n_members)::BIGINT AS n_docs,
           SUM(n_members - 1)::BIGINT AS n_droppable
    FROM sizes GROUP BY n_members
    """,
)
def dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the dedup-impact report a
    corpus build reads before committing to a threshold: how many
    clusters of each size exist, how many docs they hold, and how many
    are droppable (size − 1 per cluster — the storage/token saving the
    dedup pass buys). A long tail of giant clusters usually means
    boilerplate, not true duplication, and argues for tightening the
    Jaccard threshold; this histogram is how you see it. One extra tiny
    two-level agg on top of the resolution machinery."""
    d = spread(load_table(spark, sf_dir, "documents"))
    pairs = ngram_jaccard_pairs(
        d, candidates=minhash_band_pairs(minhash_signatures(d))
    ).select("doc_id1", "doc_id2")
    sizes = (
        resolve_clusters(pairs)
        .filter(F.col("is_kept"))
        .select("n_members")
    )
    return sizes.groupBy(
        F.col("n_members").cast("long").alias("cluster_size")
    ).agg(
        F.count(F.lit(1)).cast("long").alias("n_clusters"),
        F.sum("n_members").cast("long").alias("n_docs"),
        F.sum(F.col("n_members") - 1).cast("long").alias("n_droppable"),
    )


CONTAINMENT_THRESHOLD = 0.8


@query(
    "dedup_ngram_containment",
    oracle=f"""
    WITH {_minhash_cand_cte()},
    sized AS (SELECT doc_id, COUNT(*) AS n_sh FROM sh GROUP BY doc_id),
    inter AS (
      SELECT c.doc_id1, c.doc_id2, COUNT(*) AS n_common
      FROM cand c
      JOIN sh s1 ON s1.doc_id = c.doc_id1
      JOIN sh s2 ON s2.doc_id = c.doc_id2 AND s2.shingle = s1.shingle
      GROUP BY c.doc_id1, c.doc_id2
    )
    SELECT i.doc_id1, i.doc_id2, i.n_common,
           CAST(i.n_common AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh)
             AS containment
    FROM inter i
    JOIN sized s1 ON s1.doc_id = i.doc_id1
    JOIN sized s2 ON s2.doc_id = i.doc_id2
    WHERE CAST(i.n_common AS DOUBLE) / LEAST(s1.n_sh, s2.n_sh)
          >= {CONTAINMENT_THRESHOLD}
    """,
)
def dedup_ngram_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CONTAINMENT-scored near-dup pairs: |∩| / min(|A|, |B|) — the
    metric that catches a document embedded inside a much longer one
    (quotes, scraped mirrors with added boilerplate), which symmetric
    Jaccard structurally misses: a doc fully contained in one 4× its
    size scores Jaccard ≈ 0.25 but containment 1.0. Same candidate-
    scoped propose→verify shape as dedup_minhash_verified (the MinHash
    bands propose; only the scoring formula differs), so the pair space
    stays |candidates|, never N². One caveat is inherited from MinHash:
    band recall is tuned for resemblance, not containment — at 100 TB a
    containment-first pipeline adds the shingle-hash inclusion probe
    (decontam.py's shape) as a second candidate generator."""
    d = spread(load_table(spark, sf_dir, "documents"))
    cand = minhash_band_pairs(minhash_signatures(d))
    doc_sets = (
        _shingles(d, 3, distinct=False)
        .groupBy("doc_id")
        .agg(F.collect_set("shingle").alias("shs"))
    )
    s1 = doc_sets.select(
        F.col("doc_id").alias("doc_id1"), F.col("shs").alias("shs1")
    )
    s2 = doc_sets.select(
        F.col("doc_id").alias("doc_id2"), F.col("shs").alias("shs2")
    )
    scored = (
        cand.join(s1, "doc_id1")
        .join(s2, "doc_id2")
        .select(
            "doc_id1",
            "doc_id2",
            F.size(F.array_intersect("shs1", "shs2")).alias("n_common"),
            F.least(F.size("shs1"), F.size("shs2")).alias("n_min"),
        )
    )
    cont = F.col("n_common").cast("double") / F.col("n_min")
    return (
        scored.withColumn("containment", cont)
        .filter(
            (F.col("n_common") > 0) & (cont >= CONTAINMENT_THRESHOLD)
        )
        .select("doc_id1", "doc_id2", "n_common", "containment")
    )


def _triangle_oracle() -> str:
    """Composes the registered verified-pairs oracle as a derived table
    (nested WITH — same technique as similarity_recall_report)."""
    from kstreams_spark.registry import ORACLES

    verified = ORACLES["dedup_minhash_verified"]
    return f"""
    WITH p AS (SELECT doc_id1 AS a, doc_id2 AS b FROM ({verified}) t),
    tri AS (
      SELECT e1.a, e1.b, e2.b AS c
      FROM p e1
      JOIN p e2 ON e2.a = e1.b
      JOIN p e3 ON e3.a = e1.a AND e3.b = e2.b
    ),
    m AS (
      SELECT a AS doc_id FROM tri
      UNION ALL SELECT b FROM tri
      UNION ALL SELECT c FROM tri
    )
    SELECT doc_id, COUNT(*) AS n_triangles FROM m GROUP BY doc_id
    """


@query("dedup_triangle_count", oracle=_triangle_oracle())
def dedup_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle counting on the verified near-dup graph — the classic
    distributed-graph primitive (Suri & Vassilvitskii WWW'11), here
    answering a curation question the cluster-size histogram can't: how
    CLIQUE-LIKE are the dup clusters? A chain of borderline pairs and a
    tight mutual-duplicate clique have the same component size but very
    different triangle counts — high triangle density says the verifier
    threshold is finding real duplicate groups, not daisy-chains.

    Canonical pairs (a < b) make each triangle enumerable exactly once
    as a < b < c: two self-joins walk a→b→c, a third checks the closing
    (a, c) edge — hash equi-joins on doc ids, work bounded by Σ deg(v)²
    over the (sparse, verified) pair graph, never corpus-quadratic. The
    oracle composes the registered verified-pairs oracle and replays the
    same walk."""
    from kstreams_spark.operators._util import fence

    d = spread(load_table(spark, sf_dir, "documents"))
    # the verified-pairs subtree is the expensive part and feeds all
    # THREE walk sides — unfenced it executes 3× (plan audit: 27 scans,
    # 46 exchanges); one fence materializes the sparse edge list once
    p = fence(
        ngram_jaccard_pairs(d).select(
            F.col("doc_id1").alias("a"), F.col("doc_id2").alias("b")
        )
    )
    e1 = p
    e2 = p.select(F.col("a").alias("b"), F.col("b").alias("c"))
    e3 = p.select(F.col("a").alias("a3"), F.col("b").alias("c3"))
    tri = (
        e1.join(e2, "b")
        .join(
            e3,
            (F.col("a3") == F.col("a")) & (F.col("c3") == F.col("c")),
        )
        .select("a", "b", "c")
    )
    # r15: emit all three corners in ONE pass — the unionAll's three
    # branches each re-ran the two-join triangle walk (fence stops the
    # pair pipeline re-running, not the walk; Catalyst has no
    # cross-branch subplan reuse — the connected_components symmetrize
    # argument). Same multiset of doc_ids, same counts.
    m = tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
    return m.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_triangles"))


def _jaccard_bands_oracle() -> str:
    from kstreams_spark.registry import ORACLES

    verified = ORACLES["dedup_minhash_verified"]
    return f"""
    WITH p AS (SELECT jaccard FROM ({verified}) t)
    SELECT CASE WHEN jaccard >= 0.9 THEN '0.9+'
                WHEN jaccard >= 0.7 THEN '0.7-0.9'
                ELSE '0.5-0.7' END AS band,
           COUNT(*) AS n_pairs
    FROM p GROUP BY 1
    """


@query("dedup_jaccard_bands", oracle=_jaccard_bands_oracle())
def dedup_jaccard_bands(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-calibration report: the verified near-dup pairs bucketed
    by Jaccard band. Tightening the dedup threshold to 0.7 or 0.9 drops
    exactly the lower bands' pair volume — this table is the evidence a
    threshold decision cites (a fat 0.5–0.7 band means the current
    cutoff is doing real work; an empty one means it can tighten for
    free). Derived from ONE run of the registered propose→verify
    pipeline; the band comparison on the fixed-point-derived jaccard
    doubles is engine-identical because the values themselves are
    (oracle composes the verified-pairs oracle)."""
    d = spread(load_table(spark, sf_dir, "documents"))
    p = ngram_jaccard_pairs(d).select("jaccard")
    band = (
        F.when(F.col("jaccard") >= 0.9, "0.9+")
        .when(F.col("jaccard") >= 0.7, "0.7-0.9")
        .otherwise("0.5-0.7")
    )
    return p.groupBy(band.alias("band")).agg(
        F.count(F.lit(1)).alias("n_pairs")
    )


PR_BASE = 10**9  # fixed-point initial rank per node
PR_ITERS = 3  # power-iteration rounds (unrolled in the oracle)


def _pagerank_oracle() -> str:
    """Composes the verified-pairs oracle, then unrolls the integer
    power iteration — one CTE per round, same arithmetic as the engine."""
    from kstreams_spark.registry import ORACLES

    verified = ORACLES["dedup_minhash_verified"]
    teleport = (15 * PR_BASE) // 100
    prev = "r0"
    iters = []
    for i in range(1, PR_ITERS + 1):
        iters.append(f"""
    i{i} AS (
      SELECT d.node, d.deg,
             {teleport} + (85 * SUM(r.r // r.deg)) // 100 AS r
      FROM deg d
      JOIN e ON e.dst = d.node
      JOIN {prev} r ON r.node = e.src
      GROUP BY d.node, d.deg
    )""")
        prev = f"i{i}"
    return f"""
    WITH p AS (SELECT doc_id1 AS a, doc_id2 AS b FROM ({verified}) t),
    e AS (SELECT a AS src, b AS dst FROM p UNION ALL SELECT b, a FROM p),
    deg AS (SELECT src AS node, COUNT(*) AS deg FROM e GROUP BY src),
    r0 AS (SELECT node, deg, {PR_BASE}::BIGINT AS r FROM deg),
    {",".join(iters)}
    SELECT node AS doc_id, deg::BIGINT AS degree, r::BIGINT AS pr_fx
    FROM {prev}
    """


@query("dedup_pagerank_centrality", oracle=_pagerank_oracle())
def dedup_pagerank_centrality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified near-dup graph ({PR_ITERS}
    power-iteration rounds, damping 0.85) — the graph primitive the CC /
    triangle pair can't express: WHICH node anchors a cluster. High-rank
    nodes are template/boilerplate hubs (one page near-duplicating many)
    — exactly the docs a curation pass should inspect before electing
    survivors, and a ranking signal dedup_cluster_best_quality can
    consume. Complements triangles (cliquishness) with influence.

    Determinism: pure 64-bit integer fixed-point — init {PR_BASE} per
    node, each round r' = (15·base)//100 + (85·Σ r(u) DIV deg(u))//100
    over in-neighbors; integer floor-division is identical in both
    engines (positive operands) and integer sums are order-independent,
    so a float-free PageRank survives any partitioning (drift-safe).
    Fixed iteration count keeps the oracle expressible as {PR_ITERS}
    unrolled CTEs — certified end-to-end including the propose→verify
    edge generation.

    Scale: the edge list is fenced ONCE (the expensive MinHash
    propose→verify subtree runs one time, not once per round — the
    triangle-count lesson); each round is one equi-join on node id +
    one partial-agg SUM over 2|E| rows, bounded by the (sparse) dup
    graph, never the corpus. At 100 TB graph scale, add the CC loop's
    measured-width scoping (dedup.py:connected_components) — at fixture
    scale {PR_ITERS} rounds of tiny joins don't warrant the conf dance.
    """
    from kstreams_spark.operators._util import fence

    d = spread(load_table(spark, sf_dir, "documents"))
    p = fence(
        ngram_jaccard_pairs(d).select(
            F.col("doc_id1").alias("a"), F.col("doc_id2").alias("b")
        )
    )
    return pagerank_fixed(p)


def pagerank_fixed(pairs: DataFrame, iters: int = PR_ITERS) -> DataFrame:
    """The integer power iteration over an undirected (a, b) pair set —
    see dedup_pagerank_centrality for the arithmetic contract. Exposed
    for planted-graph tests (hub-dominance pinned in
    tests/test_dedup_quality.py).

    r15: the same two-path dispatch as connected_components. The edge
    list symmetrizes via ONE explode pass (the union form re-ran the
    upstream pair pipeline per branch) into an eager checkpoint; at or
    below DRIVER_PR_MAX_EDGES the iteration runs in the driver over
    NumPy int64 arrays — the arithmetic is the identical integer
    expression (r DIV deg per edge, exact int64 sums, 85·s DIV 100), so
    labels match the distributed loop bitwise
    (tests/test_dedup_quality.py parity pin) and ~12 per-round
    join/agg jobs collapse to collect + createDataFrame. Above the cap
    the distributed loop runs unchanged off the same checkpoint."""
    sym = (
        pairs.select(
            F.explode(
                F.array(
                    F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                    F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
                )
            ).alias("p")
        )
        .select("p.src", "p.dst")
        .localCheckpoint(eager=True)
    )
    spark = pairs.sparkSession
    n_edges = sym.count()  # cheap: reads the checkpoint
    if n_edges == 0:
        return spark.createDataFrame(
            [], "doc_id long, degree long, pr_fx long"
        )
    if n_edges <= DRIVER_PR_MAX_EDGES:
        return _pagerank_driver(spark, sym.collect(), iters)
    e = sym
    deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("deg")).select(
        F.col("src").alias("node"), "deg"
    )
    teleport = (15 * PR_BASE) // 100
    r = deg.withColumn("r", F.lit(PR_BASE).cast("long"))
    for _ in range(iters):
        contrib = (
            e.join(
                r.select(F.col("node").alias("src"), "deg", "r"), "src"
            )
            .select(
                F.col("dst").alias("node"), F.expr("r DIV deg").alias("c")
            )
        )
        summed = contrib.groupBy("node").agg(F.sum("c").alias("s"))
        r = deg.join(summed, "node").select(
            "node",
            "deg",
            (F.lit(teleport) + F.expr("(85 * s) DIV 100"))
            .cast("long")
            .alias("r"),
        )
    return r.select(
        F.col("node").alias("doc_id"),
        F.col("deg").cast("long").alias("degree"),
        F.col("r").alias("pr_fx"),
    )


# Same bounded-driver-state class (and sizing argument) as
# DRIVER_CC_MAX_EDGES: collect() Rows cost ~100-150 B each, so 500k
# symmetrized edges ≈ 50-75 MB transient driver heap.
DRIVER_PR_MAX_EDGES = 500_000


def _pagerank_driver(spark, edge_rows, iters: int) -> DataFrame:
    """NumPy int64 replay of the distributed power iteration over the
    collected symmetrized edges. Every step is the same integer
    arithmetic on the same operands — floor division on non-negative
    int64 (== Spark DIV), exact int64 addition (order-free), so the
    result is independent of edge order and bitwise-equal to the loop.
    Magnitudes: r ≤ |E|·PR_BASE ≈ 5e14 at the cap, 85·Σ(r DIV deg) ≤
    85·Σr ≈ 4e16 — far inside int64."""
    import numpy as np

    n = len(edge_rows)
    src = np.fromiter((r[0] for r in edge_rows), dtype=np.int64, count=n)
    dst = np.fromiter((r[1] for r in edge_rows), dtype=np.int64, count=n)
    # symmetrized: every node appears as a src, so `nodes` is complete
    nodes, src_idx = np.unique(src, return_inverse=True)
    deg = np.bincount(src_idx, minlength=len(nodes)).astype(np.int64)
    dst_idx = np.searchsorted(nodes, dst)
    teleport = (15 * PR_BASE) // 100
    r = np.full(len(nodes), PR_BASE, dtype=np.int64)
    for _ in range(iters):
        c = r[src_idx] // deg[src_idx]
        s = np.zeros(len(nodes), dtype=np.int64)
        np.add.at(s, dst_idx, c)
        r = teleport + (85 * s) // 100
    rows = [
        (int(nodes[i]), int(deg[i]), int(r[i])) for i in range(len(nodes))
    ]
    return spark.createDataFrame(rows, "doc_id long, degree long, pr_fx long")


def _capture_report_oracle() -> str:
    """Composes the full-recall blocked ground truth and the MinHash
    propose→verify pipeline (both registered oracles) into the capture
    report. The theoretical capture probability 1-(1-j²)⁴ is spelled as
    the same nested multiplication chain the engine computes —
    identical parenthesization, no pow()."""
    from kstreams_spark.registry import ORACLES

    truth = ORACLES["dedup_ngram_jaccard"]
    prop = ORACLES["dedup_minhash_verified"]
    p_expr = (
        "(1 - ((1 - t.jaccard * t.jaccard) * (1 - t.jaccard * t.jaccard))"
        " * ((1 - t.jaccard * t.jaccard) * (1 - t.jaccard * t.jaccard)))"
    )
    return f"""
    WITH truth AS ({truth}),
    prop AS (SELECT doc_id1, doc_id2 FROM ({prop}) v),
    m AS (
      SELECT CASE WHEN t.jaccard >= 0.9 THEN '0.9+'
                  WHEN t.jaccard >= 0.7 THEN '0.7-0.9'
                  ELSE '0.5-0.7' END AS band,
             CASE WHEN p.doc_id1 IS NOT NULL THEN 1 ELSE 0 END AS captured,
             {p_expr} AS p_capture
      FROM truth t LEFT JOIN prop p USING (doc_id1, doc_id2)
    )
    SELECT band, COUNT(*) AS n_truth,
           SUM(captured)::BIGINT AS n_captured,
           CAST((SUM(captured) * 1000000) // COUNT(*) AS BIGINT)
             AS capture_ppm,
           CAST(SUM(CAST(p_capture AS DECIMAL(18,6))) AS DOUBLE) / COUNT(*)
             AS expected_capture
    FROM m GROUP BY band
    """


@query("dedup_minhash_capture_report", oracle=_capture_report_oracle())
def dedup_minhash_capture_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH capture calibration — theory vs measurement for the MinHash
    band configuration (r=2 rows × b={N_BANDS} bands): per Jaccard band
    of the FULL-RECALL ground truth (source-blocked shingle-sharing
    pairs, the fixture-scale exhaustive generator), the fraction the
    propose→verify pipeline actually captured, next to the S-curve
    expectation E[1-(1-j²)⁴]. A measured capture far under the expected
    column means the banding (not the verifier) is losing pairs — the
    evidence that buys more bands; matching columns certify the config.
    The ANN side's twin is similarity_recall_report; this is the
    dedup-side "measure, don't guess" artifact.

    Determinism: capture flags are integers; the expected probability
    is the SAME nested multiplication chain in both engines (no pow —
    transcendental-free), and its mean goes through DECIMAL(18,6).
    Scale: both legs are the registered pipelines (bounded candidate
    spaces); the report join is truth-pair-sized."""
    d = spread(load_table(spark, sf_dir, "documents"))
    truth = ngram_jaccard_pairs(
        d, candidates=blocked_shingle_candidates(d, 3)
    ).select("doc_id1", "doc_id2", "jaccard")
    prop = ngram_jaccard_pairs(d).select("doc_id1", "doc_id2").withColumn(
        "captured", F.lit(1)
    )
    jj = F.col("jaccard") * F.col("jaccard")
    m1 = F.lit(1.0) - jj
    m2 = m1 * m1
    p_capture = F.lit(1.0) - m2 * m2
    m = truth.join(prop, ["doc_id1", "doc_id2"], "left").select(
        F.when(F.col("jaccard") >= 0.9, "0.9+")
        .when(F.col("jaccard") >= 0.7, "0.7-0.9")
        .otherwise("0.5-0.7")
        .alias("band"),
        F.coalesce(F.col("captured"), F.lit(0)).alias("captured"),
        p_capture.alias("p_capture"),
    )
    return m.groupBy("band").agg(
        F.count(F.lit(1)).alias("n_truth"),
        F.sum("captured").cast("long").alias("n_captured"),
        F.expr("CAST((SUM(captured) * 1000000) DIV COUNT(*) AS BIGINT)")
        .alias("capture_ppm"),
        (
            F.sum(F.col("p_capture").cast("decimal(18,6)")).cast("double")
            / F.count(F.lit(1))
        ).alias("expected_capture"),
    )


K_FOLDS = 5


def _kfold_oracle() -> str:
    from kstreams_spark.operators.sampling import _BUCKET_SQL

    bucket = _BUCKET_SQL.format(key="CAST(g.group_key AS VARCHAR)")
    return f"""
    WITH RECURSIVE {_cluster_labels_cte()},
    g AS (
      SELECT d.doc_id,
             COALESCE(l.keep_id, d.doc_id) AS group_key,
             CASE WHEN l.doc_id IS NULL THEN 0 ELSE 1 END AS in_cluster
      FROM documents d LEFT JOIN labels l ON l.doc_id = d.doc_id
    )
    SELECT g.doc_id, g.group_key, g.in_cluster::BIGINT AS in_cluster,
           CAST(({bucket}) % {K_FOLDS} AS BIGINT) AS fold
    FROM g
    """


@query("sample_kfold_cluster_safe", oracle=_kfold_oracle())
def sample_kfold_cluster_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe {K_FOLDS}-fold cross-validation assignment: the fold
    is hashed from the near-dup CLUSTER id (the CC keep_id; singletons
    are their own group), so every member of a duplicate cluster lands
    in the SAME fold — naive per-doc fold hashing puts near-identical
    docs on both sides of a CV split and inflates every validation
    metric, the same leakage argument dedup-before-split makes for
    train/test (composite_curation_pipeline), applied to k-fold. Folds
    are md5-hash-stable: reproducible across engines, runs, and corpus
    growth (a new doc changes only its own group's fold membership).

    Oracle replays the full chain: propose → verify → WITH RECURSIVE
    closure → group key → md5 fold. Scale: the pair pipeline is the
    bounded candidate machinery; the label attach is one LEFT join of
    the (sparse) labels onto the corpus; fold hashing is scan-shaped."""
    d = spread(load_table(spark, sf_dir, "documents"))
    labels = resolve_clusters(ngram_jaccard_pairs(d)).select(
        "doc_id", "keep_id"
    )
    from kstreams_spark.operators.sampling import _bucket_from

    g = d.select("doc_id").join(labels, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("keep_id"), F.col("doc_id")).alias("group_key"),
        F.when(F.col("keep_id").isNull(), 0)
        .otherwise(1)
        .cast("long")
        .alias("in_cluster"),
    )
    return g.select(
        "doc_id",
        "group_key",
        "in_cluster",
        (_bucket_from(F.col("group_key").cast("string")) % K_FOLDS)
        .cast("long")
        .alias("fold"),
    )


@query(
    "dedup_url_canonical",
    oracle="""
    WITH canon AS (  -- the CANONICAL form, derived arithmetically from
                     -- the same doc_id the messy fixture URL encodes —
                     -- the codec-fixture doctrine: the Spark side must
                     -- PARSE its way back to this or hash-mismatch
      SELECT doc_id,
             'site' || CAST(doc_id % 7 AS VARCHAR) || '.example.com'
               AS host,
             '/p/' || CAST(doc_id % 50 AS VARCHAR)
               || CASE WHEN doc_id % 25 = 0 THEN ''
                       ELSE '?id=' || CAST(doc_id % 25 AS VARCHAR) END
               AS rest
      FROM documents WHERE doc_id < 400
    ),
    grouped AS (
      SELECT host, host || rest AS curl,
             COUNT(*) AS n_dups, MIN(doc_id) AS keep_id
      FROM canon GROUP BY 1, 2
    )
    SELECT host,
           COUNT(*) AS n_canonical,
           SUM(n_dups)::BIGINT AS n_docs,
           SUM(n_dups - 1)::BIGINT AS n_shadowed,
           SUM(keep_id)::BIGINT AS keep_id_sum
    FROM grouped GROUP BY host
    """,
)
def dedup_url_canonical(spark: SparkSession, sf_dir: str) -> DataFrame:
    """URL-CANONICALIZATION dedup (r14 — the CommonCrawl curation step
    that runs BEFORE any content dedup: the same page is crawled under
    case-varied hosts, www prefixes, tracking params, fragments, and
    trailing slashes). The fixture synthesizes a MESSY url per doc —
    scheme http/https by parity, host case flipped and www.-prefixed on
    alternating docs, utm_* tracking params injected, real params in
    shuffled positions, #fragments, trailing slashes — and the operator
    canonicalizes with real string/regex work: lowercase host, strip
    www., drop the scheme, drop utm_*/fbclid params, KEEP real params
    (sorted), strip fragment and trailing slash. Winner per canonical
    URL = min doc_id (deterministic election); per-host stats make
    every canonicalization rule value-visible (a rule skipped →
    n_canonical inflates; over-canonicalizing the id param →
    n_shadowed inflates). The oracle derives the canonical form
    ARITHMETICALLY from doc_id — the Spark side must parse its way
    back to it (the codec-fixture doctrine).

    Shuffle budget: one synth-and-parse map pass + one (host, curl)
    aggregation + one host aggregation. At 100 TB this is the cheapest
    dedup family member — pure per-row string work into a
    hash-partitioned groupBy, no candidate generation at all."""
    d = spread(
        load_table(spark, sf_dir, "documents")
        .select("doc_id")
        .filter(F.col("doc_id") < 400)
    )
    i = F.col("doc_id")
    host_raw = F.concat(
        # alternating case noise + www. prefix on odd docs
        F.when(i % 2 == 1, F.lit("WWW.")).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit("Site")).otherwise(F.lit("site")),
        (i % 7).cast("string"),
        F.when(i % 5 == 0, F.lit(".Example.COM")).otherwise(
            F.lit(".example.com")
        ),
    )
    real_param = F.when(
        i % 25 == 0, F.lit("")
    ).otherwise(F.concat(F.lit("id="), (i % 25).cast("string")))
    tracking = F.concat(
        F.lit("utm_source=s"),
        (i % 4).cast("string"),
        F.lit("&utm_campaign=c"),
        (i % 3).cast("string"),
    )
    # param order varies: tracking-first on even docs, real-first on odd
    qs = F.when(
        real_param == "", F.concat(F.lit("?"), tracking)
    ).otherwise(
        F.when(
            i % 2 == 0,
            F.concat(F.lit("?"), tracking, F.lit("&"), real_param),
        ).otherwise(
            F.concat(F.lit("?"), real_param, F.lit("&"), tracking)
        )
    )
    messy = F.concat(
        F.when(i % 2 == 0, F.lit("http://")).otherwise(F.lit("https://")),
        host_raw,
        F.lit("/p/"),
        (i % 50).cast("string"),
        F.when(i % 4 == 0, F.lit("/")).otherwise(F.lit("")),  # trailing /
        qs,
        F.when(i % 6 == 0, F.lit("#sec")).otherwise(F.lit("")),  # fragment
    )
    url = d.withColumn("url", messy)
    # --- the operator under test: canonicalize by parsing ---
    no_frag = F.regexp_replace("url", r"#.*$", "")
    no_scheme = F.regexp_replace(no_frag, r"^https?://", "")
    host = F.lower(
        F.regexp_replace(F.split(no_scheme, r"[/?]").getItem(0), r"^(?i)www\.", "")
    )
    path_q = F.substring(
        no_scheme, F.length(F.split(no_scheme, r"[/?]").getItem(0)) + 1, 10_000
    )
    path = F.regexp_replace(
        F.split(path_q, r"\?").getItem(0), r"/$", ""
    )
    params = F.filter(
        F.split(
            F.coalesce(F.split(path_q, r"\?").getItem(1), F.lit("")), "&"
        ),
        lambda p: (p != "")
        & ~p.startswith("utm_")
        & ~p.startswith("fbclid"),
    )
    canon = url.select(
        "doc_id",
        host.alias("host"),
        F.concat(
            host,
            path,
            F.when(F.size(params) == 0, F.lit("")).otherwise(
                F.concat(
                    F.lit("?"),
                    F.array_join(F.array_sort(params), "&"),
                )
            ),
        ).alias("curl"),
    )
    grouped = canon.groupBy("host", "curl").agg(
        F.count(F.lit(1)).alias("n_dups"),
        F.min("doc_id").alias("keep_id"),
    )
    return grouped.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_canonical"),
        F.sum("n_dups").alias("n_docs"),
        (F.sum("n_dups") - F.count(F.lit(1))).alias("n_shadowed"),
        F.sum("keep_id").alias("keep_id_sum"),
    )
