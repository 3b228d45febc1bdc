"""ANN serving path: a persisted inverted LSH index + single-query probe.

Offline, `write_lsh_index` explodes the corpus into one row per
(table, signature) posting and writes it PARTITIONED BY the bucket key —
so the lake layout IS the index. Online, `probe_lsh_index` computes the
query's signatures driver-side (pure-Python twin of the engine's
hyperplane signing — same md5 planes, same fixed-point rounding), reads
ONLY the matching bucket partitions (Spark's partition pruning; the scan
node shows PartitionFilters — asserted in tests/test_serving.py), and
exact-cosine re-ranks the postings it touched.

This is the online half of the ANN family: StreamingLshIndex ingests,
lsh_near_pairs mines, kmeans fits cells, this probes. At 100 TB a probe
reads n_tables buckets ≈ n_tables · N/2^bits postings — IO scales with
the bucket budget (lsh_bits_for), not the corpus.

Storage cost: n_tables× row duplication (the classic inverted-file
trade); partition count = n_tables · 2^bits directories, so `bits` must
respect the object-store's file-count budget as well as the re-rank
budget.

Kafka Streams mapping (r15 note): this module and streaming/hybrid.py
are the engine's INTERACTIVE QUERIES analog (KS IQ/IQv2 —
KafkaStreams#store + StateQueryRequest): the state an ingest pipeline
maintains, queryable at serving time with snapshot consistency (the
hybrid group-epoch cap plays IQ's standby/position bound). KS serves
from local RocksDB replicas; here the lake layout is the store and
partition pruning is the key lookup — same contract, storage-native
realization.
"""

from __future__ import annotations

import math
import os
from typing import NamedTuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import Window as FWindow
from pyspark.sql import functions as F

from kstreams_spark.operators.similarity import (
    FX,
    LSH_BITS,
    N_TABLES,
    _cosine,
    _fx_dot,
    _fx_norm2,
    _plane_components,
    _sig_expr,
)
from kstreams_spark.operators.text import IDF_SCALE


def write_lsh_index(
    emb: DataFrame,
    path: str,
    bits: int = LSH_BITS,
    n_tables: int = N_TABLES,
) -> None:
    """Persist (tbl, sig, vec_id, embedding, norm2) partitioned by the
    bucket key. One posting per vector per table."""
    postings = emb.select(
        "vec_id",
        "embedding",
        _fx_norm2("embedding").alias("norm2"),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(t).alias("tbl"),
                        # 'b'-prefix keeps the partition value a STRING:
                        # bare '01010101' dirs would be type-inferred as
                        # integers on read (leading zeros dropped) and
                        # only match the probe via implicit casts
                        F.concat(F.lit("b"), _sig_expr(t, bits)).alias("sig"),
                    )
                    for t in range(n_tables)
                ]
            )
        ).alias("b"),
    ).select("vec_id", "embedding", "norm2", "b.tbl", "b.sig")
    postings.write.mode("overwrite").partitionBy("tbl", "sig").parquet(path)


def _round_half_away(x: float) -> int:
    return int(math.floor(x + 0.5)) if x >= 0 else int(math.ceil(x - 0.5))


def query_projections(
    vec: list[float], table: int, bits: int = LSH_BITS
) -> list[int]:
    """Per-bit hyperplane projections (exact int64 fixed-point) — the
    sign gives the signature bit, the magnitude is the bit's margin
    (how close the query sits to that hyperplane)."""
    return [
        sum(
            _round_half_away(float(v) * c * FX)
            for v, c in zip(vec, _plane_components(p))
        )
        for p in range(table * bits, (table + 1) * bits)
    ]


def query_signature(vec: list[float], table: int, bits: int = LSH_BITS) -> str:
    """Driver-side twin of operators/similarity._sig_expr for ONE vector:
    identical md5-derived ±1 planes, identical per-term fixed-point
    rounding, so a stored vector probes into exactly the bucket it was
    indexed under (pinned in tests/test_serving.py)."""
    return "".join(
        "1" if proj >= 0 else "0" for proj in query_projections(vec, table, bits)
    )


def _flip(sig: str, i: int) -> str:
    return sig[:i] + ("0" if sig[i] == "1" else "1") + sig[i + 1 :]


def probe_signatures(
    vec: list[float], table: int, bits: int = LSH_BITS, n_flip: int = 0
) -> list[str]:
    """Multi-probe LSH (Lv et al., VLDB'07 shape): the base signature
    plus the `n_flip` single-bit perturbations with the SMALLEST
    projection magnitude — the buckets a near-boundary neighbor most
    likely fell into. Recall lever with zero index cost (unlike an extra
    table, which doubles storage)."""
    projs = query_projections(vec, table, bits)
    base = "".join("1" if p >= 0 else "0" for p in projs)
    by_margin = sorted(range(bits), key=lambda i: (abs(projs[i]), i))
    return [base] + [_flip(base, i) for i in by_margin[:n_flip]]


def probe_lsh_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    k: int = 10,
    bits: int = LSH_BITS,
    n_tables: int = N_TABLES,
    n_flip: int = 0,
) -> DataFrame:
    """Top-k cosine neighbors of one query vector, reading only the
    query's bucket partitions — n_tables buckets, plus `n_flip`
    lowest-margin perturbation buckets per table (multi-probe; see
    probe_signatures). Returns (vec_id, cosine) ordered by cosine desc
    with vec_id tie-break."""
    pred = None
    for t in range(n_tables):
        for s in probe_signatures(query_vec, t, bits, n_flip):
            clause = (F.col("tbl") == t) & (F.col("sig") == f"b{s}")
            pred = clause if pred is None else (pred | clause)
    q_arr = F.array(*[F.lit(float(v)) for v in query_vec])
    nq2 = sum(_round_half_away(float(v) * float(v) * FX) for v in query_vec)
    postings = spark.read.parquet(path).filter(pred)
    scored = (
        postings.select("vec_id", "embedding", "norm2")
        .dropDuplicates(["vec_id"])  # a neighbor may match in >1 table
        .select(
            "vec_id",
            _cosine(
                _fx_dot("embedding", q_arr), F.lit(nq2), F.col("norm2")
            ).alias("cosine"),
        )
    )
    return scored.orderBy(F.col("cosine").desc(), "vec_id").limit(k)


def write_ivf_index(
    emb: DataFrame, path: str, centroids: list[list[float]]
) -> None:
    """Persist the corpus partitioned by IVF cell (nearest centroid by
    the same fixed-point max-dot assignment k-means uses) — at 100 TB the
    cell id is the lake partition key, so a probe scans one cell's files
    only (operators/similarity.ivf_topk's docstring, made physical)."""
    from kstreams_spark.operators.kmeans import kmeans_assign

    assigned = kmeans_assign(emb, centroids).select(
        "vec_id",
        "embedding",
        _fx_norm2("embedding").alias("norm2"),
        "cen_id",
    )
    assigned.write.mode("overwrite").partitionBy("cen_id").parquet(path)


def assign_cell(vec: list[float], centroids: list[list[float]]) -> int:
    """Driver-side twin of kmeans_assign for ONE vector: exact int64
    fixed-point dots, ties to the lowest cen_id."""
    return nearest_cells(vec, centroids, 1)[0]


def nearest_cells(
    vec: list[float], centroids: list[list[float]], n_probe: int
) -> list[int]:
    """The `n_probe` cells whose centroids have the largest exact int64
    fixed-point dot with `vec`, ties to the lowest cen_id."""
    dots = [
        (
            cid,
            sum(
                _round_half_away(float(v) * float(c) * FX)
                for v, c in zip(vec, cen)
            ),
        )
        for cid, cen in enumerate(centroids)
    ]
    return [
        cid for cid, _ in sorted(dots, key=lambda t: (-t[1], t[0]))[:n_probe]
    ]


def probe_ivf_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """Top-k cosine neighbors reading only the query's `n_probe` nearest
    cells (n_probe > 1 is the standard recall lever for queries near cell
    boundaries). Returns (vec_id, cosine) ordered."""
    cells = nearest_cells(query_vec, centroids, n_probe)
    q_arr = F.array(*[F.lit(float(v)) for v in query_vec])
    nq2 = sum(_round_half_away(float(v) * float(v) * FX) for v in query_vec)
    postings = spark.read.parquet(path).filter(F.col("cen_id").isin(cells))
    scored = postings.select(
        "vec_id",
        _cosine(_fx_dot("embedding", q_arr), F.lit(nq2), F.col("norm2")).alias(
            "cosine"
        ),
    )
    return scored.orderBy(F.col("cosine").desc(), "vec_id").limit(k)


# --- quantized IVF serving (IVF + SQ8, operators/quantize.py made physical)


def write_ivf_sq8_index(
    emb: DataFrame,
    path: str,
    centroids: list[list[float]],
    params: DataFrame | None = None,
) -> None:
    """Persist the CODES-ONLY quantized index: (vec_id, q, epoch=0)
    partitioned by IVF cell, plus three sidecars: the fitted quantizer
    params (one row, `<path>/_params`), the coarse centroids
    (`<path>/_centroids` — incremental maintenance re-reads them so a
    delta assigns into the SAME cells), and the `<path>/_vecs` manifest
    (vec_id, cen_id, epoch) maintenance resolves against. A probe reads
    n_probe cells of 1-byte-scale codes — the 4× IO cut of
    operators/quantize.py made physical; the float re-ranker (when
    wanted) fetches survivors by id from the base table, never from
    this index.

    `params`: pass an already-fitted quantizer to freeze it (the
    train-once contract incremental maintenance relies on — refitting
    the quantizer IS a rebuild, by definition); default fits on `emb`."""
    from kstreams_spark.operators.kmeans import kmeans_assign
    from kstreams_spark.operators.quantize import sq8_params, sq8_quantize

    spark = emb.sparkSession
    p = params if params is not None else sq8_params(emb)
    p.write.mode("overwrite").parquet(path + "/_params")
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cen_id long, cvec array<double>",
    ).write.mode("overwrite").parquet(path + "/_centroids")
    codes = sq8_quantize(emb, p)
    assigned = kmeans_assign(emb, centroids).select("vec_id", "cen_id")
    codes.join(assigned, "vec_id").withColumn(
        "epoch", F.lit(0).cast("long")
    ).write.mode("overwrite").partitionBy("cen_id").parquet(path + "/cells")
    assigned.withColumn("epoch", F.lit(0).cast("long")).write.mode(
        "overwrite"
    ).parquet(path + "/_vecs")


def load_sq8_params(spark: SparkSession, path: str) -> list[dict]:
    """The fitted per-dim quantizer (mn, mx, a, b) as driver-side dicts."""
    row = spark.read.parquet(path + "/_params").first()
    return [r.asDict() for r in row.params]


def quantize_query(vec: list[float], params: list[dict]) -> list[int]:
    """Driver-side twin of operators/quantize._quant for ONE vector:
    Python floats ARE IEEE doubles, and the expression order matches the
    engine's — ((v - mn) * 255.0) / (mx - mn), then floor — so a stored
    vector's driver-computed code equals its indexed code bit-for-bit
    (pinned in tests/test_serving_sq8.py)."""
    out = []
    for v, p in zip(vec, params):
        if p["mx"] == p["mn"]:
            out.append(0)
        else:
            lvl = math.floor(((float(v) - p["mn"]) * 255.0) / (p["mx"] - p["mn"]))
            out.append(max(0, min(255, int(lvl))))
    return out


def probe_ivf_sq8_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 1,
    max_epoch: int | None = None,
) -> DataFrame:
    """Top-k by the reconstructed-dot integer score, reading ONLY the
    query's n_probe nearest cells' codes. Returns (vec_id, score_q)
    ordered by score desc with vec_id tie-break.

    `max_epoch` caps visibility at a committed epoch (rows above it —
    an in-flight or crashed ingest's appends — are filtered before
    live-row resolution): the snapshot-read half of the multi-index
    atomic-ingest contract (streaming/hybrid.py). None = read
    everything, the single-index behavior."""
    params = load_sq8_params(spark, path)
    qq = quantize_query(query_vec, params)
    cells = nearest_cells(query_vec, centroids, n_probe)
    # pre-fold the query side: per-dim struct(a·q1 +, b·q1) so the scan's
    # lambda is one zip_with over (query-side struct, stored code)
    qz = F.array(
        *[
            F.struct(
                F.lit(int(p["a"])).alias("a"),
                F.lit(int(p["a"]) * q).alias("aq"),
                F.lit(int(p["b"]) * q).alias("bq"),
            )
            for q, p in zip(qq, params)
        ]
    )
    raw = spark.read.parquet(path + "/cells").filter(
        F.col("cen_id").isin(cells)
    )
    if max_epoch is not None:
        raw = raw.filter(F.col("epoch") <= max_epoch)
    postings = _resolve_live_codes(raw)
    scored = postings.select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                qz,
                F.col("q"),
                lambda z, c: z["aq"] + (z["a"] + z["bq"]) * c,
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score_q"),
    )
    return scored.orderBy(F.col("score_q").desc(), "vec_id").limit(k)


def _resolve_live_codes(raw: DataFrame, code_col: str = "q") -> DataFrame:
    """Probe-local live-row resolution for the quantized-cell indexes
    (the postings resolution, on vectors): within the probed cells a
    vector's live epoch is its max epoch — a re-ingested vector's
    tombstone (NULL code) sits in its OLD cell, so stale codes resolve
    away with no manifest on the query path; dedupe on the full row
    makes a crash-rerun delta invisible. A fresh or freshly-compacted
    index has one epoch per vector and no tombstones: both steps are
    no-ops."""
    w = FWindow.partitionBy("vec_id")
    return (
        raw.dropDuplicates(["vec_id", "epoch", code_col])
        .withColumn("_live_e", F.max("epoch").over(w))
        .filter(
            (F.col("epoch") == F.col("_live_e"))
            & F.col(code_col).isNotNull()
        )
        .drop("_live_e")
    )


def _upsert_quantized_cells(
    coded: DataFrame, path: str, epoch: int, code_col: str, code_type: str
) -> None:
    """Shared delta-apply for the quantized-cell indexes: append the
    already-coded delta rows (vec_id, <code>, cen_id) at `epoch`, drop
    ONE tombstone (NULL code) into each replaced vector's PREVIOUS cell
    (looked up in the `_vecs` manifest — maintenance-time work; a
    revision may move cells, and the old cell is where the stale code
    hides from a probe that never reads the new cell), and append the
    manifest rows.

    Crash contract (single maintainer): re-run the SAME (delta, epoch)
    to completion — appends dedupe at probe/compaction, the tombstone a
    re-run aims at the already-updated manifest cell is harmless (a
    same-cell tombstone loses to the real row at the same epoch), and
    `epoch` must exceed every previously applied one."""
    spark = coded.sparkSession
    rows = coded.select(
        "vec_id", code_col, F.lit(epoch).cast("long").alias("epoch"), "cen_id"
    )
    prev_cell = (
        spark.read.parquet(path + "/_vecs")
        .groupBy("vec_id")
        .agg(F.max_by("cen_id", "epoch").alias("cen_id"))
        # cen_id -1 marks a deletion (_delete_quantized_vecs): a vector
        # re-ingested after erasure has no live old rows to tombstone
        .filter(F.col("cen_id") >= 0)
        .join(coded.select("vec_id"), "vec_id", "left_semi")
    )
    tombstones = prev_cell.select(
        "vec_id",
        F.lit(None).cast(code_type).alias(code_col),
        F.lit(epoch).cast("long").alias("epoch"),
        "cen_id",
    )
    rows.unionByName(tombstones).write.mode("append").partitionBy(
        "cen_id"
    ).parquet(path + "/cells")
    coded.select("vec_id", "cen_id").withColumn(
        "epoch", F.lit(epoch).cast("long")
    ).write.mode("append").parquet(path + "/_vecs")


def _delete_quantized_vecs(
    vec_ids: DataFrame, path: str, epoch: int, code_col: str, code_type: str
) -> None:
    """Index-side erasure for the quantized-cell indexes (VERDICT r9
    task 5 — the serving twin of io.delete_where): drop one NULL-code
    tombstone at `epoch` into each deleted vector's CURRENT cell (the
    same targeted mechanics an upsert uses for moved vectors — probes
    resolve the vector away immediately, no index rewrite), and append a
    cen_id = -1 manifest row so compaction knows the vector's live cell
    is NOWHERE: `_compact_quantized_cells` then physically removes every
    row (data and tombstones) and drops the manifest entry — no trace.

    Crash contract: same as the upsert — re-run the SAME (ids, epoch) to
    completion; duplicate tombstones and manifest rows are invisible to
    probes and folded by compaction. `epoch` must exceed every
    previously applied one, and one epoch must not both delete and
    re-ingest the same vec_id (batch = one intent per key)."""
    spark = vec_ids.sparkSession
    _ivf_recover(path)
    ids = vec_ids.select("vec_id")
    prev_cell = (
        spark.read.parquet(path + "/_vecs")
        .groupBy("vec_id")
        .agg(F.max_by("cen_id", "epoch").alias("cen_id"))
        .filter(F.col("cen_id") >= 0)  # already-deleted: nothing to hide
        .join(ids, "vec_id", "left_semi")
    )
    prev_cell.select(
        "vec_id",
        F.lit(None).cast(code_type).alias(code_col),
        F.lit(epoch).cast("long").alias("epoch"),
        "cen_id",
    ).write.mode("append").partitionBy("cen_id").parquet(path + "/cells")
    ids.select(
        "vec_id",
        F.lit(-1).cast("long").alias("cen_id"),
        F.lit(epoch).cast("long").alias("epoch"),
    ).write.mode("append").parquet(path + "/_vecs")


def delete_ivf_sq8_vecs(vec_ids: DataFrame, path: str, epoch: int) -> None:
    """Erase vectors from a live IVF-SQ8 index — see
    `_delete_quantized_vecs` for the contract."""
    _delete_quantized_vecs(vec_ids, path, epoch, "q", "array<bigint>")


def delete_ivf_pq_vecs(vec_ids: DataFrame, path: str, epoch: int) -> None:
    """Erase vectors from a live IVF-PQ index — see
    `_delete_quantized_vecs` for the contract."""
    _delete_quantized_vecs(vec_ids, path, epoch, "codes", "array<bigint>")


def upsert_ivf_sq8_delta(emb: DataFrame, path: str, epoch: int) -> None:
    """Apply one corpus delta (new vectors AND re-embedded revisions) to
    a live IVF-SQ8 index without touching the base files or refitting
    anything: quantize with the FROZEN `_params`, assign into the FROZEN
    `_centroids` cells, then the shared `_upsert_quantized_cells`
    append + targeted-tombstone + manifest protocol (crash contract in
    its docstring)."""
    spark = emb.sparkSession
    _ivf_recover(path)
    from kstreams_spark.operators.kmeans import kmeans_assign
    from kstreams_spark.operators.quantize import sq8_quantize

    params = spark.read.parquet(path + "/_params")
    centroids = _read_centroids(spark, path)
    codes = sq8_quantize(emb, params)
    assigned = kmeans_assign(emb, centroids).select("vec_id", "cen_id")
    _upsert_quantized_cells(
        codes.join(assigned, "vec_id"), path, epoch, "q", "array<bigint>"
    )


def upsert_ivf_pq_delta(emb: DataFrame, path: str, epoch: int) -> None:
    """IVF-PQ twin of `upsert_ivf_sq8_delta`: encode the delta with the
    FROZEN `_codebook` sidecar (per-subspace nearest codeword), assign
    into the FROZEN `_centroids` cells, then the shared append +
    targeted-tombstone + manifest protocol."""
    spark = emb.sparkSession
    _ivf_recover(path)
    from kstreams_spark.operators.kmeans import kmeans_assign
    from kstreams_spark.operators.quantize import pq_encode

    cb_rows = (
        spark.read.parquet(path + "/_codebook").orderBy("m", "code").collect()
    )
    n_m = max(r.m for r in cb_rows) + 1
    n_k = max(r.code for r in cb_rows) + 1
    dsub = len(cb_rows[0].cvec)
    codebooks = [[0.0] * (n_m * dsub) for _ in range(n_k)]
    for r in cb_rows:
        codebooks[r.code][r.m * dsub : (r.m + 1) * dsub] = [
            float(x) for x in r.cvec
        ]
    centroids = _read_centroids(spark, path)
    codes = (
        pq_encode(emb, codebooks, m=n_m)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, code))), "
                "x -> x.code)"
            ).alias("codes")
        )
    )
    assigned = kmeans_assign(emb, centroids).select("vec_id", "cen_id")
    _upsert_quantized_cells(
        codes.join(assigned, "vec_id"), path, epoch, "codes", "array<bigint>"
    )


def _read_centroids(spark: SparkSession, path: str) -> list[list[float]]:
    return [
        [float(x) for x in r.cvec]
        for r in spark.read.parquet(path + "/_centroids")
        .orderBy("cen_id")
        .collect()
    ]


def _compact_quantized_cells(
    spark: SparkSession, path: str, code_col: str
) -> int:
    """Shared compaction for the quantized-cell indexes: per cell, keep
    only each vector's manifest-latest row, drop tombstones and replay
    duplicates, coalesce to one file, displace-swap (io.compact_lake's
    crash contract via `_ivf_recover`); then resolve the `_vecs`
    manifest to one row per live vector. Probe answers are identical
    before, during, and after. Returns cells rewritten."""
    import glob as _glob
    import shutil

    _ivf_recover(path)
    live = (
        spark.read.parquet(path + "/_vecs")
        .groupBy("vec_id")
        .agg(
            F.max("epoch").alias("_live_e"),
            F.max_by("cen_id", "epoch").alias("_live_cell"),
        )
    )
    rewritten = 0
    for subdir in sorted(_glob.glob(os.path.join(path, "cells", "cen_id=*"))):
        if not os.path.isdir(subdir):
            continue
        cell = int(subdir.rsplit("=", 1)[1])
        sub = spark.read.parquet(subdir)
        resolved = (
            sub.dropDuplicates(["vec_id", "epoch", code_col])
            .join(live, "vec_id")
            .filter(
                (F.col("epoch") == F.col("_live_e"))
                & (F.col("_live_cell") == cell)
                & F.col(code_col).isNotNull()
            )
            .select("vec_id", code_col, "epoch")
        )
        n_files = len(_glob.glob(os.path.join(subdir, "*.parquet")))
        if n_files <= 1 and resolved.count() == sub.count():
            continue
        staged = subdir + ".new-del"
        resolved.coalesce(1).write.mode("overwrite").parquet(staged)
        old = subdir + ".old-del"
        os.rename(subdir, old)
        os.rename(staged, subdir)
        shutil.rmtree(old)
        rewritten += 1
    staged = path + "/_vecs.new-del"
    # _live_cell -1 = erased (_delete_quantized_vecs): its rows are gone
    # from every cell above, and dropping the manifest row here removes
    # the last trace of the vector from the index
    live.filter(F.col("_live_cell") >= 0).select(
        "vec_id",
        F.col("_live_cell").alias("cen_id"),
        F.col("_live_e").alias("epoch"),
    ).coalesce(1).write.mode("overwrite").parquet(staged)
    old = path + "/_vecs.old-del"
    os.rename(path + "/_vecs", old)
    os.rename(staged, path + "/_vecs")
    shutil.rmtree(old)
    return rewritten


def compact_ivf_sq8_index(spark: SparkSession, path: str) -> int:
    return _compact_quantized_cells(spark, path, "q")


def compact_ivf_pq_index(spark: SparkSession, path: str) -> int:
    return _compact_quantized_cells(spark, path, "codes")


def _ivf_recover(path: str) -> None:
    """Heal an interrupted IVF compact/upsert swap — the
    `_postings_recover` rename contract over the cell dirs and the
    `_vecs` manifest."""
    import glob as _glob
    import shutil

    for old in (
        _glob.glob(os.path.join(path, "cells", "*.old-del"))
        + _glob.glob(path + "/_vecs.old-del")
    ):
        live = old[: -len(".old-del")]
        if os.path.isdir(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)
    for tmp in (
        _glob.glob(os.path.join(path, "cells", "*.new-del"))
        + _glob.glob(path + "/_vecs.new-del")
    ):
        shutil.rmtree(tmp)


# --- PQ serving (IVF + PQ, operators/quantize.py's 16-bit codes physical)


def write_ivf_pq_index(
    emb: DataFrame, path: str, centroids: list[list[float]], codebooks
) -> None:
    """Persist the PQ index: (vec_id, codes array — one sub-code per
    subspace, M·log2(K)=16 bits of payload per vector) partitioned by
    IVF cell, plus the codebooks as a sidecar at `<path>/_codebook`
    (rows (m, code, cvec)). A probe reads n_probe cells of 2-byte-scale
    codes — 16× less IO than even the SQ8 index; the float re-ranker
    fetches survivors by id from the base table."""
    from kstreams_spark.operators.kmeans import kmeans_assign
    from kstreams_spark.operators.quantize import PQ_M, pq_encode

    import numpy as np

    C = np.asarray(codebooks, dtype=np.float64)
    k, d = C.shape
    dsub = d // PQ_M
    cb_rows = [
        (mi, j, [float(x) for x in C[j, mi * dsub : (mi + 1) * dsub]])
        for mi in range(PQ_M)
        for j in range(k)
    ]
    spark = emb.sparkSession
    spark.createDataFrame(
        cb_rows, "m long, code long, cvec array<double>"
    ).write.mode("overwrite").parquet(path + "/_codebook")
    spark.createDataFrame(
        [(i, [float(x) for x in c]) for i, c in enumerate(centroids)],
        "cen_id long, cvec array<double>",
    ).write.mode("overwrite").parquet(path + "/_centroids")

    codes = (
        pq_encode(emb, codebooks)
        .groupBy("vec_id")
        .agg(
            F.expr(
                "transform(array_sort(collect_list(struct(m, code))), "
                "x -> x.code)"
            ).alias("codes")
        )
    )
    assigned = kmeans_assign(emb, centroids).select("vec_id", "cen_id")
    codes.join(assigned, "vec_id").withColumn(
        "epoch", F.lit(0).cast("long")
    ).write.mode("overwrite").partitionBy("cen_id").parquet(path + "/cells")
    assigned.withColumn("epoch", F.lit(0).cast("long")).write.mode(
        "overwrite"
    ).parquet(path + "/_vecs")


def probe_ivf_pq_index(
    spark: SparkSession,
    path: str,
    query_vec: list[float],
    centroids: list[list[float]],
    k: int = 10,
    n_probe: int = 1,
    max_epoch: int | None = None,
) -> DataFrame:
    """Top-k by the ADC integer score, reading ONLY the query's n_probe
    nearest cells' codes: the (m, code) → partial-dot LUT is computed
    driver-side from the codebook sidecar (the bit-exact twin of
    operators/quantize.pq_query_lut), shipped as a 2-D array literal,
    and the scan is zip_with(codes, lut, lookup) + fold — M integer
    lookups per candidate, zero floats. Returns (vec_id, score_q)."""
    cb = (
        spark.read.parquet(path + "/_codebook")
        .orderBy("m", "code")
        .collect()
    )
    n_m = max(r.m for r in cb) + 1
    n_k = max(r.code for r in cb) + 1
    lut: list[list[int]] = [[0] * n_k for _ in range(n_m)]
    dsub = len(query_vec) // n_m
    for r in cb:
        qs = query_vec[r.m * dsub : (r.m + 1) * dsub]
        lut[r.m][r.code] = sum(
            _round_half_away(float(v) * float(c) * FX)
            for v, c in zip(qs, r.cvec)
        )
    cells = nearest_cells(query_vec, centroids, n_probe)
    lut_lit = F.array(
        *[
            F.array(*[F.lit(int(x)) for x in row])
            for row in lut
        ]
    )
    raw = spark.read.parquet(path + "/cells").filter(
        F.col("cen_id").isin(cells)
    )
    if max_epoch is not None:  # snapshot read — see probe_ivf_sq8_index
        raw = raw.filter(F.col("epoch") <= max_epoch)
    postings = _resolve_live_codes(raw, code_col="codes")
    scored = postings.select(
        "vec_id",
        F.aggregate(
            F.zip_with(
                F.col("codes"),
                lut_lit,
                lambda c, row: F.element_at(row, (c + 1).cast("int")).cast(
                    "long"
                ),
            ),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("score_q"),
    )
    return scored.orderBy(F.col("score_q").desc(), "vec_id").limit(k)


# ---------------------------------------------------------------------------
# Keyword (inverted-postings) serving index — the lexical half of the
# hybrid serving stack (operators/retrieval.py fuses this family with
# the ANN probes above). The layout IS the index: postings partitioned
# by an md5 token bucket, so a query's terms prune to |terms| partition
# directories; each term's COMPLETE posting list lives inside its
# bucket, so document frequency (hence the exact integer idf) is
# computable from the pruned scan alone — no global pass at query time.

POSTINGS_BUCKETS = 64


def _tok_bucket(tok) -> F.Column:
    h = F.md5(tok)
    d1 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 1, 1)) - 1
    d2 = F.instr(F.lit("0123456789abcdef"), F.substring(h, 2, 1)) - 1
    return (d1 * 16 + d2) % POSTINGS_BUCKETS


def tok_bucket_py(tok: str) -> int:
    """Driver-side twin of `_tok_bucket` (same md5-prefix arithmetic)."""
    import hashlib

    h = hashlib.md5(tok.encode()).hexdigest()
    hexd = "0123456789abcdef"
    return (hexd.index(h[0]) * 16 + hexd.index(h[1])) % POSTINGS_BUCKETS


def _postings_rows(docs: DataFrame, epoch: int) -> DataFrame:
    """(tok, doc_id, tf, epoch, part) posting rows for one corpus slice."""
    toks = docs.select(
        "doc_id", F.explode(F.split("text", " ")).alias("tok")
    )
    tf = toks.groupBy("doc_id", "tok").agg(F.count(F.lit(1)).alias("tf"))
    return tf.select(
        "tok",
        "doc_id",
        "tf",
        F.lit(epoch).cast("long").alias("epoch"),
        F.concat(F.lit("p"), _tok_bucket(F.col("tok"))).alias("part"),
    )


def write_postings_index(docs: DataFrame, path: str) -> None:
    """Persist (tok, doc_id, tf, epoch=0) partitioned by the
    letter-prefixed token bucket (the 'b'-prefix rule: bare digits would
    be type-inferred as ints on read), plus two sidecars: a 1-row
    `<path>_meta` with the live doc count that drives the idf constant,
    and the `<path>_docs` manifest (doc_id, epoch) that incremental
    maintenance (upsert_postings_delta / compact_postings_index)
    resolves against."""
    _postings_rows(docs, epoch=0).write.mode("overwrite").partitionBy(
        "part"
    ).parquet(path)
    docs.select(
        "doc_id", F.lit(0).cast("long").alias("epoch")
    ).write.mode("overwrite").parquet(path + "_docs")
    docs.agg(F.count(F.lit(1)).cast("long").alias("n_docs")).write.mode(
        "overwrite"
    ).parquet(path + "_meta")


def probe_postings_index(
    spark: SparkSession,
    path: str,
    terms: tuple[str, ...],
    k: int = 20,
    max_epoch: int | None = None,
) -> DataFrame:
    """Multi-term keyword query against the persisted index: read ONLY
    the terms' bucket partitions (PartitionFilters — pinned in
    tests/test_serving_postings.py), derive each term's exact df from
    its complete in-bucket posting list, score Σ tf·(n_docs·IDF_SCALE
    DIV df), return the top-k by (score desc, doc_id) — the same scoring
    contract as the batch `search_topk_keywords`, equality pinned.

    `max_epoch` caps visibility at a committed epoch — posting rows AND
    tombstones above it are filtered before live-row resolution, and
    n_docs is recomputed as-of the cap from the `_docs`/`_dels` sidecars
    (`_meta` already includes any in-flight epoch; the manifest scan is
    the price of a snapshot read and only the capped path pays it).
    This is the snapshot-read half of the multi-index atomic-ingest
    contract (streaming/hybrid.py). None = read everything."""
    if max_epoch is None:
        n_docs = spark.read.parquet(path + "_meta").first().n_docs
    else:
        n_docs = _live_postings_docs(spark, path, max_epoch).count()
    parts = sorted({f"p{tok_bucket_py(t)}" for t in terms})
    # Pull the terms' rows PLUS tombstones (null-tok rows an upsert fans
    # into every bucket at a doc's re-ingest epoch): within the pruned
    # buckets, a doc's live epoch is its max epoch, and only rows at that
    # epoch score — stale postings of a replaced doc (including tokens
    # its new text no longer contains) resolve away LOCALLY, without any
    # manifest lookup on the query path. dropDuplicates on the full key
    # makes a replayed (crash-rerun) delta append invisible. A fresh or
    # freshly-compacted index has one epoch per doc and no tombstones, so
    # both steps are no-op passes over the pruned rows.
    raw = (
        spark.read.parquet(path)
        .filter(F.col("part").isin(parts))
        .filter(F.col("tok").isin(*terms) | F.col("tok").isNull())
    )
    if max_epoch is not None:
        raw = raw.filter(F.col("epoch") <= max_epoch)
    raw = raw.dropDuplicates(["tok", "doc_id", "epoch"])
    live_w = FWindow.partitionBy("doc_id")
    postings = (
        raw.withColumn("_live_e", F.max("epoch").over(live_w))
        .filter((F.col("epoch") == F.col("_live_e")) & F.col("tok").isNotNull())
        .drop("_live_e")
    )
    idf = postings.groupBy("tok").agg(
        F.expr(
            f"CAST({n_docs * IDF_SCALE} DIV count(DISTINCT doc_id) AS BIGINT)"
        ).alias("w")
    )
    scored = (
        postings.join(F.broadcast(idf), "tok")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("tf") * F.col("w")).cast("long").alias("score"),
            F.count(F.lit(1)).alias("n_terms_hit"),
        )
    )
    return scored.orderBy(F.col("score").desc(), "doc_id").limit(k)


# --- driver-resident snapshot probes -----------------------------------------
# A probe of a small index is Spark job scheduling, not work: ~11 jobs per
# probe over a 500-doc index. Below DRIVER_INDEX_MAX_ROWS the rows of an
# index committed at one epoch load ONCE with pyarrow (the caller keeps
# the snapshot until its epoch moves — streaming/hybrid.py), and each
# probe replays the Spark probe's integer arithmetic in NumPy: the same
# dedupe key, the same probe-local live-epoch resolution, the same idf /
# code score, the same (score desc, id) top-k. Answers and schemas equal
# probe_postings_index / probe_ivf_sq8_index at a cap (pinned in
# tests/test_hybrid_snapshot.py). The result is a local relation built
# from an Arrow table, so collecting it starts no Spark job.

# Sized like DRIVER_CC_MAX_EDGES: the ~60 MB of driver memory that 500k
# collected Rows take at ~100-150 B each. A loader passes the bytes one
# of its rows holds once loaded; the footers' row count times that is
# checked before anything loads, and above the budget the Spark probe
# serves. Files load one partition at a time, so the peak is the held
# snapshot plus one partition's Arrow rows.
DRIVER_INDEX_MAX_BYTES = 60_000_000
# A held posting: tok (4 B offset + the token's bytes), doc_id, tf and
# epoch (8 B each), ~40 B in all.
POSTING_ROW_BYTES = 40


def _read_capped(
    path: str, max_epoch: int, row_bytes: int, part: str | None = None
):
    """The rows with epoch ≤ `max_epoch` of the parquet dataset under
    `path` as (partition value, rows) pairs, each partition read only
    when its pair is taken; None when there is no data file or the
    footers' row count times `row_bytes` exceeds DRIVER_INDEX_MAX_BYTES.
    `part` names the hive partition column the rows are filed under
    (`<part>=<value>` dirs); without one, all rows come as the one pair
    (None, rows). Only committed data files are listed: in-flight write
    attempts (`_temporary`), checksums and displace-swap leftovers
    (`*.new-del` / `*.old-del`) never match. Delta and tombstone files
    differ in nullability, so every field reads as nullable."""
    import glob
    import re

    import pyarrow as pa
    import pyarrow.dataset as ds

    groups: dict = {}
    if part is None:
        groups[None] = sorted(glob.glob(os.path.join(path, "*.parquet")))
    else:
        for f in sorted(glob.glob(os.path.join(path, f"{part}=*", "*.parquet"))):
            d = os.path.basename(os.path.dirname(f))
            if re.fullmatch(rf"{part}=[\w-]+", d):
                groups.setdefault(d.split("=", 1)[1], []).append(f)
    files = [f for fs in groups.values() for f in fs]
    if not files:
        return None
    every = ds.dataset(files, format="parquet")
    if every.count_rows() * row_bytes > DRIVER_INDEX_MAX_BYTES:
        return None
    schema = pa.schema([f.with_nullable(True) for f in every.schema])
    return (
        (
            v,
            ds.dataset(fs, format="parquet", schema=schema).to_table(
                filter=ds.field("epoch") <= max_epoch
            ),
        )
        for v, fs in groups.items()
    )


def _key_max(keys, vals):
    """(sorted distinct keys, max of `vals` per key)."""
    import numpy as np

    o = np.lexsort((vals, keys))
    keys, vals = keys[o], vals[o]
    last = np.ones(len(keys), bool)
    last[:-1] = keys[1:] != keys[:-1]
    return keys[last], vals[last]


def _live_rows(ids, epochs):
    """Mask of the rows at their id's max epoch — the probe-local
    live-epoch resolution of the Spark probes (a replaced or erased
    id's newer tombstone hides its older rows)."""
    import numpy as np

    uid, live = _key_max(ids, epochs)
    return epochs == live[np.searchsorted(uid, ids)]


def _top_k(spark: SparkSession, ids, scores, k: int, fields) -> DataFrame:
    """The (score desc, id) top-k of per-id scores as a local relation;
    `fields` are the Arrow fields of the Spark probe's output schema
    (id, score, then any extra columns passed in `scores`' tail)."""
    import numpy as np
    import pyarrow as pa

    cols = [ids, *scores]
    o = np.lexsort((ids, -scores[0]))[:k]
    return spark.createDataFrame(
        pa.table([c[o] for c in cols], schema=pa.schema(fields))
    )


class PostingsSnapshot(NamedTuple):
    """The rows of a postings index committed at one epoch, held on the
    driver: the live doc count behind idf, each bucket's
    (tok, doc_id, tf, epoch) rows, and the doc_id Arrow type."""

    n_docs: int
    buckets: dict
    doc_type: object


def load_postings_snapshot(path: str, max_epoch: int) -> PostingsSnapshot | None:
    """Load a postings index as of `max_epoch` (None above the driver
    cap or without data files). n_docs is `_live_postings_docs(path, max_epoch).count()`: a doc
    is live iff its latest `_docs` epoch beats its latest `_dels` one."""
    import numpy as np

    buckets = _read_capped(path, max_epoch, POSTING_ROW_BYTES, part="part")
    if buckets is None:
        return None
    buckets = dict(buckets)
    # _docs/_dels are (doc_id, epoch) rows, reduced to n_docs on load
    docs = _read_capped(path + "_docs", max_epoch, 16)
    if docs is None:
        return None
    [(_, docs)] = docs
    ids, live = _key_max(docs["doc_id"].to_numpy(), docs["epoch"].to_numpy())
    alive = np.ones(len(ids), bool)
    dels = (
        _read_capped(path + "_dels", max_epoch, 16)
        if os.path.isdir(path + "_dels")
        else None
    )
    if dels is not None:
        [(_, dels)] = dels
    if dels is not None and dels.num_rows:
        del_ids, del_e = _key_max(
            dels["doc_id"].to_numpy(), dels["epoch"].to_numpy()
        )
        at = np.minimum(np.searchsorted(del_ids, ids), len(del_ids) - 1)
        alive = (del_ids[at] != ids) | (live > del_e[at])
    return PostingsSnapshot(
        int(alive.sum()),
        buckets,
        next(iter(buckets.values())).schema.field("doc_id").type,
    )


def probe_postings_snapshot(
    spark: SparkSession,
    snap: PostingsSnapshot,
    terms: tuple[str, ...],
    k: int = 20,
) -> DataFrame:
    """Driver twin of `probe_postings_index(..., max_epoch=<the
    snapshot's epoch>)`: the terms' bucket rows plus the buckets'
    tombstones, deduped on (tok, doc_id, epoch), resolved to each doc's
    live epoch, scored Σ tf·(n_docs·IDF_SCALE DIV df), top-k by
    (score desc, doc_id). Returns (doc_id, score, n_terms_hit)."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    terms = list(dict.fromkeys(terms))
    parts = sorted({f"p{tok_bucket_py(t)}" for t in terms})
    tabs = [snap.buckets[p] for p in parts if p in snap.buckets]
    fields = [
        pa.field("doc_id", snap.doc_type),
        pa.field("score", pa.int64()),
        pa.field("n_terms_hit", pa.int64(), nullable=False),
    ]
    if not tabs:
        empty = np.zeros(0, np.int64)
        return _top_k(spark, empty, [empty, empty], k, fields)
    rows = pa.concat_tables(tabs)
    term = pc.index_in(rows["tok"], value_set=pa.array(terms, pa.string()))
    pulled = pc.or_(pc.is_valid(term), pc.is_null(rows["tok"]))
    rows, term = rows.filter(pulled), term.filter(pulled)
    key = np.stack(
        [
            term.fill_null(-1).to_numpy().astype(np.int64),
            rows["doc_id"].to_numpy(),
            rows["epoch"].to_numpy(),
        ],
        axis=1,
    )
    key, first = np.unique(key, axis=0, return_index=True)
    tok, doc, ep = key.T
    tf = rows["tf"].to_numpy()[first]
    scoring = _live_rows(doc, ep) & (tok >= 0)
    tok, doc, tf = tok[scoring], doc[scoring], tf[scoring]
    df = np.bincount(tok, minlength=len(terms))
    w = np.zeros(len(terms), np.int64)
    w[df > 0] = (snap.n_docs * IDF_SCALE) // df[df > 0]
    ids, at = np.unique(doc, return_inverse=True)
    score = np.zeros(len(ids), np.int64)
    np.add.at(score, at, tf * w[tok])
    hits = np.bincount(at, minlength=len(ids)).astype(np.int64)
    return _top_k(spark, ids, [score, hits], k, fields)


class Sq8Snapshot(NamedTuple):
    """The rows of an IVF-SQ8 index committed at one epoch, held on the
    driver: the frozen quantizer params and centroids, each cell's
    (vec_id, epoch, has-code, codes matrix) arrays, and the vec_id Arrow
    type."""

    params: list
    centroids: list
    cells: dict
    vec_type: object


def load_sq8_snapshot(path: str, max_epoch: int) -> Sq8Snapshot | None:
    """Load an IVF-SQ8 index as of `max_epoch` (None above the driver
    cap or without data files). Codes are 0..255, so each cell's matrix is uint8: a held row
    is dim code bytes plus vec_id, epoch and the has-code flag."""
    import numpy as np
    import pyarrow.parquet as pq

    params = pq.read_table(path + "/_params").column("params")[0].as_py()
    dim = len(params)
    rows = _read_capped(path + "/cells", max_epoch, dim + 24, part="cen_id")
    if rows is None:
        return None
    cents = pq.read_table(path + "/_centroids").sort_by("cen_id")
    centroids = [[float(x) for x in c] for c in cents["cvec"].to_pylist()]
    cells = {}
    for cid, t in rows:
        vec_type = t.schema.field("vec_id").type
        has = t["q"].is_valid().to_numpy(zero_copy_only=False)
        codes = np.zeros((t.num_rows, dim), np.uint8)
        codes[has] = (
            t["q"].combine_chunks().flatten().to_numpy().reshape(-1, dim)
        )
        cells[int(cid)] = (
            t["vec_id"].to_numpy(),
            t["epoch"].to_numpy(),
            has,
            codes,
        )
    return Sq8Snapshot(params, centroids, cells, vec_type)


def probe_sq8_snapshot(
    spark: SparkSession,
    snap: Sq8Snapshot,
    query_vec: list[float],
    k: int = 10,
    n_probe: int = 1,
) -> DataFrame:
    """Driver twin of `probe_ivf_sq8_index(..., max_epoch=<the
    snapshot's epoch>)`: the query's n_probe nearest cells, rows deduped
    on (vec_id, epoch, q), resolved to each vector's live epoch, scored
    by the integer Σ a·q + (a + b·q)·c, top-k by (score_q desc, vec_id).
    Returns (vec_id, score_q)."""
    import numpy as np
    import pyarrow as pa

    qq = np.array(quantize_query(query_vec, snap.params), np.int64)
    a = np.array([int(p["a"]) for p in snap.params], np.int64)
    b = np.array([int(p["b"]) for p in snap.params], np.int64)
    got = [
        snap.cells[c]
        for c in nearest_cells(query_vec, snap.centroids, n_probe)
        if c in snap.cells
    ]
    dim = len(snap.params)
    vid, ep, has, codes = (
        [np.concatenate(x) for x in zip(*got)]
        if got
        else [np.zeros(0, np.int64)] * 2
        + [np.zeros(0, bool), np.zeros((0, dim), np.uint8)]
    )
    key = np.column_stack([vid, ep, has, codes])
    _, first = np.unique(key, axis=0, return_index=True)
    vid, ep, has, codes = vid[first], ep[first], has[first], codes[first]
    scoring = _live_rows(vid, ep) & has
    score = codes[scoring] @ (a + b * qq) + int((a * qq).sum())
    fields = [pa.field("vec_id", snap.vec_type), pa.field("score_q", pa.int64())]
    return _top_k(spark, vid[scoring], [score], k, fields)


# --- incremental postings maintenance (VERDICT r8 task 3) -------------------
# At 100 TB the index is MAINTAINED, not rebuilt: a day's corpus delta
# appends epoch-keyed postings into the same bucket layout, probes stay
# correct at every point (the resolution pass above), and compaction
# periodically rewrites each bucket back to the fresh-build physical form
# with the lake layer's displace-swap crash contract.


def _live_postings_docs(
    spark: SparkSession, path: str, max_epoch: int | None = None
) -> DataFrame:
    """(doc_id, _live_e) of the docs alive under ingest-vs-delete
    resolution: a doc is live iff its latest `_docs` ingest epoch beats
    its latest `_dels` erasure epoch (an absent `_dels` sidecar — any
    index that never saw a delete — means everything ingested is live).
    `max_epoch` caps both sides for snapshot reads. One epoch never both
    deletes and re-ingests a doc (the delete_postings_docs contract), so
    strict > is well-defined."""
    docs = spark.read.parquet(path + "_docs")
    if max_epoch is not None:
        docs = docs.filter(F.col("epoch") <= max_epoch)
    live = docs.groupBy("doc_id").agg(F.max("epoch").alias("_live_e"))
    if os.path.isdir(path + "_dels"):
        dels = spark.read.parquet(path + "_dels")
        if max_epoch is not None:
            dels = dels.filter(F.col("epoch") <= max_epoch)
        de = dels.groupBy("doc_id").agg(F.max("epoch").alias("_del_e"))
        live = (
            live.join(de, "doc_id", "left")
            .filter(
                F.col("_del_e").isNull() | (F.col("_live_e") > F.col("_del_e"))
            )
            .drop("_del_e")
        )
    return live


def _swap_meta(spark: SparkSession, path: str, n_live: int) -> None:
    """Displace-swap the `_meta` doc-count sidecar (idempotent under
    re-runs — the count is recomputed, never incremented)."""
    import shutil

    staged = path + "_meta.new-del"
    spark.createDataFrame([(n_live,)], "n_docs long").write.mode(
        "overwrite"
    ).parquet(staged)
    old = path + "_meta.old-del"
    os.rename(path + "_meta", old)
    os.rename(staged, path + "_meta")
    shutil.rmtree(old)


def delete_postings_docs(docs: DataFrame, path: str, epoch: int) -> None:
    """Index-side erasure for the postings index (VERDICT r9 task 5 —
    the GDPR twin of io.delete_where on the serving side): hide every
    posting of the given doc_ids immediately, remove them physically at
    the next compaction.

    1. append one tombstone row (tok=NULL) per doc into EVERY bucket at
       `epoch` — the all-bucket mechanics a re-ingest already uses: the
       doc's per-bucket live epoch becomes the tombstone epoch, where
       only NULL-tok rows exist, so probes score nothing for it;
    2. append (doc_id, epoch) to the `_dels` sidecar — the liveness
       marker `_live_postings_docs` resolves against `_docs` (ingest
       after delete resurrects, delete after ingest erases);
    3. recompute the live doc count (idf's n_docs shrinks — scores must
       byte-equal an index built without the doc) and swap `_meta`.

    Crash contract: same as the upsert — re-run the SAME (ids, epoch)
    to completion; every step is append-or-swap and duplicates are
    invisible. One epoch must not both delete and re-ingest a doc."""
    spark = docs.sparkSession
    _postings_recover(path)
    ids = docs.select("doc_id")
    ids.crossJoin(
        F.broadcast(
            spark.range(POSTINGS_BUCKETS).select(
                F.concat(F.lit("p"), F.col("id")).alias("part")
            )
        )
    ).select(
        F.lit(None).cast("string").alias("tok"),
        "doc_id",
        F.lit(0).cast("long").alias("tf"),
        F.lit(epoch).cast("long").alias("epoch"),
        "part",
    ).write.mode("append").partitionBy("part").parquet(path)
    ids.select(
        "doc_id", F.lit(epoch).cast("long").alias("epoch")
    ).write.mode("append").parquet(path + "_dels")
    _swap_meta(spark, path, _live_postings_docs(spark, path).count())


def upsert_postings_delta(docs: DataFrame, path: str, epoch: int) -> None:
    """Apply one corpus delta (new docs AND re-ingested revisions of
    existing docs) to a live postings index, without touching the base
    files:

    1. append the delta's posting rows at `epoch` into the bucket
       partitions (same layout — probes prune identically);
    2. append one TOMBSTONE row (tok=NULL, tf=0) per delta doc into
       EVERY bucket: a replaced doc's stale rows live in the buckets of
       its OLD tokens, which are unknown without reading the base, so
       the marker that bumps the doc's per-bucket max epoch goes to all
       POSTINGS_BUCKETS buckets — O(buckets) rows per doc, vs O(index)
       to look the old tokens up;
    3. append (doc_id, epoch) to the `_docs` manifest;
    4. recompute the live doc count from the manifest (idempotent under
       re-runs — never incremental arithmetic on the old value) and
       displace-swap `_meta`.

    Crash contract (single maintainer, the JSONL-writer assumption):
    re-run the SAME (delta, epoch) to completion — every step is
    append-or-swap and duplicates are invisible (probe dropDuplicates;
    compaction dedups; the doc count is a DISTINCT). `epoch` must be
    strictly greater than any previously applied epoch."""
    spark = docs.sparkSession
    _postings_recover(path)
    rows = _postings_rows(docs, epoch=epoch)
    tombstones = docs.select("doc_id").crossJoin(
        F.broadcast(
            spark.range(POSTINGS_BUCKETS).select(
                F.concat(F.lit("p"), F.col("id")).alias("part")
            )
        )
    ).select(
        F.lit(None).cast("string").alias("tok"),
        "doc_id",
        F.lit(0).cast("long").alias("tf"),
        F.lit(epoch).cast("long").alias("epoch"),
        "part",
    )
    rows.unionByName(tombstones).write.mode("append").partitionBy(
        "part"
    ).parquet(path)
    docs.select(
        "doc_id", F.lit(epoch).cast("long").alias("epoch")
    ).write.mode("append").parquet(path + "_docs")
    _swap_meta(spark, path, _live_postings_docs(spark, path).count())


def compact_postings_index(spark: SparkSession, path: str) -> int:
    """Fold applied deltas back into the fresh-build physical form:
    drop superseded rows (epoch < the doc's manifest max), tombstones,
    and replay duplicates, rewrite each bucket to one file, and resolve
    the `_docs` manifest to one row per live doc. Probe results are
    IDENTICAL before, during, and after (the bit-twin contract — pinned
    in tests/test_postings_upsert.py, including mid-swap windows): the
    probe's resolution pass is a no-op on compacted buckets, so
    compaction buys back the probe-side resolution work and the
    tombstone/stale IO, it never changes answers.

    Crash contract = io.compact_lake's: one displace-swap per bucket
    dir, `_postings_recover` heals any interruption to all-old or
    all-new per dir; every intermediate mix still probes correctly
    because uncompacted dirs carry their tombstones. Returns the number
    of bucket directories rewritten."""
    import glob as _glob
    import shutil

    _postings_recover(path)
    # delete-aware liveness: erased docs are absent from `live`, so the
    # inner join below drops EVERY row of theirs (data and tombstones)
    # from the rewritten buckets — physical removal, no trace
    live = _live_postings_docs(spark, path)
    rewritten = 0
    for subdir in sorted(_glob.glob(os.path.join(path, "part=*"))):
        if not os.path.isdir(subdir):
            continue
        sub = spark.read.parquet(subdir)
        resolved = (
            sub.dropDuplicates(["tok", "doc_id", "epoch"])
            .join(live, "doc_id")
            .filter((F.col("epoch") == F.col("_live_e")) & F.col("tok").isNotNull())
            .select("tok", "doc_id", "tf", "epoch")
        )
        n_files = len(_glob.glob(os.path.join(subdir, "*.parquet")))
        if n_files <= 1 and resolved.count() == sub.count():
            continue
        staged = subdir + ".new-del"
        resolved.coalesce(1).write.mode("overwrite").parquet(staged)
        old = subdir + ".old-del"
        os.rename(subdir, old)
        os.rename(staged, subdir)
        shutil.rmtree(old)
        rewritten += 1
    staged = path + "_docs.new-del"
    live.select("doc_id", F.col("_live_e").alias("epoch")).coalesce(
        1
    ).write.mode("overwrite").parquet(staged)
    old = path + "_docs.old-del"
    os.rename(path + "_docs", old)
    os.rename(staged, path + "_docs")
    shutil.rmtree(old)
    if os.path.isdir(path + "_dels"):
        staged = path + "_dels.new-del"
        spark.createDataFrame([], "doc_id long, epoch long").coalesce(
            1
        ).write.mode("overwrite").parquet(staged)
        old = path + "_dels.old-del"
        os.rename(path + "_dels", old)
        os.rename(staged, path + "_dels")
        shutil.rmtree(old)
    return rewritten


def _postings_recover(path: str) -> None:
    """Heal an interrupted compact/upsert swap: same rename contract as
    io._lake_recover, over the bucket dirs AND the `_meta`/`_docs`
    sidecars (which live as path-suffixed siblings)."""
    import glob as _glob
    import shutil

    for old in (
        _glob.glob(os.path.join(path, "*.old-del"))
        + _glob.glob(path + "_meta.old-del")
        + _glob.glob(path + "_docs.old-del")
        + _glob.glob(path + "_dels.old-del")
    ):
        live = old[: -len(".old-del")]
        if os.path.isdir(live):
            shutil.rmtree(old)
        else:
            os.rename(old, live)
    for tmp in (
        _glob.glob(os.path.join(path, "*.new-del"))
        + _glob.glob(path + "_meta.new-del")
        + _glob.glob(path + "_docs.new-del")
        + _glob.glob(path + "_dels.new-del")
    ):
        shutil.rmtree(tmp)


# -- observability -----------------------------------------------------------


def postings_index_stats(spark: SparkSession, path: str) -> dict:
    """Operational health card for a postings index — the OBSERVE verb
    of the LSM story (write/probe/upsert/delete/compact already exist):
    live vs erased docs, tombstone and delta row volume, epoch spread,
    and a compaction recommendation. Driver-side maintenance tooling
    (like compact's return value), not a registered query: it reads
    index directories, not fixture tables. Cost: one pass over the
    index + the manifest sidecars — run it from the same maintenance
    actor that would compact."""
    _postings_recover(path)
    rows = spark.read.parquet(path)
    agg = rows.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col("tok").isNull(), 1).otherwise(0)).alias("tomb"),
        F.countDistinct("epoch").alias("n_epochs"),
        F.max("epoch").alias("max_epoch"),
    ).first()
    live_df = _live_postings_docs(spark, path)
    live = live_df.count()
    # kept = exactly what compaction writes: live docs' rows at their
    # live epoch, tombstones excluded, crash-replay duplicates folded
    # (compaction dropDuplicates on the same key) — foldable is
    # everything else (superseded revisions, erased docs' rows,
    # tombstone rows, duplicate copies)
    kept = (
        rows.filter(F.col("tok").isNotNull())
        .dropDuplicates(["tok", "doc_id", "epoch"])
        .join(live_df, "doc_id")
        .filter(F.col("epoch") == F.col("_live_e"))
        .count()
    )
    pending_del = (
        spark.read.parquet(path + "_dels").select("doc_id").distinct().count()
        if os.path.isdir(path + "_dels")
        else 0
    )
    stats = {
        "rows": agg.rows,
        "tombstone_rows": int(agg.tomb or 0),
        "foldable_rows": int(agg.rows) - kept,
        "n_epochs": agg.n_epochs,
        "max_epoch": int(agg.max_epoch or 0),
        "live_docs": live,
        "pending_deletes": pending_del,
    }
    stats["compact_recommended"] = stats["foldable_rows"] > 0
    return stats


def quantized_index_stats(spark: SparkSession, path: str, code_col: str) -> dict:
    """The IVF-SQ8/IVF-PQ twin of postings_index_stats (`code_col` is
    'q' or 'codes'). Same card: live vs erased vectors, tombstones,
    delta volume, epoch spread, compaction recommendation."""
    _ivf_recover(path)
    rows = spark.read.parquet(path + "/cells")
    agg = rows.agg(
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.when(F.col(code_col).isNull(), 1).otherwise(0)).alias("tomb"),
        F.countDistinct("epoch").alias("n_epochs"),
        F.max("epoch").alias("max_epoch"),
    ).first()
    manifest = (
        spark.read.parquet(path + "/_vecs")
        .groupBy("vec_id")
        .agg(
            F.max_by("cen_id", "epoch").alias("_live_cell"),
            F.max("epoch").alias("_live_e"),
        )
    )
    live = manifest.filter(F.col("_live_cell") >= 0).count()
    erased = manifest.filter(F.col("_live_cell") < 0).count()
    kept = (
        rows.filter(F.col(code_col).isNotNull())
        .dropDuplicates(["vec_id", "epoch", code_col])
        .join(manifest.filter(F.col("_live_cell") >= 0), "vec_id")
        .filter(F.col("epoch") == F.col("_live_e"))
        .count()
    )
    stats = {
        "rows": agg.rows,
        "tombstone_rows": int(agg.tomb or 0),
        "foldable_rows": int(agg.rows) - kept,
        "n_epochs": agg.n_epochs,
        "max_epoch": int(agg.max_epoch or 0),
        "live_vecs": live,
        "pending_deletes": erased,
    }
    stats["compact_recommended"] = stats["foldable_rows"] > 0
    return stats
