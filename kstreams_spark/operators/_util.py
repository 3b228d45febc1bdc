"""Shared helpers for oracle-checked operators.

Determinism-across-engines rules (see registry.py docstring): doubles that
get *aggregated* go through exact DECIMAL(18,6) arithmetic then back to
DOUBLE, because Spark and DuckDB sum floating point in different orders.
Raw column passthrough, IEEE-exact ops (mul of two doubles, sqrt, abs) and
integer math are bit-deterministic and need no special handling.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def spread(df: DataFrame, factor: int = 1) -> DataFrame:
    """Repartition a SMALL input that feeds a CPU-heavy per-row stage
    (shingling, hashing, array math). The fixture tables are single parquet
    files → one partition → one task; an upfront round-robin shuffle of the
    narrow input costs ~nothing and unlocks full-core parallelism. On a
    real cluster the scan is already split by file/rowgroup and this is a
    no-op decision — keep inputs over maxPartitionBytes instead."""
    n = df.sparkSession.sparkContext.defaultParallelism * factor
    return df.repartition(n)

# Exact sum of a double column: DECIMAL(18,6) accumulate, DOUBLE out.
# DuckDB oracle twin: CAST(SUM(CAST(x AS DECIMAL(18,6))) AS DOUBLE)
#
# Precision 18 keeps Spark on the long-backed Decimal fast path (precision
# > 18 switches to Int128/BigDecimal arithmetic, ~3× slower per row); the
# sum's result type grows to DECIMAL(28,6) which holds ~1e22 — ample for
# 100 TB of money-scale values (fixture magnitudes ≤ 1e6/row, ~1e13 total).


def dsum(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return F.sum(c.cast("decimal(18,6)")).cast("double")


def davg(col: Column | str) -> Column:
    """Exact-sum / count, divided in double — deterministic in both engines."""
    c = F.col(col) if isinstance(col, str) else col
    return dsum(c) / F.count(c)


DSUM_SQL = "CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE)"
DAVG_SQL = "CAST(SUM(CAST({x} AS DECIMAL(18,6))) AS DOUBLE) / COUNT({x})"

# What DuckDB runs for each `CAST(<expr> AS DECIMAL(18,6))` of an oracle
# (registry.query applies oracle_dec6 to every registered oracle). Spark
# casts a double through its shortest decimal string
# (java.lang.Double.toString) rounded HALF_UP; DuckDB's direct cast rounds
# the binary value, so the engines disagree on doubles within an ulp of a
# half-millionth — 0.6638124999999999 is 0.663812 in Spark, 0.663813 in
# DuckDB's direct cast. Rounding DuckDB's shortest string the same way
# agrees with Spark on 1.68M doubles (half-millionths ±1 ulp, both signs,
# 1e-300 to 1e12). The string goes through DECIMAL(38,26) and ROUND
# because DuckDB's string → DECIMAL(18,6) cast misreads exponent forms
# ('5e-07' → 0.000001) and its decimal downscale truncates.
DEC6_SQL = (
    "CAST(ROUND(CAST(CAST({x} AS VARCHAR) AS DECIMAL(38,26)), 6)"
    " AS DECIMAL(18,6))"
)
_DEC6_END = re.compile(r"\s+AS\s+DECIMAL\(18,\s*6\)\)", re.IGNORECASE)


def oracle_dec6(sql: str) -> str:
    """Rewrite every `CAST(<expr> AS DECIMAL(18,6))` in oracle SQL into
    the DEC6_SQL form, so the oracle rounds each double like Spark."""
    out, pos = [], 0
    for m in _DEC6_END.finditer(sql):
        depth, i = 0, m.start() - 1
        while depth or sql[i] != "(":  # back to this CAST's open paren
            depth += {")": 1, "(": -1}.get(sql[i], 0)
            i -= 1
        if sql[i - 4 : i].upper() != "CAST" or i < pos:
            continue
        out.append(sql[pos : i - 4])
        out.append(DEC6_SQL.format(x=sql[i + 1 : m.start()]))
        pos = m.end()
    return "".join(out) + sql[pos:]


def fence(df: DataFrame) -> DataFrame:
    """Optimizer fence: a checkpoint that stops predicate pushdown /
    projection collapse, so (a) a CPU-heavy gate filter evaluates AFTER
    spread()'s exchange (full-width) instead of being pushed into the
    fixture's unsplittable single-row-group parquet scan (1 task), and
    (b) an expensive synthesized column (md5) is computed once and
    STORED instead of re-inlined into every use. Measured on the
    curation composites at sf0.1: the pushed Gopher-repetition gate ran
    1-task at ~1.5 s; fenced it runs 32-wide. Bonus locally: downstream
    iterative consumers (the CC loop's edge checkpoint) re-read the
    fenced rows instead of re-running the scan chain.

    Scale dispatch (r16, VERDICT r15 task 4 — same contract as
    _pin_partitioning): when a checkpoint dir is configured (any
    at-scale deployment points it at shared storage) the fence is a
    RELIABLE eager checkpoint — disk-backed, fault-tolerant, bounded by
    storage rather than executor memory, so fact-grain fences survive
    executor loss and never pin the fact table in RAM. Deployments must
    pair it with `spark.cleaner.referenceTracking.cleanCheckpoints=true`
    (see _pin_partitioning's hygiene note). Without a checkpoint dir
    (local/dev — the bench and the grading driver) it stays the lazy
    localCheckpoint: materializes during the query's own first action,
    blocks freed by the ContextCleaner. On a real lake, scan-side gate
    evaluation over split files is often what you want anyway — SCALE.md
    keeps the per-site disposition table.

    Footprint: the localCheckpoint holds the fenced rows in executor
    block storage until the query's DataFrames are collected. Most
    fenced frames are small aggregates, but dedup.ngram_jaccard_pairs
    fences one shingle SET per doc — doc-grain in rows, corpus-grain in
    bytes (about the whole shingled corpus text). Without a checkpoint
    dir that is corpus-scale executor memory for the query's lifetime;
    point the checkpoint dir at storage before running it at scale."""
    sc = df.sparkSession.sparkContext
    try:
        ckpt_dir = sc.getCheckpointDir()
    except AttributeError:  # pragma: no cover - very old PySpark
        ckpt_dir = None
    if ckpt_dir:
        # eager: a LAZY reliable checkpoint recomputes lineage a second
        # time for the file write (the _pin_partitioning finding)
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


def _pin_partitioning(df: DataFrame) -> DataFrame:
    """Materialize ONE partitioning instance that both the offsets job
    and the rank job of the two-phase helpers observe.

    Why not persist: MEMORY_AND_DISK cache does not survive executor
    loss — a recompute re-runs repartitionByRange with freshly sampled
    range bounds, so rows can land in different pids than the collected
    offsets assumed, silently corrupting global ranks/prefix sums on a
    real cluster (the local drift gate cannot exercise executor loss).

    Pin instead, fail-safe either way:
      * checkpoint dir configured (any at-scale deployment points it at
        shared storage) → reliable `checkpoint(eager=True)` — durable:
        lost partitions re-READ the materialized files, never re-sample
        (eager, because a LAZY reliable checkpoint recomputes lineage a
        second time for the file write). Storage hygiene (ADVICE r9):
        Spark deletes a reliable checkpoint's files only when
        `spark.cleaner.referenceTracking.cleanCheckpoints=true` (default
        FALSE) — a long-lived driver that calls the two-phase helpers
        repeatedly without that conf accumulates one materialized copy
        of the ranged data per call in the checkpoint dir. At-scale
        deployments that configure a checkpoint dir MUST also set that
        conf (or sweep the dir externally); local/dev runs take the
        localCheckpoint path, whose blocks the ContextCleaner frees.
      * no checkpoint dir (local/dev) → `localCheckpoint(eager=False)` —
        materializes during the FIRST action (the offsets collect) and
        truncates lineage there, so both jobs see one partitioning
        instance and a lost block fails the job loudly instead of
        recomputing into a silent wrong answer. Lazy on purpose: an
        eager local checkpoint costs one extra full pass (measured
        +0.6-1.1 s on the abc/feature-snapshot headliners at sf0.1) for
        no additional guarantee. Blocks are freed by the ContextCleaner
        when the result DataFrame is GC'd (a truncated-lineage RDD
        cannot be manually unpersisted)."""
    sc = df.sparkSession.sparkContext
    try:
        ckpt_dir = sc.getCheckpointDir()
    except AttributeError:  # pragma: no cover - very old PySpark
        ckpt_dir = None
    if ckpt_dir:
        return df.checkpoint(eager=True)
    return df.localCheckpoint(eager=False)


def global_row_number(
    df: DataFrame, order: list[Column], out_col: str, n_ranges: int = 32
) -> DataFrame:
    """Global row_number over `order` (which must be a TOTAL order — a
    unique tie-break column is the caller's contract) WITHOUT an
    unpartitioned window: an unpartitioned `Window.orderBy` funnels the
    whole table through ONE task, a straggler the moment the table is
    big enough to matter. Two-phase instead (the packing
    per-shard-offsets pattern, packing.py:shard_offsets):

      1. `repartitionByRange(n_ranges, order)` — contiguous slices of
         the total order; `spark_partition_id()` is monotone in it.
      2. per-range row_number (partitioned window, no global sort) +
         per-range counts collected driver-side (n_ranges rows — a
         bounded collect) turned into broadcast prefix offsets.

    Rank values are INVARIANT to where the sampled range bounds fall:
    any contiguous split of a total order yields the same global rank,
    so nondeterministic bound sampling can't leak into the result (the
    drift gate varies shuffle width over this). `_pin_partitioning`
    pins one partitioning instance across the offsets job and the rank
    job — durably (reliable checkpoint) or fail-loud (local
    checkpoint), never recompute-dependent.

    Sizing: n_ranges ~ rows/1e6 at scale; the default 32 matches the
    local session. The rank column is BIGINT (offset + row_number)."""
    from pyspark.sql import Window

    parts = _pin_partitioning(
        df.repartitionByRange(n_ranges, *order)
        .withColumn("_gr_pid", F.spark_partition_id())
    )
    sizes = {
        r._gr_pid: r.c
        for r in parts.groupBy("_gr_pid")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    }
    offsets, acc = [], 0
    for pid in sorted(sizes):
        offsets.append((pid, acc))
        acc += sizes[pid]
    off = F.broadcast(
        df.sparkSession.createDataFrame(
            offsets or [(0, 0)], "_gr_pid int, _gr_off long"
        )
    )
    w = Window.partitionBy("_gr_pid").orderBy(*order)
    return (
        parts.join(off, "_gr_pid")
        .withColumn(
            out_col,
            (F.col("_gr_off") + F.row_number().over(w)).cast("long"),
        )
        .drop("_gr_pid", "_gr_off")
    )


def global_prefix_sum(
    df: DataFrame,
    order: list[Column],
    value_col: str,
    out_col: str,
    n_ranges: int = 32,
    rank_col: str | None = None,
) -> DataFrame:
    """Global running SUM(value) over a TOTAL order, two-phase like
    `global_row_number` (same contract: unique tie-break, rank/prefix
    invariant to range bounds): per-range running sums + broadcast
    per-range value-total prefix offsets. The scalable form of
    `SUM(x) OVER (ORDER BY ...)` — the Pareto/ABC and token-budget
    shape — without the single-task window. Output column is BIGINT;
    the caller keeps values integer (the dsum rule's integer cousin).

    `rank_col`: also emit the global row_number — the per-range count
    rides the same bounded collect and the rank window shares the
    prefix window's sort, so rank+prefix together cost ONE range
    exchange instead of chaining global_row_number → global_prefix_sum
    (two). Partitioning pinned via `_pin_partitioning` (durable or
    fail-loud, never recompute-dependent — see its docstring)."""
    from pyspark.sql import Window

    parts = _pin_partitioning(
        df.repartitionByRange(n_ranges, *order)
        .withColumn("_gp_pid", F.spark_partition_id())
    )
    totals = {
        r._gp_pid: (r.s, r.c)
        for r in parts.groupBy("_gp_pid")
        .agg(
            F.sum(value_col).cast("long").alias("s"),
            F.count(F.lit(1)).alias("c"),
        )
        .collect()
    }
    offsets, acc, racc = [], 0, 0
    for pid in sorted(totals):
        offsets.append((pid, acc, racc))
        acc += totals[pid][0] or 0
        racc += totals[pid][1]
    off = F.broadcast(
        df.sparkSession.createDataFrame(
            offsets or [(0, 0, 0)], "_gp_pid int, _gp_off long, _gp_roff long"
        )
    )
    w = (
        Window.partitionBy("_gp_pid")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    out = (
        parts.join(off, "_gp_pid")
        .withColumn(
            out_col,
            (
                F.col("_gp_off")
                + F.sum(value_col).over(w).cast("long")
            ).cast("long"),
        )
    )
    if rank_col is not None:
        wr = Window.partitionBy("_gp_pid").orderBy(*order)
        out = out.withColumn(
            rank_col,
            (F.col("_gp_roff") + F.row_number().over(wr)).cast("long"),
        )
    return out.drop("_gp_pid", "_gp_off", "_gp_roff")
