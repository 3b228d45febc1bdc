"""Cross-index atomic ingest for the hybrid serving stack (VERDICT r9
task 2). A hybrid (RRF) query reads the keyword postings index AND a
vector index together; with per-index maintainers each committing its
own epoch markers, a crash between the two foreachBatch bodies leaves
the hybrid view TORN — the lexical leg sees document D, the vector leg
doesn't, and nothing ever reconciles the two until the stream restarts.

`HybridIngestMaintainer` closes that window with two mechanisms:

1. **One marker for all indexes (write side).** A single microbatch
   upserts every participating index (postings, IVF-SQ8, optionally
   IVF-PQ) and only then commits ONE epoch marker — marker-last over
   the whole group, on the same `_EpochMarkedMaintainer` skeleton the
   per-index maintainers use. A crash anywhere before the marker means
   the epoch is uncommitted for EVERY index; the foreachBatch replay
   re-applies the same (delta, epoch) to every index — idempotent under
   each index's upsert crash contract — and commits.

2. **Snapshot reads at the committed epoch (probe side).** Probes cap
   visibility at `visible_epoch()` (derived from the group's markers):
   delta rows above the cap — a crashed or in-flight ingest's appends —
   are filtered out of every leg before live-row resolution, so both
   legs of a hybrid query always see the SAME prefix of committed
   epochs. All-or-nothing: either both legs see epoch N, or neither
   does. `probe_hybrid` reads the marker ONCE and hands the same cap to
   both legs — the snapshot point of the whole fused query.

Epoch arithmetic: the base build owns data epoch 0 and is visible with
no markers; batch `epoch_id` writes data at `epoch_id + 1` and its
marker makes `visible_epoch() == epoch_id + 1`. Markers commit in batch
order (Structured Streaming serializes foreachBatch), so a max over
marker ids is a valid snapshot bound.

At 100 TB this is the multi-index transaction a serving deployment
needs: one ingest pipeline feeding N index families with a shared
commit point, probes reading a consistent snapshot with one driver-side
directory listing (no manifest join on the data path), and per-index
compaction unchanged because it only folds COMMITTED epochs.

r10 extends the same transaction to ERASURE: batches may carry an `op`
column and delete rows erase a doc from every participating index under
the same single marker (see the class docstring) — the GDPR request
path gets the identical all-or-nothing guarantee as ingest, proven by
the torn-delete crash test in tests/test_hybrid_erasure.py.
"""

from __future__ import annotations

import os
import threading

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kstreams_spark.operators.retrieval import RRF_K, RRF_SCALE
from kstreams_spark.serving import (
    _read_centroids,
    compact_ivf_pq_index,
    compact_ivf_sq8_index,
    compact_postings_index,
    delete_ivf_pq_vecs,
    delete_ivf_sq8_vecs,
    delete_postings_docs,
    load_postings_snapshot,
    load_sq8_snapshot,
    probe_ivf_pq_index,
    probe_ivf_sq8_index,
    probe_postings_index,
    probe_postings_snapshot,
    probe_sq8_snapshot,
    upsert_ivf_pq_delta,
    upsert_ivf_sq8_delta,
    upsert_postings_delta,
    write_ivf_pq_index,
    write_ivf_sq8_index,
    write_postings_index,
)
from kstreams_spark.streaming.postings import _EpochMarkedMaintainer


class HybridIngestMaintainer(_EpochMarkedMaintainer):
    """Multi-index maintainer: one stream of (doc_id, text, embedding)
    rows feeds a postings index, an IVF-SQ8 index, and (optionally) an
    IVF-PQ index under a SINGLE per-epoch commit marker. Documents and
    vectors share the id space (vec_id = doc_id) — the join key the
    hybrid fusion needs anyway.

    CDC mode (r10 — erasure rides the same atomic commit): a batch MAY
    carry an `op` column ('upsert' | 'delete'); delete rows erase the
    doc from EVERY participating index (serving.delete_postings_docs /
    delete_ivf_*_vecs — same tombstone mechanics, physically removed at
    the next compact()) at the batch's epoch, under the same single
    group marker — so an erasure request is all-or-nothing to a hybrid
    reader exactly like an ingest, and a crash mid-delete can't leave a
    doc hidden from one leg but scoring on the other (the GDPR torn-read
    twin). With an optional monotonic `seq` column, conflicting same-key
    rows within one batch resolve LAST-WINS before applying (one tiny
    per-batch agg); without `seq` the feed must be key-compacted (at
    most one row per doc_id per batch) — the per-index one-intent-per-
    key-per-epoch contract, ENFORCED with a per-batch duplicate-key
    check that fails loudly rather than corrupting the index."""

    def __init__(self, root: str) -> None:
        super().__init__(root)
        self.root = root
        self.postings_dir = os.path.join(root, "postings")
        self.sq8_dir = os.path.join(root, "sq8")
        self.pq_dir = os.path.join(root, "pq")
        # driver-resident probe snapshots: index name → (epoch, snapshot
        # or None above the driver cap); see _snapshot
        self._snaps: dict[str, tuple] = {}
        self._snap_lock = threading.Lock()

    # -- write side ---------------------------------------------------

    def bootstrap(
        self,
        docs: DataFrame,
        centroids: list[list[float]],
        params: DataFrame | None = None,
        codebooks=None,
    ) -> None:
        """Build every participating index at data epoch 0 from one
        (doc_id, text, embedding) corpus. `codebooks` non-None opts the
        IVF-PQ leg into the group. Quantizer params / codebooks /
        centroids are FROZEN here — the per-index train-once contract."""
        if os.path.isdir(self.postings_dir):
            raise ValueError("bootstrap requires a fresh root")
        # r16 (guide §2.6): the per-index builds are independent jobs
        # over independent directories — submit them from a small pool
        # so one build's straggler tail back-fills with the next
        # build's head (the r15 lake-compact pattern). Each build's own
        # write/commit semantics are untouched; a crash mid-pool leaves
        # each leg either complete or absent, the same enumerable
        # states as the serial order.
        emb = self._emb_view(docs)
        jobs = [
            lambda: write_postings_index(
                docs.select("doc_id", "text"), self.postings_dir
            ),
            lambda: write_ivf_sq8_index(
                emb, self.sq8_dir, centroids, params=params
            ),
        ]
        if codebooks is not None:
            jobs.append(
                lambda: write_ivf_pq_index(
                    emb, self.pq_dir, centroids, codebooks
                )
            )
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            for f in [pool.submit(j) for j in jobs]:
                f.result()

    @staticmethod
    def _emb_view(docs: DataFrame) -> DataFrame:
        return docs.select(F.col("doc_id").alias("vec_id"), "embedding")

    @staticmethod
    def _resolve_cdc(batch_df: DataFrame) -> DataFrame:
        """LAST-WINS per doc_id by `seq` when present (an update+delete
        of one key inside one microbatch is legal CDC; the per-index
        contract needs ONE intent per key per epoch). One groupBy over a
        microbatch-sized frame."""
        if "seq" not in batch_df.columns:
            return batch_df
        return (
            batch_df.groupBy("doc_id")
            .agg(
                F.max_by(F.struct("op", "text", "embedding"), "seq").alias(
                    "_last"
                )
            )
            .select("doc_id", "_last.op", "_last.text", "_last.embedding")
        )

    def _apply(self, batch_df: DataFrame, epoch: int) -> None:
        """All participating indexes, fixed order (postings upsert →
        vector upserts → postings delete → vector deletes), marker
        afterwards (in the inherited process_batch). Order is
        correctness-neutral — nothing below the group marker is
        probe-visible — but fixed order keeps crash states enumerable
        for the recovery tests."""
        if "op" in batch_df.columns:
            # validate ops BEFORE last-wins resolution — an unknown op
            # that loses a seq conflict must still be rejected, not
            # silently dropped
            ops = {r.op for r in batch_df.select("op").distinct().collect()}
            unknown = ops - {"upsert", "delete"}
            if unknown:
                raise ValueError(f"unknown CDC op values: {sorted(unknown)}")
            if "seq" in batch_df.columns:
                batch_df = self._resolve_cdc(batch_df)
            else:
                # ENFORCE the key-compaction contract: a same-key
                # upsert+delete at one epoch corrupts the index (the
                # per-index one-intent rule) — the delete's tombstones
                # and the upsert's rows land at the SAME live epoch, so
                # probes and compaction disagree about the doc. One tiny
                # per-batch agg buys the loud failure.
                dup = (
                    batch_df.groupBy("doc_id")
                    .count()
                    .filter(F.col("count") > 1)
                    .limit(1)
                    .collect()
                )
                if dup:
                    raise ValueError(
                        f"CDC batch carries multiple rows for doc_id "
                        f"{dup[0].doc_id}: supply a monotonic `seq` column "
                        "for last-wins resolution or key-compact the feed"
                    )
            ups = batch_df.filter(F.col("op") == "upsert")
            dels = batch_df.filter(F.col("op") == "delete") if "delete" in ops else None
            if "upsert" not in ops:
                ups = None
        else:
            ups, dels = batch_df, None
        has_pq = os.path.isdir(self.pq_dir)
        if ups is not None:
            upsert_postings_delta(
                ups.select("doc_id", "text"), self.postings_dir, epoch=epoch
            )
            emb = self._emb_view(ups)
            upsert_ivf_sq8_delta(emb, self.sq8_dir, epoch=epoch)
            if has_pq:
                upsert_ivf_pq_delta(emb, self.pq_dir, epoch=epoch)
        if dels is not None:
            ids = dels.select("doc_id")
            vids = dels.select(F.col("doc_id").alias("vec_id"))
            delete_postings_docs(ids, self.postings_dir, epoch=epoch)
            delete_ivf_sq8_vecs(vids, self.sq8_dir, epoch=epoch)
            if has_pq:
                delete_ivf_pq_vecs(vids, self.pq_dir, epoch=epoch)

    # -- out-of-band erasure (r11: the erase_document() serving leg) ---
    #
    # A GDPR request that must not wait for the ingest feed cannot ride
    # a stream epoch — the stream's checkpoint is the only allocator of
    # batch ids, so an out-of-band writer claiming "the next id" would
    # collide with a future real batch and silently no-op it. Instead,
    # erasure claims data epoch visible+1 directly (no group marker) and
    # commits by bumping a persistent EPOCH OFFSET that (a) makes
    # visible_epoch() cover the erasure atomically and (b) shifts every
    # FUTURE stream batch's data epoch past it, so the epoch space stays
    # strictly ordered: committed stream epochs < erase epoch < every
    # later stream epoch. Re-ingesting an erased doc through the normal
    # feed therefore resurrects it (CDC last-wins semantics preserved),
    # while the all-or-nothing read guarantee is unchanged — the offset
    # file rename is the single commit point both probe legs observe
    # through the one visible_epoch() call.

    def _offset(self) -> int:
        p = self.root + "/_erase_offset"
        if not os.path.isfile(p):
            return 0
        with open(p) as fh:
            return int(fh.read().strip())

    def _set_offset(self, value: int) -> None:
        tmp = self.root + "/_erase_offset.tmp"
        with open(tmp, "w") as fh:
            fh.write(str(value))
        os.replace(tmp, self.root + "/_erase_offset")  # the commit point

    def _erase_log(self, epoch: int) -> str:
        return self.root + f"/_erase_log-{epoch}"

    def _apply_erase(self, ids: DataFrame, epoch: int) -> None:
        delete_postings_docs(ids, self.postings_dir, epoch=epoch)
        vids = ids.select(F.col("doc_id").alias("vec_id"))
        delete_ivf_sq8_vecs(vids, self.sq8_dir, epoch=epoch)
        if os.path.isdir(self.pq_dir):
            delete_ivf_pq_vecs(vids, self.pq_dir, epoch=epoch)

    def _heal_crashed_erase(self, spark: SparkSession) -> None:
        """Complete a logged-but-uncommitted erasure before anything
        else claims its epoch. The intent log's IDS are what get
        re-applied — NOT the current request's — so a new erase with
        different ids can never commit a prior request's partial (torn)
        deletes as its own (the id-mismatch hazard: request A crashes
        between the postings and vector deletes; request B must not
        publish A's postings-only state)."""
        epoch = self.visible_epoch() + 1
        logp = self._erase_log(epoch)
        if not os.path.isfile(logp):
            return
        with open(logp) as fh:
            logged = [int(x) for x in fh.read().split() if x.strip()]
        if logged:
            self._apply_erase(
                spark.createDataFrame([(i,) for i in logged], "doc_id bigint"),
                epoch,
            )
        self._set_offset(self._offset() + 1)

    def erase(self, doc_ids: DataFrame) -> int:
        """Out-of-band GDPR erasure across EVERY participating index
        with ONE atomic commit point — the maintenance-mode twin of the
        CDC op='delete' path (same per-index delete verbs, physically
        removed by the same compact()). For erasure requests that arrive
        on the ingest feed itself, prefer the CDC path; this verb is for
        the erase_document() orchestrator (kstreams_spark/erasure.py).

        Steps: (0) HEAL — a logged-but-uncommitted prior erasure is
        completed first, with the LOGGED ids (see _heal_crashed_erase:
        a new request must never adopt a crashed one's epoch and
        publish its partial deletes); (1) quiescence check — refuse if
        an uncommitted stream batch's rows are on disk (its replay
        would land at our epoch; restart the stream to commit it
        first); (2) write the intent log for epoch visible+1; (3) apply
        the per-index deletes at that epoch — invisible, the cap still
        excludes it; (4) bump the epoch offset — the atomic rename
        after which every probe sees the erasure on all legs at once.

        Contract: single actor (stream quiescent — the compact()
        assumption); re-runnable from any crash point (a re-run heals
        the logged erase to completion, then applies the new request at
        the next epoch; per-index delete verbs are idempotent under
        re-run). A CRASHED erase must be healed (any erase() call does
        it) BEFORE the stream restarts — otherwise the next stream
        batch could share the crashed erase's claimed epoch and a
        same-doc upsert would tie with the delete (the
        one-intent-per-key-per-epoch rule). Returns the data epoch
        used."""
        spark = doc_ids.sparkSession
        self._heal_crashed_erase(spark)
        self._heal_crashed_derive(spark)
        visible = self.visible_epoch()
        epoch = visible + 1
        applied = self._max_applied_epoch(spark)
        if applied > visible:
            raise ValueError(
                f"uncommitted stream epoch {applied} on disk (visible "
                f"{visible}): restart the stream to commit it before an "
                "out-of-band erase"
            )
        ids = doc_ids.select("doc_id").localCheckpoint(eager=True)
        with open(self._erase_log(epoch) + ".tmp", "w") as fh:
            fh.write("\n".join(str(r.doc_id) for r in ids.collect()))
        os.replace(self._erase_log(epoch) + ".tmp", self._erase_log(epoch))
        self._apply_erase(ids, epoch)
        self._set_offset(self._offset() + 1)
        return epoch

    # -- lake-derived maintenance (r12: VERDICT r11 task 1) -------------
    #
    # Production's shape is lake-as-source-of-truth: the snapshot lake's
    # manifest log is the ONE commit history and the serving indexes are
    # DERIVED state. apply_snapshot_changes() pipes the lake's CDC feed
    # (lake_snapshot.snapshot_diff between the last applied version and
    # the target) onto the existing atomic CDC op='upsert'/'delete'
    # path (_apply), one out-of-band data epoch per applied version
    # range, committed through the SAME epoch-offset protocol as
    # erase() — the stream checkpoint stays the only allocator of
    # stream epoch ids (CLAUDE.md invariant), and the offset-file
    # rename is the single commit point both probe legs observe.
    # Idempotence is version-keyed like the committed-epoch set: the
    # `_lake_version` watermark records the highest applied lake
    # version, and a re-apply at or below it is a no-op. Erasure on a
    # lake-derived deployment therefore collapses to: delete in the
    # lake (one manifest commit), propagate (one derive) — the
    # out-of-band erase() stays for feeds without a lake.
    #
    # Crash protocol (the erase() shape, extended with a finalize step):
    # intent log `_derive_log-<epoch>` records {lake_path, from, to} →
    # per-index CDC applies at epoch visible+1 (invisible) → offset
    # bump (THE commit: probes flip) → `_lake_version` write → log
    # removed. A crash before the bump is healed by re-deriving the
    # LOGGED range at the same epoch (idempotent per-index verbs); a
    # crash after the bump but before the watermark write leaves a log
    # at an epoch ≤ visible, healed by finalizing (watermark + log
    # removal) with no re-apply. Both heals run before every
    # out-of-band verb, so a crashed derive can never donate its epoch
    # to a later erase or vice versa. The lake must retain the applied
    # `from` version until the derive commits (vacuum's reader-grace /
    # keep_versions contract) — snapshot_diff fails loudly otherwise.

    def _lake_version_file(self) -> str:
        return self.root + "/_lake_version"

    def lake_version(self) -> int | None:
        """Highest lake snapshot version applied to the indexes, or
        None when this maintainer is not lake-derived."""
        p = self._lake_version_file()
        if not os.path.isfile(p):
            return None
        with open(p) as fh:
            return int(fh.read().strip())

    def _set_lake_version(self, v: int) -> None:
        tmp = self._lake_version_file() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(int(v)))
        os.replace(tmp, self._lake_version_file())

    def _derive_log(self, epoch: int) -> str:
        return self.root + f"/_derive_log-{epoch}"

    def bootstrap_from_lake(
        self,
        spark: SparkSession,
        lake_path: str,
        centroids: list[list[float]],
        params: DataFrame | None = None,
        codebooks=None,
        version: int | None = None,
    ) -> int:
        """Build every participating index at data epoch 0 from one
        committed lake snapshot (doc_id, text, embedding columns) and
        record that version as the derivation watermark. Returns the
        lake version the indexes now reflect."""
        from kstreams_spark.lake_snapshot import (
            snapshot_read,
            snapshot_versions,
        )

        versions = snapshot_versions(lake_path)
        if not versions:
            raise ValueError(f"no committed snapshots under {lake_path}")
        v = versions[-1] if version is None else version
        snap = snapshot_read(spark, lake_path, v).select(
            "doc_id", "text", "embedding"
        )
        self.bootstrap(snap, centroids, params=params, codebooks=codebooks)
        self._set_lake_version(v)
        return v

    def _cdc_feed(
        self, spark: SparkSession, lake_path: str, from_v: int, to_v: int
    ) -> DataFrame:
        """snapshot_diff → the CDC batch shape _apply consumes: one row
        per doc_id with op ∈ {upsert, delete} (diff is keyed, so the
        one-intent-per-key contract holds with no seq column)."""
        from kstreams_spark.lake_snapshot import snapshot_diff

        diff = snapshot_diff(spark, lake_path, from_v, to_v)
        return diff.select(
            "doc_id",
            F.when(F.col("_change") == "delete", F.lit("delete"))
            .otherwise(F.lit("upsert"))
            .alias("op"),
            "text",
            "embedding",
        )

    def _heal_crashed_derive(self, spark: SparkSession) -> None:
        """Complete a logged-but-unfinalized derivation. Two windows:
        a log at epoch visible+1 (crash before the offset bump) →
        re-apply the LOGGED range at that epoch, bump, finalize; a log
        at an epoch ≤ visible (crash after the bump, before the
        watermark write) → finalize only. Like _heal_crashed_erase, the
        LOG's range is what gets applied — never a new request's."""
        import glob as _glob
        import json as _json

        for logp in sorted(_glob.glob(self.root + "/_derive_log-*")):
            epoch = int(logp.rsplit("-", 1)[1])
            with open(logp) as fh:
                intent = _json.load(fh)
            visible = self.visible_epoch()
            if epoch == visible + 1:
                feed = self._cdc_feed(
                    spark, intent["lake_path"], intent["from_v"], intent["to_v"]
                )
                self._apply(feed, epoch)
                self._set_offset(self._offset() + 1)
            elif epoch > visible + 1:  # pragma: no cover - corruption guard
                raise ValueError(
                    f"derive log {logp} claims epoch {epoch} beyond "
                    f"visible+1={visible + 1}: epoch allocation corrupted"
                )
            applied = self.lake_version()
            if applied is None or applied < intent["to_v"]:
                self._set_lake_version(intent["to_v"])
            os.remove(logp)

    def apply_snapshot_changes(
        self,
        spark: SparkSession,
        lake_path: str,
        to_version: int | None = None,
    ) -> dict:
        """Derive the indexes forward: apply the lake's CDC feed from
        the recorded watermark to `to_version` (default: the lake's
        latest committed version) as ONE atomic group commit — every
        participating index flips together at the offset bump, exactly
        like erase(). Idempotent: a target at or below the watermark is
        a no-op. Contract: single out-of-band actor, ingest stream
        quiescent (the erase() assumption — mixing a live stream feed
        with lake derivation would double-apply documents); re-runnable
        from any crash point. Returns {"from_v", "to_v", "epoch",
        "applied"} (epoch None when nothing changed)."""
        self._heal_crashed_erase(spark)
        self._heal_crashed_derive(spark)
        from kstreams_spark.lake_snapshot import snapshot_versions

        applied = self.lake_version()
        if applied is None:
            raise ValueError(
                "maintainer is not lake-derived: bootstrap_from_lake() "
                "records the watermark apply_snapshot_changes derives from"
            )
        versions = snapshot_versions(lake_path)
        if not versions:
            raise ValueError(f"no committed snapshots under {lake_path}")
        to_v = versions[-1] if to_version is None else int(to_version)
        if to_v not in versions:
            raise ValueError(
                f"lake version v{to_v} not committed (have {versions})"
            )
        report = {"from_v": applied, "to_v": to_v, "epoch": None, "applied": False}
        if to_v <= applied:
            return report  # version-keyed idempotence: already derived
        visible = self.visible_epoch()
        max_applied = self._max_applied_epoch(spark)
        if max_applied > visible:
            raise ValueError(
                f"uncommitted stream epoch {max_applied} on disk (visible "
                f"{visible}): restart the stream to commit it before "
                "deriving from the lake"
            )
        feed = self._cdc_feed(spark, lake_path, applied, to_v)
        if feed.isEmpty():
            # pure-relayout lake commits (compact) change no rows: advance
            # the watermark without claiming an epoch
            self._set_lake_version(to_v)
            report["applied"] = True
            return report
        epoch = visible + 1
        import json as _json

        with open(self._derive_log(epoch) + ".tmp", "w") as fh:
            _json.dump(
                {"lake_path": lake_path, "from_v": applied, "to_v": to_v}, fh
            )
        os.replace(self._derive_log(epoch) + ".tmp", self._derive_log(epoch))
        self._apply(feed, epoch)
        self._set_offset(self._offset() + 1)  # THE commit: probes flip here
        self._set_lake_version(to_v)
        os.remove(self._derive_log(epoch))
        report.update(epoch=epoch, applied=True)
        return report

    def follow_lake(
        self, spark: SparkSession, lake_path: str, checkpoint_dir: str
    ):
        """CONTINUOUS derivation (r12): attach the lake's change-feed
        stream (sources/lake_cdf.py — offsets are manifest versions) and
        derive the indexes forward once per microbatch. The foreachBatch
        body only reads the batch's max `_commit_version` and calls
        apply_snapshot_changes to it — the derive path stays the single
        implementation, and its version-keyed idempotence makes replay
        after a crash a no-op (the stream checkpoint and the
        `_lake_version` watermark can never disagree for long: whichever
        lags, re-applying converges). Same contract as the batch verb:
        bootstrap_from_lake first; the maintainer's OWN ingest stream
        must be quiescent (mixing both feeds would double-apply)."""
        from kstreams_spark.sources.lake_cdf import LakeChangeFeedDataSource

        spark.dataSource.register(LakeChangeFeedDataSource)
        applied = self.lake_version()
        if applied is None:
            raise ValueError(
                "maintainer is not lake-derived: bootstrap_from_lake() "
                "records the watermark follow_lake derives from"
            )
        stream = (
            spark.readStream.format("kstreams_lake_cdf")
            .option("path", lake_path)
            .option("start_version", str(applied))
            .load()
        )

        def derive(batch_df: DataFrame, _epoch_id: int) -> None:
            row = batch_df.agg(
                F.max("_commit_version").alias("v")
            ).collect()[0]
            v = row.v
            if v is None:
                # a row-less CDC step (e.g. an empty stream commit, or a
                # pure-relayout compact): nothing to index, but advance
                # the watermark to the batch-time latest so lake_version
                # tracks the log — apply_snapshot_changes' empty-feed
                # path does exactly that without claiming an epoch
                from kstreams_spark.lake_snapshot import snapshot_versions

                versions = snapshot_versions(lake_path)
                v = versions[-1] if versions else None
            if v is not None:
                self.apply_snapshot_changes(spark, lake_path, to_version=v)

        return (
            stream.writeStream.foreachBatch(derive)
            .option("checkpointLocation", checkpoint_dir)
            .start()
        )

    def _data_epoch(self, epoch_id: int) -> int:
        """The inherited marker-last skeleton, with the data epoch
        shifted by the erase offset (see the erasure note above).
        Replay determinism holds because erase() refuses to run while
        an uncommitted batch's rows are on disk — the offset a replayed
        batch reads is always the offset its first attempt read."""
        return epoch_id + 1 + self._offset()

    def visible_epoch(self) -> int:
        """Highest committed DATA epoch: max group marker id + 1 (or 0,
        the base build, with no markers), plus one per committed
        out-of-band erasure. One directory listing + one tiny file —
        the only metadata reads a snapshot probe pays."""
        off = self._offset()
        if not os.path.isdir(self.marker_root):
            return off
        ids = [
            int(n.split("=", 1)[1])
            for n in os.listdir(self.marker_root)
            if n.startswith("epoch=")
        ]
        return (max(ids) + 1 if ids else 0) + off

    # -- read side (all legs capped at ONE snapshot epoch) ------------
    #
    # The lexical and SQ8 legs answer from a driver-resident snapshot of
    # the index at the capped epoch (serving.load_*_snapshot): loaded once
    # per epoch, probed in NumPy, no Spark job per probe. Rows at or below
    # a committed epoch never change meaning — later epochs only append
    # above it, and compaction folds without changing any answer — so the
    # epoch alone keys the snapshot. Above serving.DRIVER_INDEX_MAX_BYTES
    # the Spark probe serves.

    def _snapshot(self, name: str, epoch: int):
        """The `name` ('postings' | 'sq8') index's snapshot at `epoch`,
        loading it when the held one is at another epoch. One lock
        serializes loads, so concurrent probes across an epoch advance
        load each epoch once and never see a half-built snapshot. Only
        the visible epoch's snapshot is kept: a cap below it (a probe
        that read the epoch just before an advance, or an explicit
        older cap) would evict the one the next probes need, and a cap
        above it may still be gaining rows, so either serves one probe."""
        held = self._snaps.get(name)
        if held is not None and held[0] == epoch:
            return held[1]
        with self._snap_lock:
            held = self._snaps.get(name)
            if held is None or held[0] != epoch:
                if name == "postings":
                    snap = load_postings_snapshot(self.postings_dir, epoch)
                else:
                    snap = load_sq8_snapshot(self.sq8_dir, epoch)
                if epoch != self.visible_epoch():
                    return snap
                held = self._snaps[name] = (epoch, snap)
        return held[1]

    def probe_lexical(
        self,
        spark: SparkSession,
        terms: tuple[str, ...],
        k: int = 20,
        max_epoch: int | None = None,
    ) -> DataFrame:
        e = self.visible_epoch() if max_epoch is None else max_epoch
        snap = self._snapshot("postings", e)
        if snap is not None:
            return probe_postings_snapshot(spark, snap, terms, k=k)
        return probe_postings_index(
            spark, self.postings_dir, terms, k=k, max_epoch=e
        )

    def probe_vector(
        self,
        spark: SparkSession,
        query_vec: list[float],
        k: int = 10,
        n_probe: int = 1,
        index: str = "sq8",
        max_epoch: int | None = None,
    ) -> DataFrame:
        e = self.visible_epoch() if max_epoch is None else max_epoch
        if index == "pq":
            return probe_ivf_pq_index(
                spark,
                self.pq_dir,
                query_vec,
                _read_centroids(spark, self.pq_dir),
                k=k,
                n_probe=n_probe,
                max_epoch=e,
            )
        snap = self._snapshot("sq8", e)
        if snap is not None:
            return probe_sq8_snapshot(spark, snap, query_vec, k=k, n_probe=n_probe)
        return probe_ivf_sq8_index(
            spark,
            self.sq8_dir,
            query_vec,
            _read_centroids(spark, self.sq8_dir),
            k=k,
            n_probe=n_probe,
            max_epoch=e,
        )

    def probe_vector_mmr(
        self,
        spark: SparkSession,
        query_vec: list[float],
        emb_store: DataFrame,
        k: int = 4,
        pool: int = 16,
        n_probe: int = 2,
        index: str = "sq8",
    ) -> DataFrame:
        """MMR-diversified vector serving (VERDICT r10 task 4): the raw
        probe's top-`pool` candidates re-ranked by the SAME greedy +
        fixed-point pairwise cosines as the batch
        similarity_mmr_rerank — operators/similarity.mmr_select_pool is
        the single shared implementation, so a RAG caller stops getting
        near-duplicate contexts at serving time without a second code
        path to trust.

        Knobs: `pool` bounds both recall and cost (the greedy is pool²
        sims per query — raise it for diversity headroom, it never
        touches the corpus); `n_probe` is the underlying IVF recall
        knob (more cells scanned before the pool cut). `emb_store` is
        the document-side embedding table (vec_id, embedding) — the
        quantized index stores codes, and MMR's pairwise sims use the
        exact vectors (reconstructing from SQ8 codes would put
        quantization error inside the diversity term); at 100 TB this
        is the same store the reranker/reader stage already fetches
        from, and the join is pool-sized.

        Scoring split, stated plainly: the INDEX provides recall (its
        quantized score_q elects the pool, snapshot-capped like every
        other leg), the STORE provides the scores MMR subtracts — rel
        is the exact fixed-point cosine, the same quantity as the
        batch operator's rel and the same SCALE as the pairwise sims
        (the quantized score is an FX-scaled integer; subtracting a
        [−1, 1] sim from it would make the diversity term noise). This
        is the standard ANN-recall + exact-re-rank serving shape.
        Returns (qid=0, cid, mmr_rank, rel, mmr_score), the batch
        operator's schema."""
        from kstreams_spark.operators.similarity import (
            _cosine,
            _fx_dot,
            _fx_norm2,
            mmr_select_pool,
        )

        # the pool is ≤`pool` ids (bounded driver state) — collect them
        # and push an IN filter into the store scan instead of joining
        # against the full store: the fetch becomes a row-group-skipping
        # point lookup, which is what a real deployment's keyed
        # embedding store does
        cand_ids = [
            r.vec_id
            for r in self.probe_vector(
                spark, query_vec, k=pool, n_probe=n_probe, index=index
            ).collect()
        ]
        q_emb = F.array(*[F.lit(float(x)) for x in query_vec])
        p = (
            emb_store.select("vec_id", "embedding")
            .filter(F.col("vec_id").isin(cand_ids))
            .select(
                F.lit(0).cast("long").alias("qid"),
                F.col("vec_id").alias("cid"),
                _cosine(
                    _fx_dot(F.col("embedding"), q_emb),
                    _fx_norm2(q_emb),
                    _fx_norm2("embedding"),
                ).alias("rel"),
                F.col("embedding").alias("c_emb"),
                _fx_norm2("embedding").alias("nc2"),
            )
        )
        return mmr_select_pool(spark, p, k)

    def probe_hybrid(
        self,
        spark: SparkSession,
        terms: tuple[str, ...],
        query_vec: list[float],
        k: int = 10,
        pool: int = 20,
        n_probe: int = 2,
        index: str = "sq8",
    ) -> DataFrame:
        """RRF-fused hybrid query over the maintained indexes — the
        serving twin of operators/retrieval.search_hybrid_rrf, same
        integer fusion (RRF_SCALE DIV (RRF_K + rank), absent leg adds
        0). The snapshot epoch is read ONCE and caps BOTH legs — the
        atomicity contract this class exists for. Each leg is a
        pool-sized top list, so the rank windows are bounded by `pool`
        (the documented driver-bounded single-partition exception
        class). Returns (doc_id, r_lex, r_vec, rrf_fx) ordered by
        (rrf_fx desc, doc_id), top-k."""
        from pyspark.sql import Window

        e = self.visible_epoch()
        lex = self.probe_lexical(spark, terms, k=pool, max_epoch=e).select(
            "doc_id",
            F.row_number()
            .over(Window.orderBy(F.col("score").desc(), "doc_id"))
            .alias("rl"),
        )
        vec = self.probe_vector(
            spark, query_vec, k=pool, n_probe=n_probe, index=index, max_epoch=e
        ).select(
            F.col("vec_id").alias("doc_id"),
            F.row_number()
            .over(Window.orderBy(F.col("score_q").desc(), "vec_id"))
            .alias("rv"),
        )
        leg = lambda r: F.when(  # noqa: E731
            F.col(r).isNull(), F.lit(0).cast("long")
        ).otherwise(F.expr(f"CAST({RRF_SCALE} DIV ({RRF_K} + {r}) AS BIGINT)"))
        fused = lex.join(vec, "doc_id", "full").select(
            "doc_id",
            F.coalesce(F.col("rl"), F.lit(0)).cast("long").alias("r_lex"),
            F.coalesce(F.col("rv"), F.lit(0)).cast("long").alias("r_vec"),
            (leg("rl") + leg("rv")).alias("rrf_fx"),
        )
        return fused.orderBy(F.col("rrf_fx").desc(), "doc_id").limit(k)

    def probe_hybrid_mmr(
        self,
        spark: SparkSession,
        terms: tuple[str, ...],
        query_vec: list[float],
        emb_store: DataFrame,
        k: int = 4,
        pool: int = 16,
        n_probe: int = 2,
        index: str = "sq8",
    ) -> DataFrame:
        """MMR over the FUSED pool: probe_hybrid elects the top-`pool`
        docs by RRF (one snapshot epoch across both legs — lexical-only
        hits enter the pool too, which is what fusion buys over
        probe_vector_mmr's vector-only recall), then the shared
        mmr_select_pool greedy diversifies them with the exact
        fixed-point cosine as relevance — the probe_vector_mmr scoring
        split, restated: FUSION decides who is in the pool, the exact
        STORE scores decide the greedy. Feeding the raw RRF value as
        rel instead is a scale bug, found the hard way: rrf_fx /
        RRF_SCALE tops out near 1/(RRF_K+1) ≈ 0.03 while the sim term
        spans [−1, 1], so the greedy degenerates into max-ANTI-
        similarity and relevance stops mattering (the regression test
        pins that the relevant clone survives). Docs absent from the
        embedding store drop from the re-rank — stated, not hidden:
        MMR needs a vector to diversify against. Same knobs as
        probe_vector_mmr."""
        from kstreams_spark.operators.similarity import (
            _cosine,
            _fx_dot,
            _fx_norm2,
            mmr_select_pool,
        )

        # same point-lookup fetch as probe_vector_mmr: the fused pool is
        # ≤`pool` ids, so an IN filter reaches the store scan
        fused_ids = [
            r.doc_id
            for r in self.probe_hybrid(
                spark, terms, query_vec, k=pool, pool=pool,
                n_probe=n_probe, index=index,
            ).collect()
        ]
        q_emb = F.array(*[F.lit(float(x)) for x in query_vec])
        p = emb_store.select(
            F.col("vec_id").alias("doc_id"), "embedding"
        ).filter(F.col("doc_id").isin(fused_ids)).select(
            F.lit(0).cast("long").alias("qid"),
            F.col("doc_id").alias("cid"),
            _cosine(
                _fx_dot(F.col("embedding"), q_emb),
                _fx_norm2(q_emb),
                _fx_norm2("embedding"),
            ).alias("rel"),
            F.col("embedding").alias("c_emb"),
            _fx_norm2("embedding").alias("nc2"),
        )
        return mmr_select_pool(spark, p, k)

    # -- maintenance --------------------------------------------------

    def _max_applied_epoch(self, spark: SparkSession) -> int:
        """Highest epoch any index has PHYSICALLY applied (manifest
        sidecars) — exceeds visible_epoch() exactly when a crash left an
        uncommitted partial apply behind."""
        es = [
            spark.read.parquet(self.postings_dir + "_docs")
            .agg(F.max("epoch"))
            .first()[0],
            spark.read.parquet(self.sq8_dir + "/_vecs")
            .agg(F.max("epoch"))
            .first()[0],
        ]
        if os.path.isdir(self.postings_dir + "_dels"):
            # a delete-only epoch leaves no trace in _docs; its erasure
            # markers land here (IVF deletes write _vecs rows, covered)
            es.append(
                spark.read.parquet(self.postings_dir + "_dels")
                .agg(F.max("epoch"))
                .first()[0]
            )
        if os.path.isdir(self.pq_dir):
            es.append(
                spark.read.parquet(self.pq_dir + "/_vecs")
                .agg(F.max("epoch"))
                .first()[0]
            )
        return max(e for e in es if e is not None)

    def compact(self, spark: SparkSession) -> dict[str, int]:
        """Fold every index's committed deltas (stream STOPPED, single
        actor — the per-index contract). The per-index compactors fold
        EVERYTHING on disk, so compacting while a crashed epoch's
        uncommitted rows are still present would publish them — this
        refuses loudly instead: restart the stream first (the replay
        re-applies and commits the epoch), then compact."""
        self._heal_crashed_erase(spark)
        self._heal_crashed_derive(spark)
        applied, visible = self._max_applied_epoch(spark), self.visible_epoch()
        if applied > visible:
            raise ValueError(
                f"uncommitted epoch {applied} on disk (visible {visible}): "
                "replay the stream to commit it before compacting"
            )
        # r16 (guide §2.6): the per-index compactors are independent
        # fold→staged-write→swap chains over independent directories —
        # run them from a small pool (the r15 lake-compact pattern).
        # Each dir's displace-swap atomicity is per-compactor and
        # unchanged; a crash mid-pool leaves every dir either folded or
        # recoverable exactly as a serial mid-crash would.
        from concurrent.futures import ThreadPoolExecutor

        jobs = {
            "postings": lambda: compact_postings_index(
                spark, self.postings_dir
            ),
            "sq8": lambda: compact_ivf_sq8_index(spark, self.sq8_dir),
        }
        if os.path.isdir(self.pq_dir):
            jobs["pq"] = lambda: compact_ivf_pq_index(spark, self.pq_dir)
        with ThreadPoolExecutor(max_workers=len(jobs)) as pool:
            futs = {k: pool.submit(j) for k, j in jobs.items()}
            out = {k: f.result() for k, f in futs.items()}
        with self._snap_lock:  # reload the folded files on the next probe
            self._snaps.clear()
        # committed erase-intent logs are stale once their offset bump
        # landed (the applied>visible guard above proved none is live)
        import glob as _glob

        for log in _glob.glob(self.root + "/_erase_log-*"):
            os.remove(log)
        return out
