"""``curation_serving``: a curation batch job, then lake-derived hybrid
serving under writes, on one seeded corpus.

1. Set-up: the documents⋈embeddings corpus is published as a lake
   snapshot (``lake_snapshot.snapshot_publish``) and the postings and
   IVF-SQ8 indexes are derived from it
   (``HybridIngestMaintainer.bootstrap_from_lake``).
2. Probes (lexical and SQ8 in turn) go out open-loop at a fixed rate with
   at most two in flight, each timed from when it was due: first alone
   (read-only phase), then while one writer merges a small seeded update
   into the lake (``snapshot_merge``), derives it into the indexes
   (``apply_snapshot_changes``) and probes until the round's marker token
   is visible (mixed phase).
3. Curation: three closed-loop clients, each on its own child session,
   run a fixed set of registered queries (``registry.QUERIES``) and
   collect each result. The time to finish the set is the makespan. After
   the session stops, every result is compared with its
   ``registry.ORACLES`` DuckDB SQL on the same parquet."""

from __future__ import annotations

import glob
import os
import queue
import sys
import threading
import time
from concurrent.futures import ThreadPoolExecutor

import numpy as np

from perfbench import common, datagen

QUERIES = common.CURATION_QUERIES
CLIENTS = 3
N_DOCS = 500
N_LINEITEM = 60_000
# probes per second: two slots stay about half busy even beside the writer,
# so the queue in front of them does not amplify run-to-run noise
PROBE_RATE = 0.6
MAX_IN_FLIGHT = 2
PROBE_KINDS = common.PROBE_KINDS
UPDATE_DOCS = 20
ORACLE_THREADS = 2


# ------------------------------------------------------------ curation


def curation_pass(spark, tables: str, tracer: common.Tracer) -> tuple[float, dict, dict]:
    """Run QUERIES from CLIENTS closed-loop clients; returns the makespan,
    each query's latency in ms, and each query's collected result."""
    from kstreams_spark import registry

    todo: queue.Queue = queue.Queue()
    for q in QUERIES:
        todo.put(q)
    latency_ms: dict[str, float] = {}
    results: dict[str, object] = {}

    def client() -> None:
        session = spark.newSession()
        while True:
            try:
                q = todo.get_nowait()
            except queue.Empty:
                return
            t0 = time.perf_counter()
            with tracer.span(f"operators.{q}"), common.job_label(session, q):
                results[q] = registry.QUERIES[q](session, tables).toPandas()
            latency_ms[q] = (time.perf_counter() - t0) * 1e3

    t0 = time.perf_counter()
    with ThreadPoolExecutor(max_workers=CLIENTS) as pool:
        for f in [pool.submit(client) for _ in range(CLIENTS)]:
            f.result()
    return time.perf_counter() - t0, latency_ms, results


def oracle_results(tables: str) -> dict:
    """Each query's ``registry.ORACLES`` DuckDB result on the same parquet.
    Runs on two DuckDB threads, beside the Spark set-up."""
    import duckdb

    from kstreams_spark import registry

    con = duckdb.connect()
    try:
        con.execute(f"SET threads={ORACLE_THREADS}")
        for t in datagen.TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{tables}/{t}.parquet'")
        return {q: con.execute(registry.ORACLES[q]).fetchdf() for q in QUERIES}
    finally:
        con.close()


def oracle_mismatches(results: dict, expected: dict) -> dict[str, str]:
    """Compare results with oracle results in the canonical row form of
    tests/oracle_harness.py. Returns query → reason, for mismatches only."""
    sys.path.insert(0, os.path.join(common.ROOT, "tests"))
    from oracle_harness import canon_rows

    bad: dict[str, str] = {}
    for q in QUERIES:
        got, want = results[q], expected[q]
        if sorted(got.columns) != sorted(want.columns):
            bad[q] = f"columns {sorted(got.columns)} != {sorted(want.columns)}"
        elif len(got) != len(want):
            bad[q] = f"rows {len(got)} != {len(want)}"
        elif canon_rows(got) != canon_rows(want):
            bad[q] = "values differ"
    return bad


# ------------------------------------------------------------- serving


def build_serving(spark, tables: str, base: str):
    """Corpus → lake snapshot → derived index group."""
    from pyspark.sql import functions as F

    from kstreams_spark.lake_snapshot import snapshot_publish
    from kstreams_spark.operators.quantize import sq8_params
    from kstreams_spark.streaming.hybrid import HybridIngestMaintainer

    docs = spark.read.parquet(os.path.join(tables, "documents.parquet"))
    emb = spark.read.parquet(os.path.join(tables, "embeddings.parquet"))
    corpus = (
        docs.select("doc_id", "text", "lang")
        .join(emb.select(F.col("vec_id").alias("doc_id"), "embedding"), "doc_id")
        .withColumn("split", F.when(F.col("doc_id") % 2 == 0, "train").otherwise("val"))
        .select("doc_id", "text", "embedding", "split", "lang")
    )
    lake = os.path.join(base, "lake")
    snapshot_publish(corpus, lake)
    vecs = corpus.select(F.col("doc_id").alias("vec_id"), "embedding")
    cents = [
        [float(x) for x in r.embedding]
        for r in vecs.filter(F.col("vec_id") < 8).orderBy("vec_id").collect()
    ]
    m = HybridIngestMaintainer(os.path.join(base, "idx"))
    m.bootstrap_from_lake(spark, lake, cents, params=sq8_params(vecs))
    queries = [
        [float(x) for x in r.embedding]
        for r in vecs.filter(F.col("vec_id") % 97 == 1).orderBy("vec_id").collect()
    ]
    return m, lake, corpus, queries


class Prober:
    """Probe number ``i`` of a seeded lexical / SQ8 mix."""

    def __init__(self, spark, m, vectors, seed: int, tracer: common.Tracer) -> None:
        self.spark, self.m, self.vectors, self.tracer = spark, m, vectors, tracer
        rng = np.random.default_rng(seed)
        self.terms = [tuple(rng.choice(datagen.VOCAB, 2, replace=False)) for _ in range(64)]

    @staticmethod
    def kind(i: int) -> str:
        return PROBE_KINDS[i % len(PROBE_KINDS)]

    def __call__(self, i: int, phase: str) -> int:
        kind = self.kind(i)
        with self.tracer.span(f"serving.probe_{kind}", phase=phase), common.job_label(
            self.spark, f"probe_{kind}"
        ):
            if kind == "lex":
                rows = self.m.probe_lexical(self.spark, self.terms[i % len(self.terms)], k=10)
            else:
                vec = self.vectors[i % len(self.vectors)]
                rows = self.m.probe_vector(self.spark, vec, k=10, n_probe=2, index=kind)
            return len(rows.collect())


def open_loop(prober: Prober, first: int, phase: str, rate: float, until) -> list[dict]:
    """Send probes every 1/rate s until ``until()`` is true, at most
    MAX_IN_FLIGHT at once. A probe waiting for a free slot is late; its
    latency counts from when it was due."""
    results: list[dict] = []
    lock = threading.Lock()

    def one(i: int, due: float, sent: float) -> None:
        err, rows = None, 0
        try:
            rows = prober(i, phase)
        except Exception as exc:  # noqa: BLE001 - a failed probe is counted, not fatal
            err = repr(exc)
        done = time.time()
        with lock:
            results.append(
                {
                    "kind": prober.kind(i),
                    "due": due,
                    "sent": sent,
                    "latency_ms": (done - due) * 1e3,
                    "rows": rows,
                    "error": err,
                }
            )

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=MAX_IN_FLIGHT) as pool:
        futures, i = [], 0
        while not until():
            due = t0 + i / rate
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            futures.append(pool.submit(one, first + i, due, time.time()))
            i += 1
        for f in futures:
            f.result()
    return results


def writer_round(spark, m, lake, corpus, marker: str, ids: list[int], tracer) -> dict:
    """One write: merge the update into the lake, derive it into the
    indexes, then probe for the marker token."""
    from pyspark.sql import functions as F

    from kstreams_spark.lake_snapshot import snapshot_merge

    update = corpus.filter(F.col("doc_id").isin(ids)).withColumn(
        "text", F.concat(F.col("text"), F.lit(f" {marker}"))
    )
    files_before = set(glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True))
    t0 = time.time()
    with tracer.span("lake.merge"), common.job_label(spark, "lake.merge"):
        snapshot_merge(spark, lake, update)
    t1 = time.time()
    with tracer.span("hybrid.apply"), common.job_label(spark, "hybrid.apply"):
        m.apply_snapshot_changes(spark, lake)
    t2 = time.time()
    with common.job_label(spark, "probe_marker"):
        hits = {r.doc_id for r in m.probe_lexical(spark, (marker,), k=4 * len(ids)).collect()}
    t3 = time.time()
    added = set(glob.glob(os.path.join(lake, "**", "*.parquet"), recursive=True)) - files_before
    return {
        "marker": marker,
        "merge_ms": (t1 - t0) * 1e3,
        "apply_ms": (t2 - t1) * 1e3,
        "freshness_ms": (t3 - t0) * 1e3,
        "visible": hits == set(ids),
        "files_added": len(added),
        "bytes_added": sum(os.path.getsize(f) for f in added),
    }


def _index_files(m) -> int:
    return sum(len(files) for _, _, files in os.walk(m.root))


# ---------------------------------------------------------------- run


def run(args, tracer: common.Tracer, work: str) -> tuple[dict, dict, int, int]:
    from kstreams_spark import lake_snapshot, registry

    registry.load_all()
    cores = os.cpu_count() or 1
    spark, session_s = common.start_session(work, cores, tracer.enabled, "perfbench_curation")
    restore_diff = None
    try:
        t = time.perf_counter()
        tables = os.path.join(work, "tables")
        datagen.write_tables(tables, args.seed, N_DOCS, N_DOCS, N_LINEITEM)
        tables_s = time.perf_counter() - t
        # the oracle side needs only the tables: compute it during set-up
        oracle_pool = ThreadPoolExecutor(max_workers=1)
        expected_f = oracle_pool.submit(oracle_results, tables)

        t = time.perf_counter()
        m, lake, corpus, vectors = build_serving(spark, tables, os.path.join(work, "serve"))
        prober = Prober(spark, m, vectors, args.seed, tracer)
        for i in range(len(PROBE_KINDS)):  # untimed: first probe of each kind
            prober(i, "warm")
        expected = expected_f.result()  # done before anything is timed
        oracle_pool.shutdown()
        build_s = time.perf_counter() - t

        if tracer.enabled:
            restore_diff = lake_snapshot.snapshot_diff
            lake_snapshot.snapshot_diff = tracer.wrap("lake.diff", restore_diff)
        t_ro = time.time()
        read_only = open_loop(
            prober, 100, "read_only", PROBE_RATE, lambda: time.time() - t_ro >= args.seconds
        )

        rng = np.random.default_rng(args.seed + 7)
        rounds: list[dict] = []
        writer_done = threading.Event()
        files0 = _index_files(m)

        def writer() -> None:
            t_w = time.time()
            try:
                while not rounds or time.time() - t_w < args.seconds:
                    ids = sorted(int(i) for i in rng.choice(N_DOCS, UPDATE_DOCS, replace=False))
                    marker = f"zzmark{args.seed}x{len(rounds)}"
                    try:
                        rounds.append(writer_round(spark, m, lake, corpus, marker, ids, tracer))
                    except Exception as exc:  # noqa: BLE001 - a failed round is counted
                        rounds.append({"marker": marker, "error": repr(exc), "visible": False})
            finally:
                writer_done.set()

        w = threading.Thread(target=writer)
        w.start()
        mixed = open_loop(prober, 1000, "mixed", PROBE_RATE, writer_done.is_set)
        w.join()
        files1 = _index_files(m)

        makespan_s, query_ms, results = curation_pass(spark, tables, tracer)
    finally:
        if restore_diff is not None:
            lake_snapshot.snapshot_diff = restore_diff
        spark.stop()
    mismatches = oracle_mismatches(results, expected)

    probes = read_only + mixed
    failed = (
        len(mismatches)
        + sum(1 for p in probes if p["error"] or p["rows"] == 0)
        + sum(1 for r in rounds if r.get("error") or not r["visible"])
    )
    attempted = len(QUERIES) + len(probes) + len(rounds)
    ok_rounds = [r for r in rounds if not r.get("error")]
    setup_s = session_s + tables_s + build_s
    lat = lambda ps: [p["latency_ms"] for p in ps]  # noqa: E731
    details = {
        "workload": "curation_serving",
        "cores": cores,
        "session_s": session_s,
        "tables_s": tables_s,
        "build_s": build_s,
        "makespan_s": makespan_s,
        "query_ms": query_ms,
        "oracle_mismatches": mismatches,
        "probes": {"read_only": len(read_only), "mixed": len(mixed)},
        "probe_tail": {
            ph: {
                "n": len(ps),
                "p": common.tail_percentile(len(ps), 90.0),
                "ms": common.percentile(lat(ps), common.tail_percentile(len(ps), 90.0)),
            }
            for ph, ps in (("read_only", read_only), ("mixed", mixed))
        },
        "rounds": rounds,
    }
    mt = common.metric
    if not tracer.enabled:
        metrics = {
            "setup_s": mt(setup_s, "s"),
            "latency_p50_ms": mt(kind_median_ms(read_only), "ms"),
            "loaded_p50_ms": mt(kind_median_ms(mixed), "ms"),
            "throughput_per_s": mt(N_DOCS / makespan_s, "1/s"),
        }
    else:
        metrics = _layer_metrics(
            work, tracer, session_s, query_ms, read_only, mixed, ok_rounds, files1 - files0, update_bytes(tables)
        )
    return metrics, details, attempted, failed


def kind_median_ms(probes: list[dict]) -> float:
    """Median probe latency of each probe kind, averaged over the kinds:
    with few probes a pooled median would sit on the boundary between the
    lexical and the slower SQ8 latencies."""
    by_kind = [[p["latency_ms"] for p in probes if p["kind"] == k] for k in PROBE_KINDS]
    return float(np.mean([common.percentile(ms, 50) for ms in by_kind if ms]))


def update_bytes(tables: str) -> float:
    """User bytes per writer round: the updated documents' text plus their
    64 float embeddings."""
    import pyarrow.parquet as pq

    n_chars = pq.read_table(os.path.join(tables, "documents.parquet"), columns=["n_chars"])
    mean_chars = float(np.mean(n_chars.column(0).to_numpy()))
    return UPDATE_DOCS * (mean_chars + datagen.DIM * 4)


def _layer_metrics(work, tracer, session_s, query_ms, read_only, mixed, rounds, index_growth, user_bytes):
    jobs = common.by_span(common.read_event_log(work))
    mt = common.metric
    out = {"session.start_s": mt(session_s, "s")}
    for q in QUERIES:
        out[f"operators.{q}_s"] = mt(query_ms[q] / 1e3, "s")
    for k in ("jobs", "stages", "tasks", "shuffle_bytes", "gc_ms"):
        unit = {"shuffle_bytes": "bytes", "gc_ms": "ms"}.get(k, "count")
        out[f"operators.{k}"] = mt(sum(jobs.get(q, {}).get(k, 0) for q in QUERIES), unit)
    n_probes = 0
    probe_jobs = 0
    for kind in PROBE_KINDS:
        for phase in ("read_only", "mixed"):
            d = [
                (s["end"] - s["start"]) * 1e3
                for s in tracer.spans
                if s["name"] == f"serving.probe_{kind}" and s.get("phase") == phase
            ]
            out[f"serving.probe_{kind}_ms.{phase}"] = mt(np.median(d) if d else 0.0, "ms")
            n_probes += len(d)
        probe_jobs += jobs.get(f"probe_{kind}", {}).get("jobs", 0)
    # the warm-up probes (one per kind) ran jobs under the same labels
    out["serving.jobs_per_probe"] = mt(probe_jobs / (n_probes + len(PROBE_KINDS)), "count")
    n = max(len(rounds), 1)
    out["lake.merge_ms"] = mt(np.median([r["merge_ms"] for r in rounds]) if rounds else 0.0, "ms")
    out["lake.diff_ms"] = mt(np.median(tracer.durations_ms("lake.diff") or [0.0]), "ms")
    out["lake.files_per_commit"] = mt(np.mean([r["files_added"] for r in rounds]) if rounds else 0.0, "count")
    out["lake.bytes_written_per_user_byte"] = mt(
        np.mean([r["bytes_added"] for r in rounds]) / user_bytes if rounds else 0.0, "ratio"
    )
    out["hybrid.apply_ms"] = mt(np.median([r["apply_ms"] for r in rounds]) if rounds else 0.0, "ms")
    out["hybrid.jobs_per_apply"] = mt(jobs.get("hybrid.apply", {}).get("jobs", 0) / n, "count")
    out["hybrid.index_files"] = mt(index_growth, "count")
    out["hybrid.freshness_ms"] = mt(np.median([r["freshness_ms"] for r in rounds]) if rounds else 0.0, "ms")
    probes = read_only + mixed
    late = common.late_stats([p["due"] for p in probes], [p["sent"] for p in probes])
    out["gen.late_ms.p99"] = mt(late["p99_ms"], "ms")
    out["traced.latency_p50_ms"] = mt(kind_median_ms(read_only), "ms")
    out["traced.loaded_p50_ms"] = mt(kind_median_ms(mixed), "ms")
    return out
