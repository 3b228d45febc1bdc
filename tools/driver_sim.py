"""Driver simulator — drives the repo exactly the way the grading driver
does: import __spark_entry__, build a VANILLA SparkSession (no engine
configs — ANSI on, default TZ, default shuffle partitions), run entry() +
every queries() entry at the given sf, and hash-compare against the DuckDB
oracle_sql() on the same parquet.

Usage: python tools/driver_sim.py [sf_dir]
       python tools/driver_sim.py --drift [sf_dir]

--drift runs every query the grading driver has NEVER sampled (those
absent from all CORRECTNESS_r*.json) twice in one vanilla session —
first under driver-like confs, then with a different shuffle-partition
count and a non-UTC starting timezone — and asserts canonical-row
equality. Partition-count and timezone sensitivity are the two
nondeterminism classes that could ambush a future driver sample of the
so-far-unsampled surface.
"""

from __future__ import annotations

import os
import sys
import time

import duckdb
from pyspark.sql import SparkSession

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)
sys.path.insert(0, os.path.join(REPO, "tests"))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    import __spark_entry__ as e

    spark = SparkSession.builder.master("local[8]").appName("driver_sim").getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")

    con = duckdb.connect()
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")

    from oracle_harness import assert_parity  # tests/oracle_harness.py

    def driver_canon(pdf):
        # Replica of the grading driver's rows-only canonicalizer: a pandas
        # sort over every column. Crashes (TypeError: unhashable type) on
        # list/struct/map cells — exactly like the real driver, so queries
        # returning non-scalar columns fail HERE, not in CORRECTNESS_r{N}.
        cols = sorted(pdf.columns)
        return pdf[cols].sort_values(by=cols).reset_index(drop=True)

    # smoke
    df = e.entry(spark)
    n = df.count()
    print(f"entry(): {n} rows, schema={df.schema.simpleString()}")
    assert n > 0

    qs, oracles = e.queries(), e.oracle_sql()
    print(f"{len(qs)} queries, {len(oracles)} with oracle")

    # r16: queries run from a small worker pool (guide §2.6 — actions are
    # only sequential because the driver calls them sequentially; Spark's
    # scheduler overlaps independent jobs, backfilling each query's
    # straggler tail). Each worker owns a PRIVATE child session
    # (newSession: isolated SQLConf + temp views, shared context), so a
    # query that scopes a conf (the CC loop's shuffle-width scoping)
    # never races another query's planning; DuckDB runs per-worker
    # cursors. Results are per-query identical to the serial loop —
    # the pool changes wall-clock only.
    import queue as _q
    from concurrent.futures import ThreadPoolExecutor

    n_workers = min(8, len(qs)) or 1
    sessions: _q.Queue = _q.Queue()
    pooled = [spark.newSession() for _ in range(n_workers)]
    # the real driver runs entry() first on its one session: the confs it
    # leaves (load_table's UTC pin) are the baseline every query must keep
    for sess in pooled:
        e.entry(sess)
    confs0 = [_watched_confs(sess) for sess in pooled]
    for sess in pooled:
        sessions.put((sess, con.cursor()))

    def run_one(item):
        name, fn = item
        sess, cur = sessions.get()
        t0 = time.time()
        try:
            sdf = fn(sess, sf_dir).toPandas()
            if name in oracles:
                odf = cur.execute(oracles[name]).fetchdf()
                assert_parity(sdf, odf, name)
                status = f"OK    oracle-match rows={len(sdf)}"
            else:
                driver_canon(sdf)  # must not raise — driver sorts these too
                status = f"OK    rows-only   rows={len(sdf)}"
        except Exception as ex:  # noqa: BLE001
            status = f"FAIL  {type(ex).__name__}: {str(ex)[:300]}"
        finally:
            sessions.put((sess, cur))
        return name, time.time() - t0, status

    failed = []
    with ThreadPoolExecutor(max_workers=n_workers) as pool:
        for name, dt, status in pool.map(run_one, sorted(qs.items())):
            if status.startswith("FAIL"):
                failed.append(name)
            print(f"  {name:32s} {dt:6.2f}s {status}")
    # the real driver runs every query on ONE session, where a leaked
    # conf poisons the queries after it; the pool isolates sessions, so
    # check that no query left its worker's confs changed
    for i, (sess, before) in enumerate(zip(pooled, confs0)):
        after = _watched_confs(sess)
        if after != before:
            failed.append(f"conf-leak(worker {i})")
            print(f"  FAIL  conf leak on worker {i}: {before} -> {after}")
    print(f"\n{'ALL OK' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


WATCHED_CONFS = (
    "spark.sql.shuffle.partitions",
    "spark.sql.session.timeZone",
    "spark.sql.ansi.enabled",
)


def _watched_confs(sess) -> dict:
    return {k: sess.conf.get(k) for k in WATCHED_CONFS}


def drift_check(sf_dir: str) -> int:
    """Run never-driver-sampled queries under two conf regimes and require
    identical canonical rows (see module docstring)."""
    import glob
    import json

    import __spark_entry__ as e
    from oracle_harness import canon_rows  # tests/oracle_harness.py

    sampled: set[str] = set()
    for p in glob.glob(os.path.join(REPO, "CORRECTNESS_r*.json")):
        with open(p) as f:
            sampled |= set(json.load(f))
    qs = e.queries()
    targets = sorted(set(qs) - sampled)
    print(
        f"drift check: {len(targets)} never-sampled queries "
        f"(of {len(qs)}; {len(sampled & set(qs))} sampled in CORRECTNESS_r*)"
    )

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("driver_sim_drift")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    # regime A ≈ the grading driver; regime B perturbs the two hazards.
    # (io.load_table re-pins session TZ to UTC — regime B proves that
    # protection holds from a non-UTC start.)
    REGIMES = (
        {"spark.sql.shuffle.partitions": "200",
         "spark.sql.session.timeZone": "UTC"},
        {"spark.sql.shuffle.partitions": "7",
         "spark.sql.session.timeZone": "America/New_York"},
    )

    # r16 (suite wall-time, VERDICT r15 task 1): queries run from a
    # worker pool; each worker owns a PRIVATE (regime-A session,
    # regime-B session) pair built with newSession() — isolated SQLConf
    # per session over the shared context — and RE-SETS the regime confs
    # before every query, so the per-query semantics are exactly the
    # serial loop's: every query still starts regime B from a non-UTC
    # TZ and a 7-wide shuffle conf, regardless of what load_table's
    # UTC re-pin did to that session on the previous query. The pool
    # changes wall-clock only (~4×): results, comparisons, and the
    # output lines are identical.
    import queue as _q
    from concurrent.futures import ThreadPoolExecutor

    n_workers = min(8, len(targets)) or 1
    pairs: _q.Queue = _q.Queue()
    for _ in range(n_workers):
        pairs.put((spark.newSession(), spark.newSession()))

    def run_one(name):
        sess_pair = pairs.get()
        t0 = time.time()
        status = None
        rows_by_regime = []
        try:
            for sess, confs in zip(sess_pair, REGIMES):
                for k, v in confs.items():
                    sess.conf.set(k, v)
                try:
                    rows_by_regime.append(
                        canon_rows(qs[name](sess, sf_dir).toPandas())
                    )
                except Exception as ex:  # noqa: BLE001
                    status = f"FAIL  {type(ex).__name__}: {str(ex)[:200]}"
                    break
            if status is None:
                if rows_by_regime[0] == rows_by_regime[1]:
                    status = f"OK    invariant   rows={len(rows_by_regime[0])}"
                else:
                    a, b = rows_by_regime
                    diff = next(
                        (i for i, (x, y) in enumerate(zip(a, b)) if x != y),
                        min(len(a), len(b)),
                    )
                    status = (
                        f"FAIL  drift rows={len(a)}vs{len(b)} first-diff@{diff}"
                    )
        finally:
            pairs.put(sess_pair)
        return name, time.time() - t0, status

    failed = []
    with ThreadPoolExecutor(max_workers=n_workers) as pool:
        for name, dt, status in pool.map(run_one, targets):
            if status.startswith("FAIL"):
                failed.append(name)
            print(f"  {name:32s} {dt:6.2f}s {status}")
    print(f"\n{'DRIFT OK' if not failed else 'DRIFT FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    args = [a for a in sys.argv[1:]]
    if "--drift" in args:
        args.remove("--drift")
        raise SystemExit(
            drift_check(args[0] if args else "/root/testdata/sf0.001")
        )
    raise SystemExit(main())
