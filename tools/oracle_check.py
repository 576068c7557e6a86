#!/usr/bin/env python
"""Oracle-cost + agreement guard for the DuckDB oracle suite.

The r10 driver-correctness file came back EMPTY because one oracle
(dedup_rank_propagate, pre-materialization) re-inlined its shared CTEs
into six rank rounds and ran >20 min on 500 docs — one pathological
oracle can eat the driver's whole correctness budget and zero the
round. This tool runs every builder-authored oracle under a per-query
timeout so that failure mode breaks `sbt test` locally instead.

The timeout is a HARD kill, not duckdb's interrupt(): the CTE-inlining
blowup happens at PLAN time, where DuckDB never checks the interrupt
flag — an interrupt-based guard (the first draft of this tool) sat at
100% CPU forever on exactly the query it existed to catch. Each oracle
therefore runs in a forked child process (fork = no re-import cost)
that the parent terminates when the budget elapses.

Usage:
  oracle_check.py SFDIR ORACLE_JSON [--timeout SECS] [--only a,b,c]
                  [--compare VERIFY_OUT_DIR]

ORACLE_JSON: {"query_name": "duckdb sql", ...} (Verify's oracle_sql.json
shape). With --compare, each query's DuckDB result is also compared
exactly (sorted columns, sorted rows — the driver's convention) against
the Spark parquet dump at VERIFY_OUT_DIR/<name>/*.parquet.

Exit 0 iff every selected oracle completes in time (and matches, when
comparing).
"""
import argparse
import json
import multiprocessing as mp
import sys
import time

import duckdb
# imported here, not by the first fetchdf(): every oracle runs in a
# forked child, and a child that imports pandas itself pays ~0.6 s per
# query, most of the tool's run time over 167 oracles
import pandas  # noqa: F401

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def norm(rel):
    df = rel.fetchdf()
    df = df.reindex(sorted(df.columns), axis=1)
    df = df.sort_values(by=list(df.columns)).reset_index(drop=True)
    return df


def run_one(sf_dir, name, sql, compare, q):
    """Child-process body: run one oracle (and optionally the compare),
    report a one-line verdict through the queue."""
    try:
        con = duckdb.connect()
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{sf_dir}/{t}.parquet')")
        want = norm(con.sql(sql))
        if compare:
            got = norm(con.sql(
                f"SELECT * FROM read_parquet('{compare}/{name}/*.parquet')"))
            if list(got.columns) != list(want.columns):
                q.put(("FAIL", f"columns {list(got.columns)} vs {list(want.columns)}"))
                return
            if len(got) != len(want) or not got.equals(want):
                q.put(("FAIL", f"rows/values differ "
                               f"({len(got)} spark vs {len(want)} oracle rows)"))
                return
            q.put(("ok", f"matches spark, {len(want)} rows"))
        else:
            q.put(("ok", f"{len(want)} rows"))
    except Exception as e:  # noqa: BLE001 - verdict carries the reason
        q.put(("FAIL", f"error {str(e)[:300]}"))


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("sf_dir")
    ap.add_argument("oracle_json")
    ap.add_argument("--timeout", type=float, default=30.0)
    ap.add_argument("--only", default=None)
    ap.add_argument("--compare", default=None)
    args = ap.parse_args()

    oracles = json.load(open(args.oracle_json))
    if args.only:
        keep = set(args.only.split(","))
        missing = keep - set(oracles)
        if missing:
            print(f"FAIL --only names not in oracle json: {sorted(missing)}")
            return 1
        oracles = {k: v for k, v in oracles.items() if k in keep}

    ctx = mp.get_context("fork")
    n_bad = 0
    for name, sql in sorted(oracles.items()):
        q = ctx.Queue()
        p = ctx.Process(target=run_one,
                        args=(args.sf_dir, name, sql, args.compare, q))
        t0 = time.monotonic()
        p.start()
        p.join(args.timeout)
        dt = time.monotonic() - t0
        if p.is_alive():
            p.terminate()
            p.join(5)
            if p.is_alive():
                p.kill()
                p.join()
            print(f"TIMEOUT {name}: exceeded {args.timeout:.0f}s budget "
                  f"(a driver correctness run would stall here)")
            n_bad += 1
            continue
        try:
            # bounded get, not get_nowait: mp.Queue delivery rides a
            # feeder thread + pipe, so the item can lag p.join() by a
            # beat — polling would turn that race into a spurious FAIL
            verdict, detail = q.get(timeout=5)
        except Exception:  # noqa: BLE001 - child died without a verdict
            verdict, detail = "FAIL", f"child exited rc={p.exitcode} without verdict"
        if verdict == "ok":
            print(f"ok {name} {dt:.2f}s ({detail})")
        else:
            print(f"FAIL {name}: {detail}")
            n_bad += 1
    print(f"== {len(oracles) - n_bad} ok, {n_bad} bad")
    return 1 if n_bad else 0


if __name__ == "__main__":
    sys.exit(main())
