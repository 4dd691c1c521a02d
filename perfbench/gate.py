"""Correctness gate for the query workloads.

Each query result the harness dumped (one parquet directory per query,
plus oracle_sql.json, the layout graft.Verify writes) is compared with
its DuckDB oracle under scripts/check.py's normalization, which is
imported, not copied. A query without an oracle must match the digest
pinned for it in lists.json.
"""
import glob
import hashlib
import json
import os
import sys
import threading
import time

import duckdb
import pandas as pd

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "scripts"))
import check  # noqa: E402  (scripts/check.py)


def connect(tables_dir):
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    for t in check.TABLES:
        p = os.path.join(tables_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def spark_sig(out_dir, name):
    files = sorted(glob.glob(os.path.join(out_dir, name, "*.parquet")))
    if not files:
        return None
    return check.frame_sig(pd.concat([pd.read_parquet(f) for f in files]))


def digest(sig):
    cols, rows = sig
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(json.dumps(r).encode())
    return h.hexdigest()[:32]


def oracle_sig(con, sql, timeout_s):
    """Run one oracle with a time limit; returns (sig, seconds)."""
    timer = threading.Timer(timeout_s, con.interrupt)
    t0 = time.monotonic()
    timer.start()
    try:
        df = con.execute(sql).fetchdf()
    finally:
        timer.cancel()
    return check.frame_sig(df), time.monotonic() - t0


def compare(con, out_dir, name, oracles, pinned, timeout_s=60):
    """(ok, message) for one dumped query."""
    sig = spark_sig(out_dir, name)
    if sig is None:
        return False, "no spark output"
    if name not in oracles:
        d = digest(sig)
        if pinned.get(name) == d:
            return True, f"digest {d[:12]}"
        return False, f"digest {d} != pinned {pinned.get(name)}"
    try:
        osig, _ = oracle_sig(con, oracles[name], timeout_s)
    except Exception as e:  # an oracle that cannot run is a failed check
        return False, f"oracle error: {str(e)[:200]}"
    if osig[0] != sig[0]:
        return False, f"columns differ spark={sig[0]} oracle={osig[0]}"
    if len(osig[1]) != len(sig[1]):
        return False, f"rowcount spark={len(sig[1])} oracle={len(osig[1])}"
    if osig[1] != sig[1]:
        bad = next(i for i, (a, b) in enumerate(zip(sig[1], osig[1])) if a != b)
        return False, f"first diff at row {bad}"
    return True, f"{len(sig[1])} rows"


def check_dump(tables_dir, out_dir, names, pinned):
    """Failures (name → message) over `names`."""
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = connect(tables_dir)
    bad = {}
    for n in names:
        ok, msg = compare(con, out_dir, n, oracles, pinned)
        if not ok:
            bad[n] = msg
    return bad
