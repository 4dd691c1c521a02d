"""Probe every registry query once, to freeze the floor/staged lists.

Run once per benchmark definition, never per benchmark run:

    python3 perfbench/freeze.py <report.json>               # probe
    python3 perfbench/freeze.py <report.json> lists.json    # apply the rules

For each query, from cold caches on the benchmark tables, after a
warm-up pass: the number of Spark jobs its construction (the call into
SparkEntry.queries) starts and its construction and total wall time
(harness probe); and, from graft.Verify's dump, whether its result
matches its DuckDB oracle (with the oracle's run time) or, for a query
without one, the digest of its result. lists.json is written from this report
by the rules in make_lists (NOTES.md explains them).
"""
import collections
import json
import os
import shutil
import subprocess
import sys

import numpy as np

import jvm
import gate


def probe(cp, sf, work):
    """Harness probe: one traced cold-cache run of every query."""
    items = os.path.join(work, "items.txt")
    with open(items, "w") as f:
        f.write("*\n")
    return jvm.run(cp, work, {"mode": "probe", "items": items, "data": sf,
                              "setups": 1}, timeout=7200)


def verify_dump(cp, sf, out):
    """Every query's result and oracle_sql.json, written by graft.Verify."""
    subprocess.run(["java", f"-Xmx{jvm.HEAP}"]
                   + [x for p in jvm.ADD_OPENS for x in ("--add-opens", p + "=ALL-UNNAMED")]
                   + ["-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
                      f"-Djava.io.tmpdir={os.path.dirname(out)}",
                      f"-Dlog4j2.configurationFile={os.path.join(jvm.HERE, 'log4j2.properties')}",
                      f"-Dgraftbench.log={out}.log",
                      "-cp", cp, "graft.Verify", sf, out],
                   env=dict(os.environ, SPARK_GRAFT_CPUS=str(jvm.cores())),
                   stdout=subprocess.DEVNULL, check=True)


def report(ev, dump, sf):
    queries = [e for e in ev if e["kind"] == "query"]
    jobs = collections.Counter(e["tag"].split("|")[1] for e in ev
                               if e["kind"] == "job" and e["tag"].endswith("|construct"))
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracles = json.load(f)
    con = gate.connect(sf)
    out = {}
    for q in queries:
        n = q["name"]
        r = {"ok": q["ok"], "wall_s": q["wall_s"], "construct_s": q["construct_s"],
             "construct_jobs": jobs.get(n, 0), "oracle": n in oracles}
        if not q["ok"]:
            r["err"] = q.get("err")
        sig = gate.spark_sig(dump, n)
        if sig is not None:
            r["digest"] = gate.digest(sig)
            if n in oracles:
                try:
                    osig, secs = gate.oracle_sig(con, oracles[n], 2 * MAX_ORACLE_S)
                    r["oracle_s"] = secs
                    r["oracle_match"] = osig == sig
                except Exception as e:
                    r["oracle_match"] = False
                    r["oracle_err"] = str(e)[:200]
        out[n] = r
        print(n, r, flush=True)
    return out


def main(report_path):
    cp = jvm.build.build()
    sf = jvm.tables()
    work = os.path.join(jvm.build.BUILD_DIR, "freeze")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    ev = probe(cp, sf, work)
    dump = os.path.join(work, "dump")
    verify_dump(cp, sf, dump)
    with open(report_path, "w") as f:
        json.dump(report(ev, dump, sf), f, indent=1, sort_keys=True)


# ------------------------------------------------------------ the lists
MAX_ORACLE_S = 1.0   # the gate re-runs each sampled oracle every run
SAMPLE_SIZE = {"floor": 3, "staged": 2}
SAMPLE_SEED = 2026


def stratified(entries, k, rng):
    """k entries, one from each of k equal strata of the list sorted by cost."""
    ranked = sorted(entries, key=lambda e: (e["cost_s"], e["name"]))
    return [ranked[i * len(ranked) // k + int(rng.integers(0, (i + 1) * len(ranked) // k
                                                           - i * len(ranked) // k))]["name"]
            for i in range(k)]


def make_lists(report_path, lists_path):
    """Apply the freezing rules to a probe report (see NOTES.md)."""
    with open(report_path) as f:
        report = json.load(f)
    lists = {"floor": [], "staged": [], "pinned_digests": {}, "excluded": {}}
    for n, r in sorted(report.items()):
        why = None
        if not r["ok"]:
            why = "failed in the probe"
        elif r["oracle"] and (r.get("oracle_s", 99) > MAX_ORACLE_S or "oracle_err" in r):
            why = f"oracle takes more than {MAX_ORACLE_S:.0f} s at this scale"
        elif r["oracle"] and not r.get("oracle_match"):
            why = "result differs from its oracle on the benchmark tables"
        if why:
            lists["excluded"][n] = why
            continue
        if not r["oracle"]:
            lists["pinned_digests"][n] = r["digest"]
        w = "floor" if r["construct_jobs"] <= 1 else "staged"
        lists[w].append({"name": n, "cost_s": round(r["wall_s"], 3),
                         "construct_jobs": r["construct_jobs"]})
    rng = np.random.default_rng(SAMPLE_SEED)
    lists["sample"] = {w: stratified(lists[w], SAMPLE_SIZE[w], rng) for w in ("floor", "staged")}
    with open(lists_path, "w") as f:
        json.dump(lists, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) > 2:
        make_lists(sys.argv[1], sys.argv[2])
    else:
        main(sys.argv[1])
