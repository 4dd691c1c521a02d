#!/usr/bin/env python3
"""graft benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload queries|ingest --seed N \\
        --seconds S --trace 0|1

Builds graft and the harness from this checkout (perfbench/harness),
generates the inputs from the seed, runs the workload closed-loop with
one client in one local[nproc] Spark JVM, checks the outputs, prints the full per-workload metric table and, as the last
line, one JSON object: {"correct", "attempted", "failed", "metrics"}.
With --trace 0 the metrics are BENCHMARK.json's end-to-end metrics;
with --trace 1 the same workload and seed runs with the harness's
listeners installed and the metrics are the per-layer ones. See
NOTES.md for the workloads, the metric definitions and the layer map.

A run measures a fixed amount of work that S sets: ceil(S / PASS_S)
passes over the query sample, or ceil(S / ROUND_S) rounds of ingest
batches (one batch of each topic per round). Both nominal times are
this benchmark's host's, so a run measures about S seconds there, and
every run of a workload makes the same queries or batches whatever the
host's speed, so its attempted and failed counts do not depend on it.
"""
import argparse
import json
import math
import os
import shutil
import time

import gate
import gen
import jvm
import stats

HERE = os.path.dirname(os.path.abspath(__file__))
SETUPS = 3      # set-ups per run; setup_s is their median
PASS_S = 7.0    # nominal seconds of one pass over the query sample
ROUND_S = 1.75  # nominal seconds of one ingest round (a batch of each topic)
TAIL_CAP = 75   # highest tail percentile reported (see stats.tail)


def work_units(seconds, nominal_s):
    """Passes or rounds a run of `seconds` makes: at least one."""
    return max(1, math.ceil(seconds / nominal_s))


def load_lists():
    with open(os.path.join(HERE, "lists.json")) as f:
        return json.load(f)


def warn_counts(work, events):
    start = next(e["log_bytes"] for e in events if e["kind"] == "measure_start")
    end = next(e["log_bytes"] for e in events if e["kind"] == "measure_end")
    with open(os.path.join(work, "spark.log"), "rb") as f:
        f.seek(start)
        text = f.read(end - start).decode("utf-8", "replace")
    return {"exec.window_single_partition_warns":
            text.count("No Partition Defined for Window operation"),
            "exec.large_task_binary_warns": text.count("Broadcasting large task binary")}


# ------------------------------------------------------------ query runs
def run_queries(a, work, cp, sf):
    import numpy as np
    lists = load_lists()
    frozen = lists["sample"]["floor"] + lists["sample"]["staged"]
    names = [frozen[i] for i in np.random.default_rng(a.seed).permutation(len(frozen))]
    items = os.path.join(work, "items.txt")
    with open(items, "w") as f:
        f.write("\n".join(names) + "\n")
    dump = os.path.join(work, "gate")
    passes = work_units(a.seconds, PASS_S)
    if a.trace:  # odd, so the listener-on passes come first and last
        passes |= 1
    ev = jvm.run(cp, work, {"mode": a.workload, "items": items, "data": sf,
                            "passes": passes, "trace": a.trace,
                            "setups": SETUPS, "gate": dump}, timeout=170)
    bad = gate.check_dump(sf, dump, sorted(set(names)), lists["pinned_digests"])
    bad.update({e["name"]: e["err"] for e in ev if e["kind"] == "gate_error"})
    for n, msg in bad.items():
        print(f"gate FAIL {n}: {msg}")
    qs = [e for e in ev if e["kind"] == "query"]
    passes = [e for e in ev if e["kind"] == "pass"]
    res = next(e for e in ev if e["kind"] == "resources")
    setups = [e for e in ev if e["kind"] == "setup"]
    out = {"sample": lists["sample"], "events": ev, "bad": bad}
    untraced = [p for p in passes if not p["traced"]]
    lat = [q["wall_s"] if q["ok"] else stats.FAILED for q in qs]
    t, tp, tn = stats.tail(lat, TAIL_CAP)
    m = {
        "setup_s": stats.median([s["total_s"] for s in setups]),
        "suite_s": stats.median([p["wall_s"] for p in untraced or passes]),
        "query_p50_s": stats.percentile(lat, 50),
        "query_tail_s": t, "query_tail_pct": tp, "query_tail_n": tn,
        "failed_frac": sum(1 for q in qs if not q["ok"]) / len(qs),
        "peak_rss_mb": res["peak_rss_mb"],
    }
    by_query = {}
    for q, x in zip(qs, lat):
        by_query.setdefault(q["name"], []).append(x)
    m["query_geomean_s"] = stats.geomean([stats.median(xs) for xs in by_query.values()])
    for cls in ("floor", "staged"):
        mine = [x for q, x in zip(qs, lat) if q["name"] in lists["sample"][cls]]
        m[f"{cls}_query_p50_s"] = stats.percentile(mine, 50)
    m["queries_per_s"] = sum(1 for q in qs if q["ok"]) / sum(p["wall_s"] for p in passes)
    out["e2e"] = m
    out["headline"] = {"setup_s": m["setup_s"], "item_geomean_s": m["query_geomean_s"],
                     "items_per_s": m["queries_per_s"], "peak_rss_mb": m["peak_rss_mb"]}
    out["attempted"], out["failed"] = len(qs), sum(1 for q in qs if not q["ok"])
    return out


# ---------------------------------------------------------------- ingest
def sink_rows(path, key):
    import pyarrow.dataset as ds
    if not os.path.isdir(path) or not any(f.endswith(".parquet") for f in os.listdir(path)):
        return [], 0, 0
    files = [os.path.join(path, f) for f in os.listdir(path) if f.endswith(".parquet")]
    keys = ds.dataset(files, format="parquet").to_table(columns=[key]).column(0).to_pylist()
    return keys, len(files), sum(os.path.getsize(f) for f in files)


def ingest_books(manifest, batches, sinks):
    """Per topic: offered = committed + each dropped class, and the sink
    holds exactly the expected key set with no duplicate key."""
    by_name = {b["name"]: b for b in manifest}
    books, problems = {}, []
    for flow in gen.FLOWS:
        bk = dict(offered=0, dup_dropped=0, fetch_failed=0, redelivered_dropped=0,
                  failed_batch_rows=0, committed=0, input_bytes=0)
        expected = set()
        for e in (b for b in batches if b["flow"] == flow):
            b = by_name[e["name"]]
            bk["offered"] += b["rows"]
            bk["input_bytes"] += b["bytes"]
            if not e["ok"]:
                bk["failed_batch_rows"] += b["rows"]
                continue
            bk["dup_dropped"] += b["rows"] - len(b["keys"])
            bk["fetch_failed"] += len(b["fetch_failed"])
            fresh = set(b["keys"]) - set(b["fetch_failed"])
            bk["redelivered_dropped"] += len(fresh & expected)
            expected |= fresh
        keys, files, nbytes = sink_rows(os.path.join(sinks, flow), gen.KEY[flow])
        bk.update(committed=len(keys), sink_files=files, sink_bytes=nbytes)
        if len(set(keys)) != len(keys):
            problems.append(f"{flow}: duplicate keys in sink")
        if set(keys) != expected:
            problems.append(f"{flow}: sink holds {len(set(keys))} keys, expected {len(expected)}")
        drops = (bk["dup_dropped"] + bk["fetch_failed"] + bk["redelivered_dropped"]
                 + bk["failed_batch_rows"])
        if bk["offered"] != bk["committed"] + drops:
            problems.append(f"{flow}: offered {bk['offered']} != committed "
                            f"{bk['committed']} + dropped {drops}")
        books[flow] = bk
    return books, problems


def run_ingest(a, work, cp, sf):
    t0 = time.monotonic()
    manifest = gen.ingest_batches(sf, a.seed, os.path.join(work, "batches"),
                                  work_units(a.seconds, ROUND_S))
    # two rounds, so the warm-up also appends into an existing sink
    warm_manifest = gen.ingest_batches(sf, a.seed, os.path.join(work, "warm-batches"), 2,
                                       warm=True)
    gen_s = time.monotonic() - t0
    items, warm_items = os.path.join(work, "items.txt"), os.path.join(work, "warm-items.txt")
    for path, man in ((items, manifest), (warm_items, warm_manifest)):
        with open(path, "w") as f:
            f.write("".join(f"{b['flow']}\t{b['path']}\n" for b in man))
    ev = jvm.run(cp, work, {"mode": "ingest", "items": items, "warm-items": warm_items,
                            "data": sf, "trace": a.trace,
                            "setups": SETUPS, "fetch-seed": a.seed,
                            "fetch-fail-permille": gen.FETCH_FAIL_PERMILLE}, timeout=170)
    batches = [e for e in ev if e["kind"] == "batch"]
    books, problems = ingest_books(manifest, batches, os.path.join(work, "sinks"))
    for p in problems:
        print("gate FAIL " + p)
    setups = [e for e in ev if e["kind"] == "setup"]
    res = next(e for e in ev if e["kind"] == "resources")
    m = {"setup_s": stats.median([s["total_s"] for s in setups]) + gen_s}
    lat_all = []
    for flow, short in (("tweets", "tweet"), ("posts", "post"), ("feeds", "feed")):
        fb = [b for b in batches if b["flow"] == flow]
        busy = sum(b["wall_s"] for b in fb)
        m[f"{flow}_per_s"] = books[flow]["committed"] / busy if busy else 0.0
        lat = [b["wall_s"] if b["ok"] else stats.FAILED for b in fb]
        m[f"{short}_batch_p50_s"] = stats.percentile(lat, 50) if lat else stats.FAILED
        if flow == "tweets":
            m["tweet_batch_geomean_s"] = stats.geomean(lat)
        lat_all += lat
    t, tp, tn = stats.tail(lat_all, TAIL_CAP)
    m.update(batch_tail_s=t, batch_tail_pct=tp, batch_tail_n=tn,
             failed_frac=sum(1 for b in batches if not b["ok"]) / len(batches),
             peak_rss_mb=res["peak_rss_mb"])
    errors = sorted({(b["flow"], b.get("err", "")[:160]) for b in batches if not b["ok"]})
    for flow, err in errors:
        print(f"batch error [{flow}]: {err}")
    # Headline figures: the tweet flow. Every run makes the same rounds,
    # so every run compares the same appends into the same sink sizes
    # (the anti-join reads the whole sink, so a batch's cost grows with
    # the batches before it), however long the other flows take.
    headline = {"setup_s": m["setup_s"], "item_geomean_s": m["tweet_batch_geomean_s"],
                "items_per_s": m["tweets_per_s"], "peak_rss_mb": m["peak_rss_mb"]}
    return {"events": ev, "bad": problems, "books": books, "e2e": m, "manifest": manifest,
            "headline": headline,
            "attempted": len(batches), "failed": sum(1 for b in batches if not b["ok"])}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=["queries", "ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    cp = jvm.build.build()
    sf = jvm.tables()
    work = os.path.join(jvm.build.BUILD_DIR, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        out = (run_ingest if a.workload == "ingest" else run_queries)(a, work, cp, sf)
        if a.trace:
            import layers
            metrics = layers.compute(a.workload, out, work)
            metrics.update(warn_counts(work, out["events"]))
            specs = bench["per_layer"]
        else:
            metrics = out["headline"]
            specs = bench["end_to_end"]
        print(f"== {a.workload} seed={a.seed} seconds={a.seconds} trace={a.trace} "
              f"cores={jvm.cores()}")
        for k, v in out["e2e"].items():
            print(f"  {k:24s} {v}")
        result = {"correct": not out["bad"], "attempted": out["attempted"],
                  "failed": out["failed"],
                  "metrics": {s["name"]: {"value": metrics.get(s["name"], 0.0), "unit": s["unit"]}
                              for s in specs}}
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result))


if __name__ == "__main__":
    main()
