"""Per-layer metrics of a traced run, from the harness's span records.

Layers are graft's modules (NOTES.md has the layer → end-to-end map):

  operators  construction inside SparkEntry.queries: the span of the
             call, the jobs it starts, durable stages and cached bytes
  plans      Catalyst phases of the final plan (QueryPlanningTracker)
             and graft's own optimizer rules
  exec       Spark running the final plan: the final write's SQL
             execution span minus the planning phases inside it, its
             jobs, stages and tasks
  sources    serde, fetch and sinks (ingest)
  pipelines  the three flows, each materialized alone (ingest)
  functions  the VADER, emoji, text and summary kernels (ingest)
  session    JVM and SparkSession

Times and counts are per query execution (queries) or per batch
of the flow named (ingest), so a layer's figure compares directly with
the item latency it is part of.
"""
import collections

import gen
import jvm
import stats

PHASES = ("analysis", "optimization", "planning")


def _tag(tag):
    """'gb|item|run|phase' → (item, run, phase)."""
    _, item, run, phase = tag.split("|")
    return item, int(run), phase


def _exec_index(events):
    """Jobs, stages and SQL executions grouped by (item, run, phase)."""
    stages = {e["stage"]: e for e in events if e["kind"] == "stage"}
    jobs, sqls = collections.defaultdict(list), collections.defaultdict(list)
    for e in events:
        if e["kind"] == "job" and e["tag"]:
            st = [stages[int(s)] for s in e["stages"].split(",") if s and int(s) in stages]
            jobs[_tag(e["tag"])].append(dict(e, stage_recs=st))
        elif e["kind"] == "sql" and e["tag"]:
            sqls[_tag(e["tag"])].append(e)
    return jobs, sqls


def _final_sqls(sqls, key):
    """The planned SQL executions of an item's `execute` phase."""
    return [s for s in sqls.get(key + ("execute",), []) if "planning_start_ms" in s]


def _exec_self_s(final):
    """Spark running the final plans: their SQL execution spans minus
    the planning phases inside them."""
    return sum(stats.self_time(
        (s["start_ms"], s["end_ms"]),
        [(s[f"{p}_start_ms"], s[f"{p}_end_ms"]) for p in PHASES]) for s in final) / 1e3


def _exec_counters(jobs):
    st = [s for j in jobs for s in j["stage_recs"]]
    return {"jobs": len(jobs), "stages": len(st),
            "tasks": sum(s["tasks"] for s in st),
            "tasks_failed": sum(s["tasks_failed"] for s in st),
            "executor_run_s": sum(s["run_ms"] for s in st) / 1e3,
            "executor_cpu_s": sum(s["cpu_ms"] for s in st) / 1e3,
            "task_wait_s": sum(s["wait_ms"] for s in st) / 1e3,
            "shuffle_read_bytes": sum(s["shuffle_read"] for s in st),
            "shuffle_write_bytes": sum(s["shuffle_write"] for s in st),
            "spill_bytes": sum(s["spill"] for s in st)}


def query_layers(events, cores):
    """Layer split of every traced query execution."""
    jobs, sqls = _exec_index(events)
    traced_runs = set()
    for (item, run, phase) in jobs.keys() | sqls.keys():
        traced_runs.add((item, run))
    rows = []
    for q in (e for e in events if e["kind"] == "query" and e["ok"]):
        key = (q["name"], q["run"])
        if key not in traced_runs:
            continue
        final = _final_sqls(sqls, key)
        plan = {p: sum(s[f"{p}_end_ms"] - s[f"{p}_start_ms"] for s in final) / 1e3
                for p in PHASES}
        exec_self = _exec_self_s(final)
        wall_ms = (q["c0_ms"], q["w1_ms"])
        covered = [(q["c0_ms"], q["c1_ms"])] + [(s["start_ms"], s["end_ms"]) for s in final] + \
            [(s[f"{p}_start_ms"], s[f"{p}_end_ms"]) for s in final for p in PHASES]
        span = max(1, wall_ms[1] - wall_ms[0])
        ex = _exec_counters(jobs.get(key + ("execute",), []))
        rows.append({
            "name": q["name"], "wall_s": q["wall_s"], "construct_s": q["construct_s"],
            "construct_jobs": len(jobs.get(key + ("construct",), [])),
            "plan": plan, "graft_rule_s": sum(s.get("graft_rule_ns", 0) for s in final) / 1e9,
            "plan_nodes": sum(s.get("plan_nodes", 0) for s in final),
            "exec_s": exec_self, "exec": ex,
            "unattributed_frac": stats.self_time(wall_ms, covered) / span})
    return rows


def _mean(rows, f):
    return sum(f(r) for r in rows) / len(rows) if rows else 0.0


def compute(workload, out, work):
    ev = out["events"]
    cores = jvm.cores()
    m = {}
    setups = [e for e in ev if e["kind"] == "setup"]
    res = next(e for e in ev if e["kind"] == "resources")
    m["session.start_s"] = stats.median([s["session_s"] for s in setups])
    m["session.warmup_s"] = stats.median([s["warmup_s"] for s in setups])
    m["jvm.gc_s"] = res["gc_s"]
    m["jvm.heap_peak_mb"] = res["heap_peak_mb"]
    if workload == "ingest":
        items = ingest_layers(out, ev, cores)
    else:
        items = {}
        rows = query_layers(ev, cores)
        sample = out["sample"]
        for cls in ("floor", "staged"):   # printed only: the layer split per query class
            mine = [r for r in rows if r["name"] in sample[cls]]
            out["e2e"][f"{cls}_split"] = {
                "construct_s": round(_mean(mine, lambda r: r["construct_s"]), 4),
                "plan_s": round(_mean(mine, lambda r: sum(r["plan"].values())), 4),
                "exec_s": round(_mean(mine, lambda r: r["exec_s"]), 4),
                "wall_s": round(_mean(mine, lambda r: r["wall_s"]), 4)}
        # printed only: share of traced queries whose construct + plan +
        # execute spans cover their wall time to within 5%
        out["e2e"]["layer_sum_within_5pct"] = _mean(
            rows, lambda r: r["unattributed_frac"] <= 0.05)
        passes = [e for e in ev if e["kind"] == "pass"]
        on = [p["wall_s"] for p in passes if p["traced"]]
        off = [p["wall_s"] for p in passes if not p["traced"]]
        items.update({
            "operators.construct_s": _mean(rows, lambda r: r["construct_s"]),
            "operators.construct_jobs": _mean(rows, lambda r: r["construct_jobs"]),
            "operators.stage_builds": _mean(passes, lambda p: p["stage_builds"]),
            "operators.stage_bytes": _mean(passes, lambda p: p["stage_bytes"]),
            "operators.cached_bytes": _mean(passes, lambda p: p["cached_bytes"]),
            "plans.graft_rule_s": _mean(rows, lambda r: r["graft_rule_s"]),
            "plans.plan_nodes": _mean(rows, lambda r: r["plan_nodes"]),
            "exec.wall_s": _mean(rows, lambda r: r["exec_s"]),
            "trace.overhead_frac": (stats.median(on) / stats.median(off) - 1) if on and off
            else 0.0,
            "trace.unattributed_frac": stats.median([r["unattributed_frac"] for r in rows]),
            "trace.queries": len(rows)})
        for p in PHASES:
            items[f"plans.{p}_s"] = _mean(rows, lambda r: r["plan"][p])
        for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
                  "task_wait_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
            items[f"exec.{k}"] = _mean(rows, lambda r: r["exec"][k])
        items["exec.tasks_failed"] = sum(r["exec"]["tasks_failed"] for r in rows)
        run_s = sum(r["exec"]["executor_run_s"] for r in rows)
        wall_s = sum(r["exec_s"] for r in rows)
        items["exec.busy_frac"] = run_s / (wall_s * cores) if wall_s else 0.0
    m.update(items)
    return m


def ingest_layers(out, ev, cores):
    jobs, sqls = _exec_index(ev)
    batches = [e for e in ev if e["kind"] == "batch"]
    layer = collections.defaultdict(list)
    for e in ev:
        if e["kind"] == "layer":
            layer[(e["flow"], e["layer"])].append(e)
    rows = collections.defaultdict(dict)
    for e in ev:
        if e["kind"] == "rows":
            rows[(e["flow"], e["run"])].update(e)
    m = {}
    ok = [b for b in batches if b["ok"]]
    keys = [(f"{b['flow']}#{b['name']}", b["run"]) for b in ok]
    ok_exec = [_exec_counters(jobs.get(k + ("execute",), [])) for k in keys]
    for k in ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "task_wait_s",
              "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes"):
        m[f"exec.{k}"] = _mean(ok_exec, lambda r: r[k])
    m["exec.tasks_failed"] = sum(r["tasks_failed"] for r in ok_exec)
    exec_s = [_exec_self_s(_final_sqls(sqls, k)) for k in keys]
    m["exec.wall_s"] = _mean(exec_s, lambda s: s)
    m["exec.busy_frac"] = (sum(r["executor_run_s"] for r in ok_exec) / (sum(exec_s) * cores)
                           if sum(exec_s) else 0.0)

    def mean_ok(flow, name):
        xs = [e["s"] for e in layer[(flow, name)] if e["ok"]]
        return sum(xs) / len(xs) if xs else 0.0

    def rate(flow, name):
        xs = [(e["s"], rows[(flow, e["run"])].get("parsed", 0)) for e in layer[(flow, name)]
              if e["ok"]]
        t = sum(x[0] for x in xs)
        return sum(x[1] for x in xs) / t if t else 0.0

    books = out["books"]
    for flow in gen.FLOWS:
        bk = books[flow]
        m[f"sources.{flow}.parse_s"] = mean_ok(flow, "parse")
        m[f"sources.{flow}.sink_append_s"] = mean_ok(flow, "sink_append")
        m[f"sources.{flow}.sink_fresh_ratio"] = bk["committed"] / bk["offered"] if bk["offered"] \
            else 0.0
        m[f"sources.{flow}.sink_files"] = bk["sink_files"]
        m[f"sources.{flow}.sink_bytes_per_input_byte"] = bk["sink_bytes"] / bk["input_bytes"] \
            if bk["input_bytes"] else 0.0
        for c in ("offered", "committed", "dup_dropped", "fetch_failed", "redelivered_dropped",
                  "failed_batch_rows"):
            m[f"pipelines.{flow}.{c}"] = bk[c]
    fetched = [(rows[("feeds", e["run"])].get("fetched", 0), rows[("feeds", e["run"])]
                .get("parsed", 0)) for e in layer[("feeds", "fetch")] if e["ok"]]
    m["sources.feeds.fetch_s"] = mean_ok("feeds", "fetch")
    m["sources.feeds.fetch_ok_ratio"] = (sum(f for f, _ in fetched) / sum(p for _, p in fetched)
                                         if fetched and sum(p for _, p in fetched) else 0.0)
    m["pipelines.twitter_s"] = mean_ok("tweets", "pipeline")
    m["pipelines.reddit_s"] = mean_ok("posts", "pipeline")
    m["pipelines.rss_s"] = mean_ok("feeds", "pipeline")
    m["functions.vader_rows_per_s"] = rate("tweets", "vader")
    m["functions.demojize_rows_per_s"] = rate("tweets", "demojize")
    m["functions.clean_text_rows_per_s"] = rate("tweets", "clean_text")
    m["functions.summary_rows_per_s"] = rate("feeds", "summary")
    return m
