"""Turns the raw record of one run (raw.json, written by graftbench.Main)
into the benchmark's metrics.

End-to-end metrics come from window 0, measured with tracing off.
Per-layer metrics come from window 1, measured with the Spark listener
and the query-execution listener attached (--trace 1); window 2 runs
untraced again so the tracing overhead can be taken against both.
"""
import math
import statistics

TAIL_BEYOND = 10

# call kind -> the class the end-to-end and per-class figures group it in
GROUP = {
    "append": "append", "update": "merge", "merge": "merge",
    "delete_api": "delete", "delete_sql": "delete", "compact": "compact",
}
# calls that go through the DSv2 face (spark.sql against format("graft") or the catalog)
V2_KINDS = {"sql_agg", "sql_key", "update", "merge", "delete_sql"}
V2_READS = {"sql_agg", "sql_key"}
API_READS = {"box_manifest", "box_curve", "count_box", "bins_pad"}
OPERATOR_GROUPS = ["tracks", "filters", "crossovers", "xover_dhdt", "blockmedian",
                   "projection", "geoindex"]
SPARK_CLASSES = ["read", "commit", "batch"]
SPARK_METRICS = ["jobs", "stages", "tasks", "sched_delay_ms", "task_run_ms", "task_cpu_ms",
                 "gc_ms", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
                 "input_bytes", "output_bytes", "driver_self_ms"]
ROW_BYTES = 32  # id, x, y, z: four 8-byte values


# ---- summary statistics -------------------------------------------------

def median(values):
    return statistics.median(values) if values else 0.0


def quartiles(values):
    """(q1, median, q3) as statistics.quantiles(values, n=4) gives them."""
    if len(values) < 2:
        v = values[0] if values else 0.0
        return (v, v, v)
    return tuple(statistics.quantiles(values, n=4))


def tail(values, beyond=TAIL_BEYOND):
    """The highest percentile that has at least `beyond` samples above it.

    Returns (percentile, value): the order statistic with exactly `beyond`
    samples after it in sorted order, and the share of samples at or
    below it.  When that percentile would fall below the median (fewer
    than 2 * beyond + 1 samples) the maximum is returned as the 100th.
    """
    if not values:
        return (0.0, 0.0)
    s = sorted(values)
    n = len(s)
    k = n - beyond - 1
    if k < n // 2:
        return (100.0, s[-1])
    return (100.0 * (k + 1) / n, s[k])


def geomean(values):
    vals = [v for v in values if v > 0]
    return math.exp(sum(math.log(v) for v in vals) / len(vals)) if vals else 0.0


def covered_ms(start, end, intervals):
    """Length of [start, end] covered by the union of `intervals`."""
    spans = sorted((max(start, a), min(end, b)) for a, b in intervals if b > start and a < end)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in spans:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# ---- end-to-end ---------------------------------------------------------

def _dur(c):
    return c["end_ms"] - c["start_ms"]


def _group(kind):
    return GROUP.get(kind, "read" if kind in API_READS or kind in V2_READS else kind)


def e2e_class(c, products):
    """The gated class of a call: "write" for a call that stores data (a
    lake commit, or a batch stage whose output the pass keeps), "read"
    for one that only answers, None for maintenance and cache releases,
    which no client waits on."""
    if c["cls"] == "release" or c["kind"] == "compact":
        return None
    return "write" if c["cls"] == "commit" or c["kind"] in products else "read"


def timed_calls(raw, window):
    """The client's calls in a window; cache releases are bookkeeping, not requests."""
    return [c for c in raw["calls"] if c["window"] == window and c["cls"] != "release"]


def window_figures(raw, window):
    """Latency and throughput figures of one measured window."""
    calls = timed_calls(raw, window)
    products = set(raw["windows"][window]["facts"].get("products", ()))
    by_kind, by_group, cpu_by_kind, kinds_of = {}, {}, {}, {}
    for c in calls:
        by_kind.setdefault(c["kind"], []).append(_dur(c))
        by_group.setdefault(_group(c["kind"]), []).append(_dur(c))
        cpu_by_kind.setdefault(c["kind"], []).append(c["cpu_ms"])
        kinds_of.setdefault(e2e_class(c, products), set()).add(c["kind"])
    # each kind weighs the same, whatever number of calls of it a window held;
    # maintenance is not a request the client waits on: it belongs to the tail
    typical_cpu = [median(v) for k, v in cpu_by_kind.items() if _group(k) != "compact"]
    durs = [_dur(c) for c in calls]
    pct, tail_v = tail(durs)
    span = (max(c["end_ms"] for c in calls) - min(c["start_ms"] for c in calls)) / 1000.0 if calls else 0.0
    commits = [_dur(c) for c in calls if c["cls"] == "commit"]
    passes = [(p[-1]["end_ms"] - p[0]["start_ms"]) / 1000.0 for p in complete_passes(raw, window)]
    return {
        "read_p50_ms": geomean([median(by_kind[k]) for k in kinds_of.get("read", ())]),
        "write_p50_ms": geomean([median(by_kind[k]) for k in kinds_of.get("write", ())]),
        "cpu_ms": geomean(typical_cpu),
        "tail_ms": tail_v,
        "tail_pct": pct,
        "calls": len(calls),
        "calls_per_s": len(calls) / span if span > 0 else 0.0,
        "by_kind": {k: {"n": len(v), "p50_ms": median(v)} for k, v in sorted(by_kind.items())},
        "by_group": {g: {"n": len(v), "p50_ms": median(v), "tail": tail(v)}
                     for g, v in sorted(by_group.items())},
        "commit_tail": tail(commits),
        "pass_s": passes,
    }


def complete_passes(raw, window):
    """Batch passes of a window that ran every stage and ended in a release."""
    passes = {}
    for c in raw["calls"]:
        if c["window"] == window and "pass" in c["extra"]:
            passes.setdefault(c["extra"]["pass"], []).append(c)
    return [p for _, p in sorted(passes.items()) if p[-1]["cls"] == "release"]


def end_to_end(raw):
    setup = raw["setup"]
    f = window_figures(raw, 0)
    return {
        "setup_s": (setup["session_s"] + median(setup["build_s"]) + setup["warm_s"], "s"),
        "read_p50_ms": (f["read_p50_ms"], "ms"),
        "write_p50_ms": (f["write_p50_ms"], "ms"),
        "peak_rss_mb": (raw["peak_rss_mb"], "MB"),
    }


# ---- per layer ----------------------------------------------------------

def per_layer(raw):
    """Every per-layer metric, 0 where the workload has no such call."""
    m = {}
    w0 = window_figures(raw, 0)
    w1 = window_figures(raw, 1)
    facts0 = raw["windows"][0]["facts"]
    facts1 = raw["windows"][1]["facts"]

    # the public-call breakdown the end-to-end metrics summarize (untraced window)
    def grp(g, key="p50_ms"):
        return w0["by_group"].get(g, {}).get(key, 0.0)
    m["calls.per_s"] = (w0["calls_per_s"], "1/s")
    m["calls.cpu_ms"] = (w0["cpu_ms"], "ms")
    m["calls.tail_ms"] = (w0["tail_ms"], "ms")
    m["calls.read_tail_ms"] = (w0["by_group"].get("read", {}).get("tail", (0, 0.0))[1], "ms")
    m["calls.append_p50_ms"] = (grp("append"), "ms")
    m["calls.merge_p50_ms"] = (grp("merge"), "ms")
    m["calls.delete_p50_ms"] = (grp("delete"), "ms")
    m["calls.commit_tail_ms"] = (w0["commit_tail"][1], "ms")
    input_rows = facts0.get("input_rows", 0)
    m["calls.points_per_s"] = (input_rows / median(w0["pass_s"]) if w0["pass_s"] else 0.0, "1/s")
    m["calls.space_amp"] = (facts0["layout_bytes"] / facts0["live_row_bytes"]
                            if facts0.get("live_row_bytes") else 0.0, "ratio")

    calls = timed_calls(raw, 1)
    eng = raw.get("engine", {})
    per_op = eng.get("per_op", {})
    jobs_by_op = {}
    for j in eng.get("jobs", []):
        jobs_by_op.setdefault(j["op"], []).append((j["start_ms"], j["end_ms"] if j["end_ms"] >= 0 else j["start_ms"]))
    plan = {s["op"]: s["end_ms"] - s["start_ms"] for s in raw["spans"] if s["name"] == "plan"}
    phases = eng.get("phases", [])

    def self_ms(c):
        return _dur(c) - covered_ms(c["start_ms"], c["end_ms"], jobs_by_op.get(c["op"], []))

    def mean(xs):
        return sum(xs) / len(xs) if xs else 0.0

    # graft.sources
    api = [c for c in calls if c["kind"] in API_READS]
    m["sources.plan_ms"] = (median([plan[c["op"]] for c in api if c["op"] in plan]), "ms")
    m["sources.files_planned_per_read"] = (mean([c["extra"].get("files_planned", 0.0) for c in api]), "count")
    m["sources.prune_ratio"] = (mean([c["extra"]["files_planned"] / c["extra"]["files_live"]
                                      for c in api if c["extra"].get("files_live")]), "ratio")
    commits = [c for c in calls if c["cls"] == "commit"]
    m["sources.commit_driver_ms"] = (median([self_ms(c) for c in commits]), "ms")
    m["sources.commit_jobs"] = (mean([len(jobs_by_op.get(c["op"], [])) for c in commits]), "count")
    m["sources.commit_tasks"] = (mean([per_op.get(c["op"], {}).get("tasks", 0.0) for c in commits]), "count")
    user_bytes = sum(c["rows"] for c in commits if c["kind"] in ("append", "update", "merge")) * ROW_BYTES
    written = sum(per_op.get(c["op"], {}).get("output_bytes", 0.0) for c in commits)
    m["sources.bytes_written_per_user_byte"] = (written / user_bytes if user_bytes else 0.0, "ratio")
    end1 = facts1.get("end", {})
    m["sources.files_live"] = (end1.get("files_live", 0), "count")
    m["sources.manifest_parts"] = (end1.get("manifest_parts", 0), "count")
    m["sources.tombstone_files"] = (end1.get("tombstone_files", 0), "count")

    # graft.sources.v2: catalyst phases of the SQL calls, matched by time
    v2 = [c for c in calls if c["kind"] in V2_KINDS]
    for ph in ("analysis", "optimization", "planning"):
        per_call = [sum(p[f"{ph}_ms"] for p in phases if c["start_ms"] - 1 <= p["start_ms"] <= c["end_ms"])
                    for c in v2]
        m[f"v2.{ph}_ms"] = (median(per_call), "ms")
    aggs = [c for c in calls if c["kind"] == "sql_agg"]
    m["v2.files_opened_per_agg"] = (mean([c["extra"].get("files_planned", 0.0) for c in aggs]), "count")
    v2r = [c for c in calls if c["kind"] in V2_READS]
    returned = sum(c["rows"] for c in v2r)
    m["v2.rows_read_per_row_returned"] = (
        sum(c["extra"].get("rows_scanned", 0.0) for c in v2r) / returned if returned else 0.0, "ratio")

    # graft.operators: seconds a pass spends in each stage group
    groups = facts1.get("stage_groups", {})
    passes = complete_passes(raw, 1)
    for g in OPERATOR_GROUPS:
        per_pass = [sum(_dur(c) for c in p if groups.get(c["kind"]) == g) / 1000.0 for p in passes]
        m[f"operators.{g}_s"] = (median(per_pass), "s")

    # graft.core
    m["core.cached_mb"] = (eng.get("cached_peak_bytes", 0) / 2 ** 20, "MB")
    m["core.release_ms"] = (median([_dur(c) for c in raw["calls"]
                                    if c["window"] == 1 and c["cls"] == "release"]), "ms")

    # Spark engine, per call of each class
    for cls in SPARK_CLASSES:
        cc = [c for c in calls if c["cls"] == cls]
        for k in SPARK_METRICS:
            if k == "jobs":
                v = mean([len(jobs_by_op.get(c["op"], [])) for c in cc])
            elif k == "driver_self_ms":
                v = mean([self_ms(c) for c in cc])
            else:
                v = mean([per_op.get(c["op"], {}).get(k, 0.0) for c in cc])
            unit = "ms" if k.endswith("_ms") else "bytes" if k.endswith("_bytes") else "count"
            m[f"spark.{cls}.{k}"] = (v, unit)

    # tracing overhead: the traced window against the mean of the untraced ones around it
    w2 = window_figures(raw, 2)
    for k, unit in (("read_p50_ms", "ms"), ("write_p50_ms", "ms"), ("tail_ms", "ms"),
                    ("calls_per_s", "1/s")):
        m[f"trace.{k}_delta"] = (w1[k] - (w0[k] + w2[k]) / 2, unit)
    m["jvm.live_heap_mb"] = (raw["live_heap_mb"], "MB")
    return m


def details(raw, oracle):
    """Everything a reader needs to interpret the metrics, printed beside them."""
    meta = raw["meta"]
    out = {"meta": meta, "setup": raw["setup"],
           "memory": {"peak_rss_mb": raw["peak_rss_mb"], "live_heap_mb": raw["live_heap_mb"],
                      "heap_pools": raw.get("heap_pools", {})},
           "windows": [{"window": w["window"], "traced": w["traced"], "load": w["load"],
                        "facts": w["facts"], "figures": window_figures(raw, w["window"])}
                       for w in raw["windows"]],
           "oracle": oracle,
           "failures": [{"kind": c["kind"], "window": c["window"], "note": c["note"]}
                        for c in raw["calls"] if not c["ok"]][:20]}
    return out


def result(raw, oracle, traced):
    """The final line: correct / attempted / failed / metrics."""
    attempted = len(raw["calls"])
    failed = sum(1 for c in raw["calls"] if not c["ok"]) + sum(1 for o in oracle if not o["ok"])
    metrics = per_layer(raw) if traced else end_to_end(raw)
    return {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }
