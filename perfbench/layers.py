"""Job-to-layer attribution and the traced pass's per-layer metrics.

A Spark job belongs to the innermost `graft.` frame on its call site.  A
job run on a SQL helper thread (broadcast, subquery) has no such frame;
it takes the frames of the SQL execution that started it.  A job with
neither but tagged by a streaming query belongs to `streaming`; the rest
are `unattributed`.  Layers are this repo's modules.

Lazy operators start no jobs of their own; their plan building shows in
`driver_frac`, the share of the calling thread's stack samples whose
innermost `graft.` frame lies in the layer.
"""

import re

LAYERS = ["sources", "operators.RiskAggregation", "operators.StarSchema",
          "operators.DimRepair", "operators.Dedup", "operators.Barriers",
          "Pipeline", "sinks", "streaming", "other", "unattributed"]

LAYER_METRICS = [("jobs", "count"), ("stages", "count"), ("tasks", "count"),
                 ("busy_frac", "frac"), ("task_cpu_frac", "frac"),
                 ("driver_frac", "frac"),
                 ("shuffle_write_bytes", "bytes"), ("spill_bytes", "bytes"),
                 ("output_bytes", "bytes")]

ENGINE_METRICS = [
    ("spark.plan_s", "s"), ("spark.scheduler_delay_frac", "frac"),
    ("spark.job_overlap_frac", "frac"), ("spark.failed_tasks", "count"),
    ("spark.files_written", "count"), ("spark.bytes_written", "bytes"),
    ("streaming.query_planning_frac", "frac"),
    ("streaming.add_batch_frac", "frac"),
    ("streaming.wal_commit_frac", "frac"),
    ("streaming.state_rows", "count"),
    ("streaming.state_commit_frac", "frac"),
    ("operators.Dedup.dropped_per_dup_pair", "frac"),
    ("operators.Dedup.planted_recall", "frac"),
    ("trace.call_s", "s"), ("trace_overhead_frac", "frac"),
]


def per_layer_names():
    """Every per-layer metric the traced pass emits, with its unit."""
    return ([(f"{layer}.{m}", u) for layer in LAYERS
             for m, u in LAYER_METRICS] + ENGINE_METRICS)


_FRAME = re.compile(r"(?<![\w.$])(graft\.[\w.$]+)\(")
_NAMED = {"operators." + n for n in ("RiskAggregation", "StarSchema",
                                     "DimRepair", "Dedup", "Barriers")}


def module_of(frame):
    """Layer of one stack frame line, or None when it is not graft code."""
    m = _FRAME.search(frame)
    if not m:
        return None
    cls = m.group(1).rsplit(".", 1)[0].split("$", 1)[0]
    parts = cls.split(".")
    if parts == ["graft", "Pipeline"]:
        return "Pipeline"
    if len(parts) == 3 and parts[1] == "operators":
        name = "operators." + parts[2]
        return name if name in _NAMED else "other"
    if len(parts) == 3 and parts[1] == "sources":
        return {"Sources": "sources", "Sinks": "sinks"}.get(parts[2], "other")
    if len(parts) >= 2 and parts[1] == "streaming":
        return "streaming"
    return "other"


def layer_of(call_site, sql_call_site="", streaming=False):
    """The layer a job belongs to, from its call site (innermost frame
    first, as Spark writes it) and its SQL execution's call site."""
    for site in (call_site, sql_call_site):
        for line in (site or "").splitlines():
            layer = module_of(line)
            if layer:
                return layer
    return "streaming" if streaming else "unattributed"


def union_ms(intervals):
    """Total length covered by a set of [start, end] intervals."""
    total, end = 0, None
    for s, e in sorted(intervals):
        if end is None or s > end:
            total += e - s
            end = e
        elif e > end:
            total += e - end
            end = e
    return total


def per_layer(trace, traced_calls, cores):
    """Per-layer metrics of the traced calls, per call or as shares.

    `trace` is the JVM recorder's output, `traced_calls` the harness's
    records of the calls it was attached to."""
    n = max(1, len(traced_calls))
    wall_ms = 1000 * sum(c["wall_s"] for c in traced_calls) or 1
    jobs = [j for j in trace["jobs"] if j["end_ms"] >= j["start_ms"] >= 0]
    out = {}
    by_layer = {layer: [] for layer in LAYERS}
    for j in jobs:
        by_layer[layer_of(j["frames"], j["sql_frames"],
                          j["streaming"])].append(j)
    samples = {layer: 0 for layer in LAYERS}
    for frame, count in trace["driver_samples"].items():
        samples[module_of(frame) or "unattributed"] += count
    n_samples = sum(samples.values()) or 1
    for layer, js in by_layer.items():
        def total(k):
            return sum(j[k] for j in js)
        out[f"{layer}.jobs"] = len(js) / n
        out[f"{layer}.stages"] = total("stages") / n
        out[f"{layer}.tasks"] = total("tasks") / n
        out[f"{layer}.busy_frac"] = union_ms(
            [(j["start_ms"], j["end_ms"]) for j in js]) / wall_ms
        out[f"{layer}.task_cpu_frac"] = (total("cpu_ns") / 1e6
                                         / (wall_ms * cores))
        out[f"{layer}.driver_frac"] = samples[layer] / n_samples
        for k in ("shuffle_write_bytes", "spill_bytes", "output_bytes"):
            out[f"{layer}.{k}"] = total(k) / n

    durations = sum(j["end_ms"] - j["start_ms"] for j in jobs)
    waited = sum(j["wait_ms"] for j in jobs)
    ran = sum(j["run_ms"] for j in jobs)
    out["spark.plan_s"] = trace["plan_ms"] / 1000 / n
    out["spark.scheduler_delay_frac"] = waited / ((waited + ran) or 1)
    out["spark.job_overlap_frac"] = ((durations - union_ms(
        [(j["start_ms"], j["end_ms"]) for j in jobs])) / (durations or 1))
    out["spark.failed_tasks"] = sum(j["failed_tasks"] for j in jobs) / n
    out["spark.files_written"] = sum(c["files_written"]
                                     for c in traced_calls) / n
    out["spark.bytes_written"] = sum(c["bytes_written"]
                                     for c in traced_calls) / n

    prog = [p for p in trace["stream_progress"] if p["rows"] > 0]
    trig = sum(p["duration_ms"].get("triggerExecution", 0) for p in prog)
    for name, key in (("query_planning", "queryPlanning"),
                      ("add_batch", "addBatch"), ("wal_commit", "walCommit")):
        out[f"streaming.{name}_frac"] = sum(
            p["duration_ms"].get(key, 0) for p in prog) / (trig or 1)
    out["streaming.state_rows"] = (sum(p["state_rows"] for p in prog)
                                   / max(1, len(prog)))
    out["streaming.state_commit_frac"] = sum(
        p["state_commit_ms"] for p in prog) / (trig or 1)
    return out


def probe_ratios(calls):
    """Dedup outcomes against the generator's planted duplicates."""
    facts = [c["facts"] for c in calls if "planted_exact" in c["facts"]]
    planted = sum(f["planted_exact"] + f["planted_near"] for f in facts)
    if not planted:
        return {"operators.Dedup.dropped_per_dup_pair": 0.0,
                "operators.Dedup.planted_recall": 0.0}
    return {
        "operators.Dedup.dropped_per_dup_pair":
            sum(f["n_dropped"] for f in facts) / planted,
        "operators.Dedup.planted_recall":
            sum(f["exact_dropped"] + f["near_dropped"] for f in facts)
            / planted,
    }
