"""Per-layer numbers from the benchmark's trace (perfbench.Trace JSON lines).

Jobs are attributed to a layer through their SQL execution's call site (or,
for jobs outside any execution, their own call site): the innermost program
frame, e.g. ``graft.pipeline.Fill$.fillFromSources(Fill.scala:190)``, names
the layer ``Fill``.  A layer's wall time is the union of its job intervals,
because jobs overlap and summed durations overshoot wall time.

All numbers are per timed unit: totals over the traced units divided by
their count.
"""
import json
import re

# RowIds and GoldenRecord only build plans: their jobs run under
# Pipeline.timed's count(), so they never are a job's innermost frame and
# their time counts as Pipeline's
PIPELINE_LAYERS = ["Fill", "Pipeline", "JsonAudit", "Tsv", "Validate"]
# streaming ingest with index absorb, suffix ladders, ANN training + ingest,
# replayed absorb, then the dedup / linkage operators, then the contacts
# queries and q1, which build almost nothing eagerly (the bypass controls)
REGISTRY_QUERIES = [
    "q202_ingest_stream", "q204_suffix_array", "q214_ann_ingest_stream",
    "q219_replayed_absorb", "q44_dup_clusters", "q20_minhash_lsh_pairs",
    "q134_record_linkage", "q69_fill_threekey", "q13_validate_contacts",
    "q27_golden_contacts", "q1_pricing_summary"]
STAGES = ["fill", "clean", "dedup", "validate"]

ENGINE = [
    ("spark.jobs", "count"), ("spark.stages", "count"),
    ("spark.tasks", "count"), ("spark.single_task_stages", "count"),
    ("driver.gap_s", "s"), ("catalyst.analysis_s", "s"),
    ("catalyst.optimization_s", "s"), ("catalyst.planning_s", "s"),
    ("executor.run_s", "s"), ("executor.cpu_s", "s"), ("executor.gc_s", "s"),
    ("executor.busy_frac", "ratio"), ("shuffle.write_mb", "MB"),
    ("shuffle.fetch_wait_s", "s"), ("spill.mb", "MB"), ("output.mb", "MB")]


def per_layer_names():
    """Every per-layer metric a traced run emits, with its unit.  Each
    workload emits all of them; a layer the workload never enters reads 0."""
    out = list(ENGINE)
    for f in PIPELINE_LAYERS:
        out += [("layer.%s.s" % f, "s"), ("layer.%s.jobs" % f, "count")]
    out += [("stage.%s_s" % s, "s") for s in STAGES]
    out += [("rows.master", "count"), ("rows.cleaned", "count"),
            ("rows.changelog", "count"), ("rows.validation_errors", "count"),
            ("fill.fills_per_probe_row", "ratio"),
            ("rest.server_s", "s"), ("rest.overhead_ms", "ms"),
            ("rest.validate_s", "s"),
            ("registry.build_s", "s"), ("registry.build_jobs", "count"),
            ("registry.exec_s", "s"), ("registry.exec_jobs", "count")]
    for q in REGISTRY_QUERIES:
        out += [("query.%s.build_s" % q, "s"), ("query.%s.exec_s" % q, "s"),
                ("query.%s.jobs" % q, "count")]
    out += [("units", "count"), ("cold.first_unit_s", "s"),
            ("trace.unit_s", "s"), ("jvm.peak_rss_mb", "MB")]
    return out


def layer_of(frame):
    m = re.search(r"\((\w+)\.scala:\d+\)", frame or "")
    return m.group(1) if m else "other"


def union_ms(intervals):
    """Total length covered by a set of [a, b] intervals."""
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def load(path):
    events = []
    try:
        with open(path, encoding="utf-8") as f:
            for line in f:
                try:
                    events.append(json.loads(line))
                except ValueError:
                    pass  # a line cut short by a killed child
    except FileNotFoundError:
        pass
    return events


def jobs_of(events):
    """job id -> {start, end, layer}; only jobs whose end was recorded."""
    sql_site = {e["exec"]: e["site"] for e in events if e["e"] == "sql"}
    jobs = {}
    for e in events:
        if e["e"] == "js":
            site = sql_site.get(e["exec"]) or e["site"]
            jobs[e["job"]] = {"start": e["t"], "layer": layer_of(site)}
        elif e["e"] == "je" and e["job"] in jobs:
            jobs[e["job"]]["end"] = e["t"]
    return {k: v for k, v in jobs.items() if "end" in v}


def engine(events, windows, cores):
    """Engine and layer numbers over the given [t0, t1] unit windows (ms)."""
    jobs = jobs_of(events)
    stages = [e for e in events if e["e"] == "sc"]
    qes = [e for e in events if e["e"] == "qe"]
    n = max(1, len(windows))
    m = {k: 0.0 for k, _ in ENGINE}
    layers = {}
    wall_ms = 0
    for t0, t1 in windows:
        wall_ms += t1 - t0
        js = [j for j in jobs.values() if t0 <= j["start"] <= t1]
        clip = [(j["start"], min(j["end"], t1)) for j in js]
        m["spark.jobs"] += len(js)
        m["driver.gap_s"] += (t1 - t0 - union_ms(clip)) / 1000.0
        for name in {j["layer"] for j in js}:
            mine = [(j["start"], min(j["end"], t1)) for j in js if j["layer"] == name]
            s, c = layers.get(name, (0.0, 0))
            layers[name] = (s + union_ms(mine) / 1000.0, c + len(mine))
        for s in stages:
            if t0 <= s["t0"] <= t1:
                m["spark.stages"] += 1
                m["spark.tasks"] += s["tasks"]
                m["spark.single_task_stages"] += s["tasks"] == 1
                m["executor.run_s"] += s.get("run", 0) / 1e3
                m["executor.cpu_s"] += s.get("cpu", 0) / 1e9
                m["executor.gc_s"] += s.get("gc", 0) / 1e3
                m["shuffle.write_mb"] += s.get("shw", 0) / 1e6
                m["shuffle.fetch_wait_s"] += s.get("fw", 0) / 1e3
                m["spill.mb"] += s.get("spill", 0) / 1e6
                m["output.mb"] += s.get("out", 0) / 1e6
        for q in qes:
            if t0 <= q["t"] <= t1:
                m["catalyst.analysis_s"] += q["an"] / 1e3
                m["catalyst.optimization_s"] += q["op"] / 1e3
                m["catalyst.planning_s"] += q["pl"] / 1e3
    m["executor.busy_frac"] = (m["executor.run_s"] / (wall_ms / 1e3 * cores)
                               if wall_ms else 0.0)
    out = {k: (v if k == "executor.busy_frac" else v / n) for k, v in m.items()}
    for name, (s, c) in layers.items():
        out["layer.%s.s" % name] = s / n
        out["layer.%s.jobs" % name] = c / n
    return out


def job_count(events, windows):
    jobs = jobs_of(events)
    return sum(1 for j in jobs.values()
               for t0, t1 in windows if t0 <= j["start"] <= t1)
