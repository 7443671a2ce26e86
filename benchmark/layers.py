"""Per-layer metrics of a traced run.

The JVM side records the spans the benchmark opens around its calls into
graft (run, pass, query, construct, action, batch, stage call, ...) and,
from Spark's listeners, every job, stage (with summed task metrics) and
Catalyst phase. This module joins them into one tree, charges the wall
to layers and sums the counters.
"""
import json
import math

import metrics

STAGES = ("j17", "j13", "j18", "j12", "j14", "j11", "j26")


def build_tree(trace):
    """Nodes of the traced run's span trees: id -> dict(kind, name,
    parent, start, end, rec), one tree per `run` span (the dashboard's
    cold and warm passes are two). Listener records hang under the
    innermost span that contains their midpoint; stages under the job
    that ran them. Records outside every run are dropped: set-up, output
    checks, untraced passes.
    """
    harness = {s["id"]: s for s in trace["spans"]}
    roots = {i for i, s in harness.items() if s["kind"] == "run"}

    def under_root(i):
        while i != -1:
            if i in roots:
                return True
            i = harness[i]["parent"]
        return False

    nodes = {}
    for i, s in harness.items():
        if under_root(i):
            nodes[f"h{i}"] = dict(kind=s["kind"], name=s["name"], start=s["start"],
                                  end=s["end"], rec=s,
                                  parent=None if i in roots else f"h{s['parent']}")
    spark = trace.get("spark") or {}

    def mid(r):
        return (r["start"] + r["end"]) / 2.0

    def valid(r):
        return not (math.isnan(r["start"]) or math.isnan(r["end"]))

    cands = [(k, n["start"], n["end"]) for k, n in nodes.items()]
    phases = [p for p in spark.get("phases", []) if valid(p)]
    for n, p in enumerate(sorted(phases, key=lambda r: (r["start"], -r["end"]))):
        parent = metrics.innermost_containing(cands, mid(p))
        if parent is not None:
            nodes[f"p{n}"] = dict(kind="phase", name=p["phase"], start=p["start"],
                                  end=p["end"], rec=p, parent=parent)
    cands = [(k, n["start"], n["end"]) for k, n in nodes.items()]
    job_of_stage = {}
    for j in spark.get("jobs", []):
        if not valid(j):
            continue
        parent = metrics.innermost_containing(cands, mid(j))
        if parent is None:
            continue
        nodes[f"j{j['job']}"] = dict(kind="job", name=str(j["job"]), start=j["start"],
                                     end=j["end"], rec=j, parent=parent)
        for st in j["stages"]:
            job_of_stage.setdefault(st, f"j{j['job']}")
    for st in spark.get("stages", []):
        parent = job_of_stage.get(st["stage"])
        if parent is not None and valid(st):
            nodes[f"s{st['stage']}.{st['attempt']}"] = dict(
                kind="stage", name=str(st["stage"]), start=st["start"], end=st["end"],
                rec=st, parent=parent)
    return nodes


def ancestors(nodes, k):
    p = nodes[k]["parent"]
    while p is not None:
        yield p
        p = nodes[p]["parent"]


def wall_s(n):
    return (n["end"] - n["start"]) / 1000.0


def phase_s(nodes, phase):
    """Seconds spent in one Catalyst phase: the union of its records'
    intervals, so a phase recorded inside another (a query planned while
    another is analysed) counts once."""
    spans = [(n["start"], n["end"]) for n in nodes.values()
             if n["kind"] == "phase" and n["name"] == phase]
    if not spans:
        return 0.0
    lo, hi = min(a for a, _ in spans), max(b for _, b in spans)
    return metrics.union_length(spans, lo, hi) / 1000.0


def analyze(raw, cores):
    """(metrics, nodes): every per-layer metric of a traced run, in
    seconds, bytes and counts, and the span tree they come from. Metrics
    of a layer the workload does not exercise read 0.
    """
    nodes = build_tree(raw["trace"])

    def of(kind):
        return [n for n in nodes.values() if n["kind"] == kind]

    def total(field, scale=1.0):
        return sum(n["rec"].get(field, 0) for n in of("stage")) * scale

    def jobs_under(kind):
        return [k for k, n in nodes.items() if n["kind"] == "job"
                and any(nodes[a]["kind"] == kind for a in ancestors(nodes, k))]

    by_layer = metrics.layer_times(
        {k: dict(parent=n["parent"], start=n["start"], end=n["end"],
                 layer=metrics.LAYER_OF_KIND[n["kind"]]) for k, n in nodes.items()})
    wall = sum(wall_s(n) for n in nodes.values() if n["parent"] is None)
    units = of("query") or of("batch")
    unit_wall = sum(wall_s(n) for n in units)

    m = {"trace.wall_s": wall,
         "trace.accounted_frac": sum(by_layer.values()) / 1000.0 / wall if wall else 0.0}
    for layer in ("bench", "driver", "queries", "plans", "scheduler", "functions", "streaming"):
        m[f"{layer}.self_s"] = by_layer.get(layer, 0.0) / 1000.0
    m["driver.other_s"] = m.pop("driver.self_s")

    m["queries.construct_s"] = sum(wall_s(n) for n in of("construct"))
    m["queries.construct_jobs"] = len(jobs_under("construct"))

    for phase in ("analysis", "optimization", "planning"):
        m[f"plans.{phase}_s"] = phase_s(nodes, phase)
    m["plans.codegen_compiles"] = sum(n["rec"].get("codegen_compiles", 0) for n in units)

    m["sources.scan_bytes"] = total("in_bytes")
    m["sources.scan_records"] = total("in_records")
    m["sources.files_discovered"] = sum(n["rec"].get("files_discovered", 0) for n in units)
    m["sources.file_cache_hits"] = sum(n["rec"].get("file_cache_hits", 0) for n in units)

    m["scheduler.jobs"] = len(of("job"))
    m["scheduler.stages"] = len(of("stage"))
    m["scheduler.tasks"] = total("tasks")
    # wall of each action (or stage call) during which no job ran
    job_spans = {}
    for j in (k for k, n in nodes.items() if n["kind"] == "job"):
        for a in ancestors(nodes, j):
            job_spans.setdefault(a, []).append((nodes[j]["start"], nodes[j]["end"]))
    m["scheduler.idle_s"] = sum(
        (n["end"] - n["start"]) - metrics.union_length(job_spans.get(k, []), n["start"], n["end"])
        for k, n in nodes.items() if n["kind"] in ("action", "stage_call")) / 1000.0
    m["scheduler.task_overhead_s"] = total("overhead_ms", 1e-3)

    m["functions.task_s"] = total("task_ms", 1e-3)
    m["functions.cpu_s"] = total("cpu_ns", 1e-9)
    m["functions.gc_s"] = total("gc_ms", 1e-3)
    m["functions.busy_frac"] = m["functions.task_s"] / (unit_wall * cores) if unit_wall else 0.0

    m["shuffle.write_bytes"] = total("sh_write_bytes")
    m["shuffle.read_bytes"] = total("sh_read_bytes")
    m["shuffle.fetch_wait_s"] = total("sh_fetch_wait_ms", 1e-3)
    m["shuffle.spill_bytes"] = total("spill_bytes")

    cached = [n["rec"] for n in nodes.values() if "cache_bytes" in n["rec"]]
    m["operators.cache_bytes"] = max((r["cache_bytes"] for r in cached), default=0)
    m["operators.cache_rdds"] = max((r["cache_rdds"] for r in cached), default=0)
    m["operators.store_bytes_written"] = total("out_bytes")
    m["operators.store_files"] = 0
    m["driver.gc_s"] = raw.get("driver_gc_s", 0.0)

    m.update({f"streaming.{s}_s": 0.0 for s in STAGES})
    m.update({"streaming.service_s": 0.0, "streaming.jobs_per_batch": 0.0,
              "streaming.index_rows": 0, "streaming.lag_s": 0.0,
              "streaming.local1_service_s": 0.0})

    if raw["workload"] == "adsb_dashboard":
        execs = raw["executions"]
        warm = {}
        for e in execs:
            if e["pass"] > 0:
                warm.setdefault(e["query"], []).append(e["wall_s"])
        warm_sum = sum(metrics.median(v) for v in warm.values())
        cold = sum(e["wall_s"] for e in execs if e["pass"] == 0)
        m["operators.cold_over_warm"] = cold / warm_sum if warm_sum else 0.0
        passes = [wall_s(n) for n in of("pass") if n["name"] != "pass0"]
        m["trace.overhead_s"] = (metrics.median(passes)
                                 - metrics.median(raw["untraced_pass_s"]))
        return m, nodes

    batches = raw["batches"]
    warm = [b["batch"] for b in batches if b["batch"] > 0]
    svc = metrics.median([b["service_s"] for b in batches if b["batch"] > 0])
    for s in STAGES:
        m[f"streaming.{s}_s"] = metrics.median([
            sum(wall_s(n) for n in of("stage_call")
                if n["name"] == s and nodes[n["parent"]]["name"] == f"batch{b}") for b in warm])
    m["streaming.service_s"] = svc
    m["streaming.jobs_per_batch"] = len(jobs_under("batch")) / len(batches)
    c = raw["checks"]
    m["streaming.index_rows"] = c["idx17_rows"] + c["idx14_rows"] + c["idx11_rows"]
    m["streaming.lag_s"] = max((b["start"] - b["due"]) / 1000.0 for b in batches)
    m["streaming.local1_service_s"] = raw.get("local1_service_s", 0.0)
    m["operators.store_files"] = batches[-1]["store"]["files"]
    m["operators.cold_over_warm"] = batches[0]["service_s"] / svc if svc else 0.0
    m["trace.overhead_s"] = svc - raw["untraced_batch_s"]
    return m, nodes


def write_trace(path, raw, per_layer, nodes):
    """The span tree as JSON: every span with its layer, self time and
    counters, beside the run's per-layer metrics and provenance."""
    selfs = metrics.self_times({k: dict(parent=n["parent"], start=n["start"], end=n["end"])
                                for k, n in nodes.items()})
    skip = ("id", "parent", "kind", "name", "start", "end")
    doc = {
        "workload": raw["workload"], "seed": raw["seed"], "provenance": raw["provenance"],
        "per_layer": per_layer,
        "spans": [dict(id=k, parent=n["parent"], kind=n["kind"], name=n["name"],
                       layer=metrics.LAYER_OF_KIND[n["kind"]], start_ms=n["start"],
                       end_ms=n["end"], self_s=selfs[k] / 1000.0,
                       **{f: v for f, v in n["rec"].items() if f not in skip})
                  for k, n in nodes.items()],
    }
    with open(path, "w") as f:
        json.dump(doc, f)
