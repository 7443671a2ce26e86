#!/usr/bin/env python3
"""graft benchmark runner.

  python3 benchmark/run.py --workload adsb_dashboard|stream_chain \
      --seed N --seconds S --trace 0|1

Builds graft and the harness from source (benchmark/harness/build.py),
generates the workload's inputs from the seed, runs the workload in one
JVM at local[nproc], checks its outputs, and prints a human summary
followed by one JSON line:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end metrics of BENCHMARK.json;
with --trace 1 they are its per-layer metrics, and the run's span tree
is written to .bench_out/<workload>.trace.json. See benchmark/README.md.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.join(HERE, "harness"))

import build  # noqa: E402
import gen_data  # noqa: E402
import layers  # noqa: E402
import metrics  # noqa: E402

WORKLOADS = ("adsb_dashboard", "stream_chain")
DEADLINE_S = 175.0
HEAP = "4g"
YOUNG = "512m"
# A fixed young generation and a fixed, low marking threshold: the old
# generation's garbage is reclaimed at the same occupancy on every run,
# so peak RSS follows retained data rather than GC timing.
GC_FLAGS = ["-XX:InitiatingHeapOccupancyPercent=20", "-XX:-G1UseAdaptiveIHOP"]
DATA_SF = 0.01         # dashboard inputs: the sf0.01 shape
WARM_SF = 0.001        # set-up warm-up inputs
STREAM_EXPECTED = os.path.join(HERE, "expected", "stream_chain_seed0.json")
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def fail(msg):
    print(f"[bench] {msg}", file=sys.stderr)
    sys.exit(2)


class Deadline:
    def __init__(self, seconds):
        self.end = time.monotonic() + seconds

    def left(self):
        return self.end - time.monotonic()


def run_proc(cmd, deadline, log, cwd=ROOT):
    """Runs `cmd` in its own process group; kills the group and fails
    when the run's deadline passes."""
    with open(log, "ab") as out:
        p = subprocess.Popen(cmd, cwd=cwd, stdout=out, stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            p.wait(timeout=max(1.0, deadline.left()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            tail(log)
            fail(f"{cmd[0]} overran the {DEADLINE_S:.0f} s run deadline")
    return p.returncode


def tail(log, n=40):
    try:
        with open(log, errors="replace") as f:
            lines = f.readlines()[-n:]
        sys.stderr.write("".join(lines))
    except OSError:
        pass


T0 = time.monotonic()


def note(what):
    print(f"[bench] {what} at {time.monotonic() - T0:.1f} s", file=sys.stderr)


def nproc():
    return len(os.sched_getaffinity(0))


def mem_total_kb():
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    return None


def git_sha():
    try:
        r = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                           text=True, timeout=10)
        return r.stdout.strip() if r.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        return None


def jvm(classes, work, argv, deadline, log):
    jars = os.path.join(build.spark_jars(), "*")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Xmx{HEAP}", f"-Xmn{YOUNG}", *GC_FLAGS, "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-cp", f"{classes}:{jars}", "graft.perfbench.Main"] + argv
    cmd += ["--launch-ms", f"{time.time() * 1000.0:.3f}"]
    return run_proc(cmd, deadline, log)


def run_jvm(classes, work, args, data, warm, deadline, log):
    out = os.path.join(work, "raw.json")
    argv = ["--workload", args.workload, "--cores", str(nproc()),
            "--seed", str(args.seed), "--seconds", str(args.seconds),
            "--trace", str(args.trace), "--data", data, "--warm-data", warm,
            "--work", os.path.join(work, "jvm"), "--out", out]
    rc = jvm(classes, work, argv, deadline, log)
    if rc != 0 or not os.path.exists(out):
        tail(log)
        fail(f"the JVM exited with {rc}")
    with open(out) as f:
        return json.load(f)


# --- adsb_dashboard ---------------------------------------------------------

def check_dashboard(raw, data, work, deadline):
    """Oracle verdict per query: None when it passed, else the reason."""
    checks = raw["checks"]
    verdict = {q: f"write failed: {e}" for q, e in checks["write_errors"].items()}
    queries = sorted({e["query"] for e in raw["executions"]})
    for q in queries:
        if q not in checks["oracle_queries"]:
            verdict.setdefault(q, "no DuckDB oracle")
    oracle = os.path.join(ROOT, "tools", "check_oracle.py")
    chk_log = os.path.join(work, "oracle.log")
    run_proc([sys.executable, oracle, data, checks["outputs"]] + queries, deadline, chk_log)
    seen = set()
    with open(chk_log, errors="replace") as f:
        for line in f:
            if line.startswith("PASS "):
                seen.add(line.split()[1])
            elif line.startswith("FAIL "):
                name = line.split()[1].rstrip(":")
                seen.add(name)
                verdict.setdefault(name, line.strip())
    for q in queries:
        if q not in seen:
            verdict.setdefault(q, "not checked by the oracle")
    return {q: verdict.get(q) for q in queries}


def dashboard_metrics(raw, verdict):
    execs = raw["executions"]
    ok = [e for e in execs if e["ok"] and verdict.get(e["query"]) is None]
    failed = len(execs) - len(ok)
    cold = {e["query"]: e["wall_s"] for e in ok if e["pass"] == 0}
    warm_by_q = {}
    for e in ok:
        if e["pass"] > 0:
            warm_by_q.setdefault(e["query"], []).append(e["wall_s"])
    warm_samples = [w for ws in warm_by_q.values() for w in ws]
    warm_med = {q: metrics.median(ws) for q, ws in warm_by_q.items()}
    tail_p = metrics.tail_percentile(warm_samples) if warm_samples else None
    e2e = {
        "cold_s": sum(cold.values()),
        "warm_s": sum(warm_med.values()),
        "latency_p50_s": metrics.median(warm_samples) if warm_samples else 0.0,
        "latency_tail_s": tail_p[1] if tail_p else 0.0,
        "live_heap_mb": raw["live_heap_mb"],
    }
    info = {
        "cold_s": e2e["cold_s"], "warm_s": e2e["warm_s"],
        "warm_p50_s": e2e["latency_p50_s"],
        f"warm_p{tail_p[0] if tail_p else 0}_s": e2e["latency_tail_s"],
        "warm_samples": len(warm_samples), "passes": raw["passes"],
        "failed_frac": failed / len(execs) if execs else 1.0,
        "peak_rss_mb": raw["peak_rss_mb"], "live_heap_mb": raw["live_heap_mb"],
    }
    per_query = {q: {"cold_s": cold.get(q), "warm_median_s": warm_med.get(q),
                     "check": verdict.get(q) or "ok"} for q in sorted(verdict)}
    return e2e, info, len(execs), failed, per_query


# --- stream_chain -----------------------------------------------------------

def check_stream(raw, seed):
    """Failed batches (index -> reason) from the chain's invariants and,
    for seed 0, the per-batch stage counts StreamChainBench prints."""
    batches = raw["batches"]
    c = raw["checks"]
    bad = {}
    rows = raw["rows_per_batch"]
    after_band = {int(k): v for k, v in c["after_band"].items()}
    footers = {int(k): v for k, v in c["footers_kept"].items()}
    for b in batches:
        k = b["batch"]
        if not b["ok"]:
            bad[k] = b["error"] or "failed"
            continue
        chain = b["counts"] + [after_band.get(k, 0)]
        if chain[0] != rows or chain[1] != rows:
            bad[k] = f"J17 dropped documents: {chain[:2]}"
        elif any(x < y for x, y in zip(chain, chain[1:])):
            bad[k] = f"stage counts grew along the chain: {chain}"
        elif footers.get(k, 0) != (3 if k == 0 else 0):
            bad[k] = f"footers kept {footers.get(k, 0)}"
    ran = [b for b in batches if b["ok"]]
    fed = len(ran) + raw.get("extra_batches", 0)
    glob = []
    if c["idx17_rows"] != fed * rows + 3:
        glob.append(f"idx17 rows {c['idx17_rows']} != {fed * rows + 3}")
    if c["canonicals"] != c["all_docs"] - c["paired"] + c["groups"]:
        glob.append("canonical conservation broke")
    if c["canonicals"] > c["final_survivors"]:
        glob.append("more canonicals than J11 survivors")
    if seed == 0:
        with open(STREAM_EXPECTED) as f:
            exp = json.load(f)
        names = ["in", "after_para", "after_quality", "after_mix", "after_bloom",
                 "after_substr", "after_band"]
        for b in ran:
            k = b["batch"]
            got = b["counts"] + [after_band.get(k, 0)]
            want = [exp[n][k] for n in names]
            if got != want:
                bad.setdefault(k, f"seed-0 stage counts {got} != {want}")
    if glob:
        for b in batches:
            bad.setdefault(b["batch"], "; ".join(glob))
    return bad


def stream_metrics(raw, bad):
    batches = raw["batches"]
    ok = [b for b in batches if b["batch"] not in bad]
    rows, interval = raw["rows_per_batch"], raw["interval_s"]
    cold = [b["service_s"] for b in ok if b["batch"] == 0]
    warm = [b["service_s"] for b in ok if b["batch"] > 0]
    lat = metrics.emit_latencies([b["due"] / 1000.0 for b in ok],
                                 [b["done"] / 1000.0 for b in ok], interval, rows)
    warm_s = metrics.median(warm) if warm else 0.0
    e2e = {
        "cold_s": cold[0] if cold else 0.0,
        "warm_s": warm_s,
        "latency_p50_s": metrics.median(lat) if lat else 0.0,
        "latency_tail_s": metrics.percentile(lat, 99) if lat else 0.0,
        "live_heap_mb": raw["live_heap_mb"],
    }
    info = {
        "emit_lat_p50_s": e2e["latency_p50_s"], "emit_lat_p99_s": e2e["latency_tail_s"],
        "capacity_rows_per_s": rows / warm_s if warm_s else 0.0,
        "cold_batch_s": e2e["cold_s"], "warm_batch_s": warm_s,
        "batches": len(batches), "rows_per_batch": rows, "interval_s": interval,
        "input_rows_per_s": rows / interval,
        "max_lag_s": max(((b["start"] - b["due"]) / 1000.0 for b in batches), default=0.0),
        "failed_frac": (len(batches) - len(ok)) / len(batches) if batches else 1.0,
        "peak_rss_mb": raw["peak_rss_mb"], "live_heap_mb": raw["live_heap_mb"],
    }
    return e2e, info, len(batches), len(batches) - len(ok), {"failed_batches": bad}


# --- main ---------------------------------------------------------------------

def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=0)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    deadline = Deadline(DEADLINE_S)

    spec_path = os.path.join(ROOT, "BENCHMARK.json")
    for need in (spec_path, os.path.join(ROOT, "src", "main", "scala"),
                 os.path.join(ROOT, "tools", "check_oracle.py")):
        if not os.path.exists(need):
            fail(f"not a graft checkout: {os.path.relpath(need, ROOT)} is missing")
    with open(spec_path) as f:
        spec = json.load(f)

    classes = build.build(os.path.join(ROOT, ".bench_build"))
    note("build ready")
    work = os.path.join(ROOT, ".bench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    log = os.path.join(work, "jvm.log")
    try:
        data = warm = ""
        if args.workload == "adsb_dashboard":
            data, warm = os.path.join(work, "data"), os.path.join(work, "warm")
            gen_data.generate(data, args.seed, DATA_SF)
            gen_data.generate(warm, args.seed, WARM_SF)
        note("inputs generated")
        raw = run_jvm(classes, work, args, data, warm, deadline, log)
        note("JVM done")
        if args.workload == "adsb_dashboard":
            verdict = check_dashboard(raw, data, work, deadline)
            note("oracle checked")
            e2e, info, attempted, failed, detail = dashboard_metrics(raw, verdict)
        else:
            bad = check_stream(raw, args.seed)
            e2e, info, attempted, failed, detail = stream_metrics(raw, bad)
        e2e["setup_s"] = raw["setup_s"]
        provenance = dict(raw["provenance"], nproc=nproc(), mem_total_kb=mem_total_kb(),
                          git_sha=git_sha(), source_digest=build.digest(build.sources()),
                          seed=args.seed, seconds=args.seconds,
                          data_files={f: os.path.getsize(os.path.join(data, f))
                                      for f in sorted(os.listdir(data))} if data else {})
        if args.trace:
            source, nodes = layers.analyze(raw, nproc())
            trace_path = os.path.join(ROOT, ".bench_out", f"{args.workload}.trace.json")
            os.makedirs(os.path.dirname(trace_path), exist_ok=True)
            layers.write_trace(trace_path, raw, source, nodes)
            wanted = spec["per_layer"]
        else:
            source, wanted = e2e, spec["end_to_end"]
        out = {m["name"]: {"value": source[m["name"]], "unit": m["unit"]} for m in wanted}
        summary = {"workload": args.workload, "seed": args.seed, "trace": args.trace,
                   "metrics": info, "detail": detail,
                   "provenance": provenance}
        if args.trace:
            summary["trace_path"] = trace_path
        os.makedirs(os.path.join(ROOT, ".bench_out"), exist_ok=True)
        with open(os.path.join(ROOT, ".bench_out", f"{args.workload}.json"), "w") as f:
            json.dump(summary, f, indent=1)
        for k, v in info.items():
            print(f"{args.workload} {k} = {v}")
        if args.trace:
            for k in sorted(source):
                print(f"{args.workload} {k} = {source[k]}")
        print(f"{args.workload} setup_s = {e2e['setup_s']}")
        print(f"{args.workload} output check: {'ok' if failed == 0 else f'{failed} failed'}")
        print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                          "metrics": out}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
