"""The repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads, their committed entry lists and the map from per-layer metrics
to the end-to-end metrics they should move are in ``perfbench/workloads.json``;
``BENCHMARK.json`` at the repository root lists the metrics.

The run builds the input tables on first use (``.perfbench/data``, from a
fixed seed), starts ``worker.py`` in a fresh process with every temporary
directory inside ``.perfbench/run``, waits for it, stops whatever it left
running, and prints the workload's named metrics with their units and sample
counts, the correctness verdict, and as the last line one JSON object with
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end metrics
with ``--trace 0``, the per-layer metrics with ``--trace 1``.

``--seed`` fixes the catalog entry order and the live request payloads.
``--seconds`` is the length of the live-dashboard window; a catalog run is one
pass over its fixed entry list, whatever ``--seconds`` says.

A traced run also writes ``.perfbench/traces/<workload>-seed<N>.json``: its
spans with self times, per-entry execution metrics from the Spark event log,
and its overhead against the untraced runs of the same workload recorded in
``.perfbench/results.jsonl``.  Every run appends its metrics there together
with host facts and the load average before and after it.
"""

from __future__ import annotations

import argparse
import ctypes
import importlib.metadata
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG_DIR = os.path.join(ROOT, "modelorecomendacion_analisisspark_streaming_mas_spark")
STATE = os.path.join(ROOT, ".perfbench")
# Allowance for the worker's set-up, checks and shutdown; the live window
# (--seconds) comes on top.
WORKER_TIMEOUT_S = 150
PR_SET_CHILD_SUBREAPER = 36


def fail(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def children() -> list[int]:
    """Live direct children of this process (orphans included, as the
    process is a child subreaper)."""
    me, out = os.getpid(), []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == me and fields[0] != "Z":
            out.append(int(d))
    return out


def reap_all() -> None:
    """Stop every process the worker left behind (the JVM, Python workers)
    and wait until each has ended."""
    for sig, grace in ((signal.SIGTERM, 5.0), (signal.SIGKILL, 5.0)):
        pids = children()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + grace
        while time.time() < deadline and children():
            time.sleep(0.05)
        # collect exit statuses, zombies included
        while True:
            try:
                pid, _ = os.waitpid(-1, os.WNOHANG)
            except ChildProcessError:
                break
            if pid == 0:
                break
    if children():
        raise RuntimeError(f"processes still running: {children()}")


def cpu_times() -> list[int]:
    """Aggregate CPU jiffies from /proc/stat: user nice system idle iowait
    irq softirq steal ..."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def host_facts() -> dict:
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "pyspark": importlib.metadata.version("pyspark"),
        "duckdb": importlib.metadata.version("duckdb"),
    }


def overhead(record: dict, history: str) -> dict:
    """The traced run's end-to-end metrics against the median of the
    untraced runs of the same workload recorded so far."""
    base: dict[str, list[float]] = {}
    if os.path.exists(history):
        with open(history) as f:
            for line in f:
                r = json.loads(line)
                if r["workload"] == record["workload"] and not r["trace"]:
                    for k, v in r["end_to_end"].items():
                        base.setdefault(k, []).append(v)
    out = {}
    for k, v in record["end_to_end"].items():
        if base.get(k):
            m = statistics.median(base[k])
            out[k] = {"traced": v, "untraced_median": m, "untraced_runs": len(base[k]),
                      "overhead_pct": (v / m - 1) * 100 if m else None}
    return out


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    if not os.path.isdir(PKG_DIR):
        fail(f"engine package not found at {os.path.relpath(PKG_DIR, ROOT)}; run from a full checkout")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(HERE, "workloads.json")) as f:
        cfg = json.load(f)["workloads"].get(args.workload)
    if cfg is None:
        fail(f"unknown workload {args.workload!r}")
    if args.seconds < 1:
        fail("--seconds must be at least 1")
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        fail("cannot become a child subreaper, so the run could not stop what it starts")

    sys.path.insert(0, HERE)
    import datagen

    data = os.path.join(STATE, "data")
    for sf in sorted({e["sf"] for e in cfg.get("entries", [])} | ({cfg["sf"]} if "sf" in cfg else set())):
        datagen.ensure_tables(data, sf)
    run_dir = os.path.join(STATE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    env = dict(os.environ)
    env.update(
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "spark-local"),
        TMPDIR=tmp,
        # -XX:-UsePerfData: the JVM would otherwise write /tmp/hsperfdata_*
        JAVA_TOOL_OPTIONS=(env.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData").strip(),
    )
    out_path = os.path.join(run_dir, "result.json")
    log_path = os.path.join(run_dir, "worker.log")
    load_before, cpu_before = os.getloadavg(), cpu_times()
    with open(log_path, "w") as log:
        worker = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "worker.py"),
             "--workload", args.workload, "--seed", str(args.seed),
             "--seconds", str(args.seconds), "--trace", str(args.trace),
             "--data", data, "--work", run_dir, "--out", out_path],
            cwd=run_dir, env=env, stdout=log, stderr=subprocess.STDOUT,
        )
        try:
            rc = worker.wait(timeout=WORKER_TIMEOUT_S + args.seconds)
        except subprocess.TimeoutExpired:
            worker.kill()
            worker.wait()
            rc = "timeout"
    reap_all()
    load_after = os.getloadavg()
    # Share of CPU time the hypervisor gave to other guests during the run.
    delta = [b - a for a, b in zip(cpu_before, cpu_times())]
    steal_pct = 100 * delta[7] / sum(delta) if sum(delta) else 0.0
    if rc != 0 or not os.path.exists(out_path):
        with open(log_path) as f:
            tail = f.read()[-4000:]
        print(tail, file=sys.stderr)
        fail(f"worker ended with {rc}; log: {os.path.relpath(log_path, ROOT)}")
    with open(out_path) as f:
        res = json.load(f)

    record = {
        "time": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds, "trace": args.trace,
        "host": host_facts(), "loadavg_before": load_before, "loadavg_after": load_after,
        "cpu_steal_pct": steal_pct,
        "correct": res["correct"], "attempted": res["attempted"], "failed": res["failed"],
        "end_to_end": {m["name"]: res["contract"][m["name"]] for m in bench["end_to_end"]},
        "named": {k: v["value"] for k, v in res["e2e"].items()},
    }
    if "entries" in res:
        record["entry_wall_s"] = {e["name"]: e["wall_s"] for e in res["entries"]}
    history = os.path.join(STATE, "results.jsonl")
    if args.trace:
        record["per_layer"] = res["per_layer"]
        record["overhead"] = overhead(record, history)
        trace_dir = os.path.join(STATE, "traces")
        os.makedirs(trace_dir, exist_ok=True)
        trace_path = os.path.join(trace_dir, f"{args.workload}-seed{args.seed}.json")
        with open(trace_path, "w") as f:
            json.dump({**record, "self_times": res["self_times"], "exec_windows": res["exec_windows"],
                       "entries": res.get("entries"), "spans": res["spans"]}, f, indent=1)
    with open(history, "a") as f:
        f.write(json.dumps(record) + "\n")

    print(f"workload {args.workload}  seed {args.seed}  trace {args.trace}  host {record['host']}")
    print(f"load average before {load_before[0]:.2f}  after {load_after[0]:.2f}  cpu steal {steal_pct:.1f}%")
    for name, m in res["e2e"].items():
        beyond = f", {m['beyond']} beyond" if "beyond" in m else ""
        value = float("nan") if m["value"] is None else m["value"]
        print(f"  {name:24s} {value:12.4f} {m['unit']:6s} ({m['samples']} samples{beyond})")
    if args.trace:
        for name, o in record["overhead"].items():
            print(f"  trace overhead {name:16s} {o['overhead_pct']:+.1f}% vs {o['untraced_runs']} untraced runs")
        print(f"  per-layer trace: {os.path.relpath(trace_path, ROOT)}")
    bad = [c for c in res["checks"] if not c["ok"]]
    print(f"correctness: {'PASS' if res['correct'] else 'FAIL'}"
          f" ({res['failed']} of {res['attempted']} operations failed)")
    for c in bad:
        print(f"  FAIL {c['op']}: {c['detail']}")

    if args.trace:
        # a layer the workload does not exercise reads 0
        metrics = {m["name"]: {"value": res["per_layer"].get(m["name"], 0), "unit": m["unit"]}
                   for m in bench["per_layer"]}
    else:
        metrics = {m["name"]: {"value": res["contract"][m["name"]], "unit": m["unit"]} for m in bench["end_to_end"]}
    print(json.dumps({"correct": res["correct"], "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))


if __name__ == "__main__":
    main()
