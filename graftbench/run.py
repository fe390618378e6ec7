#!/usr/bin/env python3
"""Runs one benchmark workload and prints its result as the last line.

    python3 graftbench/run.py --workload dedup --seed 1 --seconds 15 --trace 0

Run from the root of a checkout. The first run builds the program and the
benchmark (see build.py). The JVM runs Spark at local[nproc] with a fixed
heap; every file it writes stays under .bench_build/ in the checkout.
With --trace 0 the result holds the end-to-end metrics of BENCHMARK.json,
with --trace 1 its per-layer metrics. The run's context (commit or source
digest, nproc, loadavg before and after, heap, Spark conf) is printed on
the line before the result and kept in .bench_build/results/.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True
import build  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s
WORKLOADS = ("dedup", "search")


def loadavg():
    try:
        with open("/proc/loadavg") as f:
            return [float(x) for x in f.read().split()[:3]]
    except OSError:
        return None


def steal_s():
    """Seconds of CPU time the host took from this machine (all CPUs)."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")
    except (OSError, IndexError, ValueError):
        return None


def commit():
    try:
        out = subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                             text=True, timeout=10)
        return out.stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def expected_metrics(trace):
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    started = time.monotonic()

    try:
        jar, archive, tag, build_s = build.build()
    except build.BuildError as e:
        fail(f"build failed: {e}")
    started = time.monotonic() if build_s > 0 else started  # the build has its own budget

    name = f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}"
    work = os.path.join(build.OUT, "runs", name)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    out = os.path.join(work, "result.json")
    log = os.path.join(work, "jvm.log")
    nproc = os.cpu_count() or 1
    cmd = build.jvm_command(jar, archive, work, [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--out", out, "--cores", str(nproc)])

    load_before = loadavg()
    steal_before = steal_s()
    with open(log, "w") as logf:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=logf, stderr=subprocess.STDOUT)
        timer = threading.Timer(max(1.0, DEADLINE_S - (time.monotonic() - started)), proc.kill)
        timer.start()
        try:
            _, status, usage = os.wait4(proc.pid, 0)
        finally:
            timer.cancel()
            proc.returncode = os.waitstatus_to_exitcode(status)
    load_after = loadavg()
    steal_after = steal_s()

    def keep_log():
        dst = os.path.join(build.OUT, "results", name + ".log")
        os.makedirs(os.path.dirname(dst), exist_ok=True)
        shutil.copy(log, dst)
        return dst

    if proc.returncode != 0 or not os.path.exists(out):
        kept = keep_log()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"workload JVM exited with {proc.returncode}; log in {kept}", 3)

    with open(out) as f:
        res = json.load(f)
    metrics = res["metrics"]
    if not a.trace:
        metrics["peak_rss_mb"] = {"value": usage.ru_maxrss / 1024.0, "unit": "MB"}
    want = expected_metrics(a.trace)
    got = {k: v["unit"] for k, v in metrics.items()}
    if got != want:
        keep_log()
        shutil.rmtree(work, ignore_errors=True)
        fail(f"metrics differ from BENCHMARK.json: missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, "
             f"unit mismatches {sorted(k for k in want if k in got and want[k] != got[k])}", 3)

    context = dict(res.get("context", {}))
    context.update({
        "commit": commit(), "source_digest": tag, "nproc": nproc, "xmx": build.XMX,
        "class_data_sharing": archive is not None,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "steal_s": None if steal_before is None or steal_after is None
        else round(steal_after - steal_before, 2),
        "build_s": round(build_s, 3), "wall_s": round(time.monotonic() - started, 3),
    })
    results = os.path.join(build.OUT, "results")
    os.makedirs(results, exist_ok=True)
    with open(os.path.join(results, name + ".json"), "w") as f:
        json.dump({"context": context, "result": res}, f, indent=1)
    spans = os.path.join(work, "spans.json")
    if os.path.exists(spans):
        shutil.copy(spans, os.path.join(results, name + ".spans.json"))
    shutil.rmtree(work, ignore_errors=True)

    print(json.dumps({"context": context}))
    print(json.dumps({"correct": bool(res["correct"]), "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


if __name__ == "__main__":
    main()
