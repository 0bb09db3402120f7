#!/usr/bin/env python3
"""Seeded end-to-end benchmark of the three product jobs.

    python3 perfbench/run.py --workload extract --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --workload all --seed 1

Builds the library and the benchmark's Scala code (perfbench/build.py), runs one
JVM with local[nproc] and one closed-loop caller, checks every output and
prints, as the last line of standard output, one JSON object with
`correct`, `attempted`, `failed` and `metrics`. Exit code 0 only when every
check passed. `--workload all` runs the three workloads one after another
and prints each workload's own metric names (see perfbench/README.md).
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

WORKLOADS = ["extract", "docs-dedup", "dedup-stream"]
# what --workload all prints: the workload's own names, in this order
NAMED = {
    "extract": ["turns_per_s", "resume_s"],
    "docs-dedup": ["clean_s", "keepers_s"],
    "dedup-stream": ["batch_p50_s", "batch_late_s", "state_bytes"],
}
JVM_TIMEOUT_S = 170
INPUTS = ["data/transcripts_t1", "data/transcripts_t2", "data/transcripts_bench",
          "src/test/resources/expected_t1.parquet",
          "src/test/resources/expected_t2.parquet"]


def log(msg):
    print(msg, file=sys.stderr, flush=True)


def java_cmd(main_args, work):
    opens = ["java.base/java.lang", "java.base/java.lang.invoke",
             "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
             "java.base/java.nio", "java.base/java.util",
             "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
             "java.base/sun.nio.ch", "java.base/sun.nio.cs",
             "java.base/sun.security.action", "java.base/sun.util.calendar"]
    cmd = ["java", "-Xmx3g", "-XX:+UseG1GC", "-XX:ReservedCodeCacheSize=512m",
           f"-Djava.io.tmpdir={work}/tmp", "-Dspark.ui.enabled=false",
           "-Dspark.sql.session.timeZone=UTC"]
    for p in opens:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    return cmd + ["-cp", build.classpath(), "perfbench.Main"] + main_args


def run_one(workload, seed, seconds, trace):
    """Runs one workload in its own JVM; returns the parsed result object."""
    work = os.path.join(build.OUT, "work", f"{workload}-{seed}-{trace}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    result_file = os.path.join(work, "result.json")
    t0 = time.time()
    cmd = java_cmd([workload, str(seed), str(seconds), str(trace), build.ROOT,
                    work, result_file], work)
    proc = subprocess.Popen(cmd, stdout=sys.stderr, stderr=sys.stderr, cwd=work)
    try:
        code = proc.wait(timeout=JVM_TIMEOUT_S)
        if code != 0 or not os.path.isfile(result_file):
            raise SystemExit(f"perfbench: {workload} JVM exited with {code}")
        with open(result_file) as fh:
            res = json.load(fh)
        if trace:
            keep = os.path.join(build.OUT, "traces", f"{workload}-{seed}.json")
            os.makedirs(os.path.dirname(keep), exist_ok=True)
            shutil.copyfile(os.path.join(work, "trace.json"), keep)
            log(f"perfbench: spans written to {os.path.relpath(keep, build.ROOT)}")
    except subprocess.TimeoutExpired:
        raise SystemExit(f"perfbench: {workload} exceeded {JVM_TIMEOUT_S} s")
    finally:
        # also on a timeout or a SIGTERM: never leave the JVM running
        if proc.poll() is None:
            proc.kill()
            proc.wait()
        shutil.rmtree(work, ignore_errors=True)
    log(f"perfbench: {workload} run took {time.time() - t0:.1f} s")
    return res


def show(workload, res):
    for name, m in list(res["metrics"].items()) + list(res["detail"].items()):
        print(f"{workload:>12}  {name:<32} {m['value']:>16.6g} {m['unit']}")


def main():
    # a SIGTERM unwinds through run_one's cleanup like an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=int, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()

    missing = [p for p in INPUTS if not os.path.exists(os.path.join(build.ROOT, p))]
    if missing:
        raise SystemExit(f"perfbench: inputs not found: {', '.join(missing)}")
    os.makedirs(build.OUT, exist_ok=True)
    build.build()

    if a.workload != "all":
        res = run_one(a.workload, a.seed, a.seconds, a.trace)
        show(a.workload, res)
        out = {k: res[k] for k in ("correct", "attempted", "failed", "metrics")}
    else:
        results = {w: run_one(w, a.seed, a.seconds, a.trace) for w in WORKLOADS}
        for w, res in results.items():
            show(w, res)
        attempted = sum(r["attempted"] for r in results.values())
        failed = sum(r["failed"] for r in results.values())
        setup = sorted(r["metrics"]["setup_s"]["value"] for r in results.values()
                       if "setup_s" in r["metrics"])
        metrics = {}
        if setup:
            metrics["setup_s"] = {"value": setup[len(setup) // 2], "unit": "s"}
        for w, names in NAMED.items():
            for n in names:
                if n in results[w]["detail"]:
                    metrics[n] = results[w]["detail"][n]
        metrics["failed_frac"] = {"value": failed / max(1, attempted), "unit": "ratio"}
        print("")
        for n, m in metrics.items():
            print(f"{n:<16} {m['value']:>16.6g} {m['unit']}")
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": attempted, "failed": failed, "metrics": metrics}
    print(json.dumps(out), flush=True)
    sys.exit(0 if out["correct"] else 1)


if __name__ == "__main__":
    main()
