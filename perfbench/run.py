#!/usr/bin/env python3
"""graft's benchmark: one workload, one seed, one run.

Usage (from the root of a checkout):
  python3 perfbench/run.py --workload <suite|serve> --seed <n>
                           --seconds <s> --trace <0|1>

Builds the engine and the harness from source on first use (sbt, into
the checkout), runs the workload in its own JVM, checks the outputs,
writes the full record to .bench_build/perfbench/artifacts/ and prints
one JSON summary as the last line of stdout: the end-to-end metrics
with --trace 0, the per-layer metrics with --trace 1. Library output
goes to a log file next to the artifact, never to stdout.
"""
import argparse
import hashlib
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
import oracle  # noqa: E402
import perfstats  # noqa: E402

STATE = os.path.join(ROOT, os.environ.get("CARGO_TARGET_DIR") or ".bench_build", "perfbench")
DEADLINE_S = 170
OPENS = [f"java.base/{p}" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]
HEAP = "3g"
# OrganicCorpus scale factor per workload: suite ≈ 500 docs and 60k
# lineitem rows; serve ≈ 1k documents and 1k 64-d vectors
SCALE = {"suite": 0.01, "serve": 0.02}


def die(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, to reuse a finished build."""
    h = hashlib.sha256()
    for top in ("build.sbt", "project", "src", "perfbench/build.sbt", "perfbench/project",
                "perfbench/src"):
        base = os.path.join(ROOT, top)
        paths = [base] if os.path.isfile(base) else sorted(
            os.path.join(d, f) for d, dirs, fs in os.walk(base) for f in fs
            if "target" not in os.path.relpath(d, base).split(os.sep))
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def build():
    """Compile engine + harness once per source state; returns the classpath."""
    for need in ("build.sbt", "src/main/scala", "perfbench/build.sbt"):
        if not os.path.exists(os.path.join(ROOT, need)):
            die(f"no {need} in {ROOT}: the benchmark builds the engine from its source")
    os.makedirs(STATE, exist_ok=True)
    stamp_file = os.path.join(STATE, "classpath.json")
    stamp = source_stamp()
    if os.path.exists(stamp_file):
        with open(stamp_file) as f:
            cached = json.load(f)
        if cached.get("stamp") == stamp:
            return cached["classpath"]
    log = os.path.join(STATE, "build.log")
    with open(log, "w") as out:
        proc = subprocess.run(
            ["sbt", "--batch", "-Dsbt.log.noformat=true", "-Dsbt.server.autostart=false",
             "compile", "export Runtime/fullClasspath"],
            cwd=HERE, stdout=out, stderr=subprocess.STDOUT, stdin=subprocess.DEVNULL,
            timeout=800)
    lines = open(log).read().splitlines()
    if proc.returncode != 0 or not lines:
        die(f"build failed, see {log}")
    cp = lines[-1].strip()
    if "perfbench" not in cp or ":" not in cp:
        die(f"no classpath in build output, see {log}")
    with open(stamp_file, "w") as f:
        json.dump({"stamp": stamp, "classpath": cp}, f)
    return cp


def run_jvm(cp, args, work, log_path, budget_s):
    """Runs the harness in its own process group and waits for it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [x for p in OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")] + [
        f"-Xmx{HEAP}", f"-Djava.io.tmpdir={tmp}", "-Dspark.ui.enabled=false",
        "-cp", cp, "perfbench.Main"] + args
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        try:
            return proc.wait(timeout=budget_s)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            die(f"harness exceeded {budget_s:.0f} s, see {log_path}")
        finally:
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()


def check_repeat(workload, seed, sf, outputs):
    """A seed's query outputs (row count, content hash) must repeat
    across runs in this checkout."""
    path = os.path.join(STATE, "expected", f"{workload}-sf{sf}-seed{seed}.json")
    if os.path.exists(path):
        with open(path) as f:
            want = json.load(f)
        return [f"{k}: (rows, hash) {outputs.get(k)}, earlier run {v}"
                for k, v in want.items() if outputs.get(k) != v]
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as f:
        json.dump(outputs, f)
    return []


def main():
    t_start = time.time()
    # a terminated run still stops its JVM (run_jvm's finally)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(1))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SCALE))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    sf = SCALE[a.workload]

    cp = build()
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}"
    work = os.path.join(STATE, "work", tag)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    arts = os.path.join(STATE, "artifacts")
    os.makedirs(arts, exist_ok=True)
    rec_path = os.path.join(work, "record.json")
    args = ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
            "--trace", str(a.trace), "--sf", str(sf), "--work", work, "--out", rec_path]
    budget = DEADLINE_S - (time.time() - t_start) - 15
    if budget < 30:
        budget = DEADLINE_S  # the first run also paid for the build
    code = run_jvm(cp, args, work, os.path.join(arts, f"{tag}.log"), budget)
    if code != 0 or not os.path.exists(rec_path):
        die(f"harness exited {code}, see {arts}/{tag}.log")
    with open(rec_path) as f:
        rec = json.load(f)
    if "fatal" in rec:
        die(f"harness failed: {rec['fatal']}")

    problems = []
    facts = rec["workload_facts"]
    if a.workload == "suite":
        problems += oracle.compare(facts["corpus_dir"], facts["oracle_dir"], facts["oracle_sql"])
        problems += check_repeat(a.workload, a.seed, sf, facts["digests"])
    reqs = rec["trace"]["requests"]
    attempted, failed = perfstats.fail_counts(reqs)
    # a failed whole-run check counts as one more failed operation, and
    # each kernel measurement (traced runs) as one operation
    attempted += len(problems) + len(facts.get("kernels", {}))
    problems += perfstats.kernel_problems(rec)
    failed += len(problems)
    e2e, run_facts = perfstats.end_to_end(rec)
    summary = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
               "end_to_end": {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()},
               "run": run_facts, "workload_view": perfstats.workload_view(rec),
               "problems": problems + [r["error"] for r in reqs if r.get("error")],
               "env": rec["env"], "loadavg_before": rec["loadavg_before"],
               "loadavg_after": rec["loadavg_after"], "setup_s": rec["setup_s"],
               "pass_s": rec["pass_s"], "maintenance_s": rec["maintenance_s"],
               "setup_cold_s": rec["setup_cold_s"], "generate_s": rec["generate_s"]}
    if a.trace:
        summary["per_layer"] = perfstats.per_layer(rec)
        summary["decomposition"] = perfstats.decompose(rec)
        untraced = os.path.join(arts, f"{a.workload}-seed{a.seed}-trace0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["summary"]["end_to_end"]
            summary["tracing_overhead"] = {
                k: summary["end_to_end"][k]["value"] / base[k]["value"] - 1
                for k in base if k in summary["end_to_end"] and base[k]["value"]}
    with open(os.path.join(arts, f"{tag}.json"), "w") as f:
        json.dump({"summary": summary, "record": rec}, f)
    shutil.rmtree(work, ignore_errors=True)

    if a.trace:
        metrics = {k: {"value": v, "unit": perfstats.unit_of(k)}
                   for k, v in summary["per_layer"].items()}
    else:
        metrics = summary["end_to_end"]
    for p in summary["problems"][:20]:
        print(f"perfbench: {p}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
