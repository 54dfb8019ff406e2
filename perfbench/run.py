#!/usr/bin/env python3
"""Extraction benchmark: one workload, one seed, one measuring JVM.

    python3 perfbench/run.py --workload crawl_mix --seed 1 --seconds 10 --trace 0

Run from the repository root. Builds the program and the benchmark from
source on first use (sbt, offline), runs graft.perfbench.BenchMain, checks
the pinned input/output fingerprints, records the host, and prints every
metric by name with its unit. The last line of standard output is the JSON
result; the exit code is non-zero when any output check fails. See
perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import pathlib
import signal
import subprocess
import sys
import time

BENCH = pathlib.Path(__file__).resolve().parent
ROOT = BENCH.parent
WORK = BENCH / ".work"
CLASSPATH = WORK / "classpath.txt"
STAMP = WORK / "build.stamp"
RUN_LIMIT_S = 175          # one run must end within 180 s
BUILD_LIMIT_S = 700        # the first run of a checkout may take 900 s
JVM_HEAP = "3g"
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Digest of every file the build reads, so a changed source rebuilds."""
    h = hashlib.sha256()
    roots = [ROOT / "src" / "main", BENCH / "src" / "main"]
    files = [BENCH / "build.sbt", BENCH / "project" / "build.properties"]
    for r in roots:
        files += sorted(p for p in r.rglob("*") if p.is_file())
    for p in files:
        h.update(str(p.relative_to(ROOT)).encode())
        h.update(p.read_bytes())
    return h.hexdigest()


def build(stamp):
    """Compiles program + benchmark with sbt unless this source is built."""
    if STAMP.exists() and CLASSPATH.exists() and STAMP.read_text() == stamp:
        return False
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + str(pathlib.Path.home() / ".sbt" / "repositories") +
                   " -Dsbt.offline=true -Xmx2g")
    (WORK / "tmp").mkdir(parents=True, exist_ok=True)
    env["SBT_OPTS"] += f" -Dsbt.server.autostart=false -XX:-UsePerfData -Djava.io.tmpdir={WORK / 'tmp'}"
    cmd = ["sbt", "--batch", "-Dsbt.log.noformat=true", "compile", "export Runtime/fullClasspath"]
    proc = subprocess.Popen(cmd, cwd=BENCH, env=env, stdout=subprocess.PIPE,
                            stderr=subprocess.STDOUT, text=True, start_new_session=True)
    try:
        out, _ = proc.communicate(timeout=BUILD_LIMIT_S)
    except subprocess.TimeoutExpired:
        fail("build timed out")
    finally:
        if proc.poll() is None:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
    if proc.returncode != 0:
        sys.stderr.write(out[-4000:])
        fail("build failed")
    cp = [line for line in out.splitlines() if "scala-2.13/classes" in line and ":" in line]
    if not cp:
        fail("build did not report a classpath")
    CLASSPATH.write_text(cp[-1].strip())
    STAMP.write_text(stamp)
    return True


def meminfo_kb():
    try:
        for line in open("/proc/meminfo"):
            if line.startswith("MemTotal:"):
                return int(line.split()[1])
    except OSError:
        pass
    return None


def cpu_ticks():
    """Aggregate (total, steal) jiffies from /proc/stat, or None."""
    try:
        with open("/proc/stat") as f:
            vals = [int(v) for v in f.readline().split()[1:]]
        return sum(vals[:8]), vals[7]
    except (OSError, ValueError, IndexError):
        return None


def commit():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True,
                              text=True, timeout=10).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        return None


def run_jvm(args, limit_s, spans):
    work = WORK / f"run-{os.getpid()}"        # BenchMain deletes it when done
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    opts = [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS]
    cmd = (["java", f"-Xms{JVM_HEAP}", f"-Xmx{JVM_HEAP}", "-XX:-UsePerfData",
            "-Djava.awt.headless=true", f"-Djava.io.tmpdir={tmp}"]
           + opts + ["-cp", CLASSPATH.read_text(), "graft.perfbench.BenchMain",
                     "--workload", args.workload, "--seed", str(args.seed),
                     "--seconds", str(args.seconds), "--trace", str(args.trace),
                     "--work", str(work), "--spans", str(spans)])
    if args.pages:
        cmd += ["--pages", str(args.pages)]
    log = WORK / "logs" / f"{args.workload}-seed{args.seed}-trace{args.trace}.log"
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        proc = subprocess.Popen(cmd, cwd=ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                                start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=limit_s)
        except subprocess.TimeoutExpired:
            fail(f"measuring process exceeded {limit_s:.0f} s (log: {log})")
        finally:
            # also on SIGTERM/SIGINT: never leave the JVM behind
            if proc.poll() is None:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
    lines = [l for l in out.splitlines() if l.startswith("PERFBENCH_RESULT ")]
    if proc.returncode != 0 or not lines:
        sys.stderr.write("".join(open(log).readlines()[-40:]))
        fail(f"measuring process exited with {proc.returncode} (log: {log})")
    return json.loads(lines[-1][len("PERFBENCH_RESULT "):])


def pinned_problems(res, args):
    """Compares fingerprints with perfbench/pinned.json: the canary always,
    the staged input and the output when the run uses the pinned seed."""
    pin = json.loads((BENCH / "pinned.json").read_text())
    w = pin["workloads"].get(args.workload)
    if w is None:
        return [f"no pinned fingerprints for {args.workload}"]
    inp = res["input"]
    probs = []
    if inp["canary"] != w["canary"]:
        probs.append(f"canary fingerprint {inp['canary']} != pinned {w['canary']}: "
                     "the workload's page generator changed")
    if args.seed == pin["seed"] and not args.pages:
        if inp["fingerprint"] != w["input"]:
            probs.append(f"input fingerprint {inp['fingerprint']} != pinned {w['input']}")
        if res["output"] != w["output"]:
            probs.append(f"output {res['output']} != pinned {w['output']}")
    return probs


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--pages", type=int, default=0, help="input size override (self-tests only)")
    args = ap.parse_args()
    t0 = time.monotonic()

    if not (ROOT / "src" / "main" / "scala").is_dir() or not (ROOT / "BENCHMARK.json").is_file():
        fail(f"program sources or BENCHMARK.json not found under {ROOT}")
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    WORK.mkdir(parents=True, exist_ok=True)
    stamp = source_stamp()
    built = build(stamp)

    load_before = os.getloadavg()
    ticks_before = cpu_ticks()
    spans = WORK / "spans" / f"{args.workload}-seed{args.seed}-trace{args.trace}.jsonl"
    spans.parent.mkdir(parents=True, exist_ok=True)
    limit = (BUILD_LIMIT_S + RUN_LIMIT_S if built else RUN_LIMIT_S) - (time.monotonic() - t0)
    res = run_jvm(args, limit, spans)
    load_after = os.getloadavg()
    ticks_after = cpu_ticks()
    # share of this VM's CPU time the hypervisor gave to others during the
    # run: timings taken under steal are slower for reasons outside the code
    steal = None
    if ticks_before and ticks_after and ticks_after[0] > ticks_before[0]:
        steal = (ticks_after[1] - ticks_before[1]) / (ticks_after[0] - ticks_before[0])

    wanted = spec["per_layer"] if args.trace else spec["end_to_end"]
    got = res["per_layer"] if args.trace else res["end_to_end"]
    problems = list(res["problems"]) + pinned_problems(res, args)
    metrics = {}
    for m in wanted:
        v = got.get(m["name"])
        if v is None or v.get("value") is None or v.get("unit") != m["unit"]:
            problems.append(f"metric {m['name']} missing or without unit {m['unit']}")
        else:
            metrics[m["name"]] = {"value": v["value"], "unit": v["unit"]}

    host = {
        "nproc": os.cpu_count(), "mem_total_kb": meminfo_kb(),
        "loadavg_before": load_before, "loadavg_after": load_after, "cpu_steal_frac": steal,
        "jdk": res["jdk"], "spark": res["spark"], "commit": commit(), "source_stamp": stamp,
        "seed": args.seed, "workload": args.workload, "trace": args.trace,
    }
    record = {"host": host, "problems": problems, "result": res}
    results = WORK / "results"
    results.mkdir(parents=True, exist_ok=True)
    (results / f"{args.workload}-seed{args.seed}-trace{args.trace}-{int(time.time())}.json") \
        .write_text(json.dumps(record, indent=1))

    print(f"# host {json.dumps(host)}")
    print(f"# input {json.dumps(res['input'])}")
    print(f"# {res['workload']}: {res['pages']} pages at local[{res['cores']}], "
          f"{res['timed_reps']} timed reps (median reported)")
    print(f"# reps wall s {res['rep_wall_s']} thread cpu s {res['rep_cpu_s']} "
          f"process cpu s {res['rep_process_cpu_s']} jit s {res['rep_jit_s']} gc s {res['rep_gc_s']}")
    print(f"# setup {json.dumps(res['setup'])}")
    failed_frac = res["failed"] / max(1, res["attempted"])
    print(f"failed_frac = {failed_frac} ratio ({res['failed']} of {res['attempted']} reps)")
    for name, v in metrics.items():
        print(f"{name} = {v['value']} {v['unit']}")
    if args.trace:
        print(f"# layers of the traced rep (core-seconds): {json.dumps(res['per_layer'].get('_layers'))}")
        print(f"# spans: {spans.relative_to(ROOT)}")
    for p in problems:
        print(f"# PROBLEM: {p}")
    correct = not problems and res["failed"] == 0
    # a run that is wrong for a reason other than a failed rep still fails one
    failed = max(res["failed"], 0 if correct else 1)
    print(json.dumps({"correct": correct, "attempted": res["attempted"], "failed": failed,
                      "metrics": metrics}))
    return 0 if correct else 1


def on_signal(signum, _frame):
    raise SystemExit(128 + signum)


if __name__ == "__main__":
    signal.signal(signal.SIGTERM, on_signal)
    sys.exit(main())
