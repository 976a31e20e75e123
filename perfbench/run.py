#!/usr/bin/env python3
"""graft benchmark runner.

Run from the root of a graft checkout:

    python3 perfbench/run.py --workload serve --seed 1 --seconds 20 --trace 0

The first run builds the harness (perfbench/build.sbt, which compiles graft
from the checkout's sources) into .bench_build/. Each run starts one harness
JVM for one workload under a wall-clock cap, then prints a readable report
on stderr and, as the last line of stdout, one JSON object:
{"correct", "attempted", "failed", "metrics"}. With --trace 0 the metrics
are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer list.
Workload parameters live in perfbench/workloads.json.
"""
import argparse
import json
import os
import shutil
import signal
import subprocess
import sys
import time

BENCH_DIR = "perfbench"
WORK_DIR = ".bench_build"

JDK_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg, code=2):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(code)


def cgroup_cpu_s():
    """CPU seconds used by this container's cgroup (v2, else v1), or None."""
    try:
        with open("/sys/fs/cgroup/cpu.stat") as f:
            for line in f:
                name, value = line.split()
                if name == "usage_usec":
                    return int(value) / 1e6
    except OSError:
        pass
    try:
        with open("/sys/fs/cgroup/cpuacct/cpuacct.usage") as f:
            return int(f.read()) / 1e9
    except OSError:
        return None


def build(root, deadline):
    """Compile the harness and graft once per checkout; returns the classpath."""
    cp_file = os.path.join(root, WORK_DIR, "perfbench", "classpath.txt")
    if not os.path.exists(cp_file):
        os.makedirs(os.path.join(root, WORK_DIR), exist_ok=True)
        log_path = os.path.join(root, WORK_DIR, "build.log")
        with open(log_path, "w") as log:
            proc = subprocess.Popen(
                ["sbt", "-batch", "-Dsbt.log.noformat=true", "writeClasspath"],
                cwd=os.path.join(root, BENCH_DIR), stdout=log, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, start_new_session=True)
            try:
                proc.wait(timeout=max(1.0, deadline - time.monotonic()))
            except subprocess.TimeoutExpired:
                os.killpg(proc.pid, signal.SIGKILL)
                proc.wait()
                fail("build timed out; see " + log_path, 1)
        if proc.returncode != 0 or not os.path.exists(cp_file):
            fail("build failed; see " + log_path, 1)
    with open(cp_file) as f:
        return f.read().strip()


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    # maintenance: write every pipeline result and digest here (record.py)
    ap.add_argument("--record", help=argparse.SUPPRESS)
    args = ap.parse_args()
    started = time.monotonic()

    root = os.getcwd()
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft"),
                 os.path.join(BENCH_DIR, "build.sbt"), "BENCHMARK.json"):
        if not os.path.exists(os.path.join(root, need)):
            fail(f"not a graft checkout: {need} is missing under {root}")
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    with open(os.path.join(root, BENCH_DIR, "workloads.json")) as f:
        spec = json.load(f)
    if args.workload not in spec["workloads"]:
        fail(f"unknown workload {args.workload}")
    jvm = spec["jvm"]

    built = os.path.exists(os.path.join(root, WORK_DIR, "perfbench", "classpath.txt"))
    classpath = build(root, started + jvm["build_cap_s"])
    work = os.path.join(root, WORK_DIR)
    # per-run temp dir: query-local stores under java.io.tmpdir must not
    # outlive the run, or the next run would reopen instead of build
    tmp = os.path.join(work, "tmp", f"run-{os.getpid()}")
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    out = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.json")
    os.makedirs(os.path.dirname(out), exist_ok=True)
    if os.path.exists(out):
        os.remove(out)

    cmd = ["java", f"-Xmx{jvm['heap']}",
           "-XX:+UseG1GC", f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
           "-Dspark.ui.enabled=false"]
    for p in JDK_OPENS:
        cmd += ["--add-opens", f"{p}=ALL-UNNAMED"]
    cmd += ["-cp", classpath, "graftbench.Main",
            "--workload", args.workload, "--seed", str(args.seed),
            "--seconds", str(args.seconds), "--trace", str(args.trace),
            "--work", work, "--out", out]
    params = dict(spec["workloads"][args.workload]["params"])
    params["digests"] = os.path.join(root, BENCH_DIR, "digests.txt")
    if args.record:
        params["record_dir"] = os.path.abspath(args.record)
    for k, v in params.items():
        for kk, vv in (v.items() if isinstance(v, dict) else [(None, v)]):
            vv = ",".join(vv) if isinstance(vv, list) else vv
            cmd += ["--param", f"{k}.{kk}={vv}" if kk else f"{k}={vv}"]

    load_before = os.getloadavg()
    cg_before = cgroup_cpu_s()
    log_path = os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.log")
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, cwd=root, stdout=log, stderr=subprocess.STDOUT,
                                stdin=subprocess.DEVNULL, start_new_session=True)
        timed_out = False
        cap = max(jvm["wall_cap_s"], args.seconds + 150)
        deadline = time.monotonic() + cap
        status = None
        rusage = None
        while status is None:
            pid, st, ru = os.wait4(proc.pid, os.WNOHANG)
            if pid == proc.pid:
                status, rusage = st, ru
            elif time.monotonic() > deadline:
                timed_out = True
                os.killpg(proc.pid, signal.SIGKILL)
                _, status, rusage = os.wait4(proc.pid, 0)
            else:
                time.sleep(0.05)
        proc.returncode = os.waitstatus_to_exitcode(status)
    shutil.rmtree(tmp, ignore_errors=True)
    cg_after = cgroup_cpu_s()
    load_after = os.getloadavg()
    jvm_cpu = rusage.ru_utime + rusage.ru_stime

    if timed_out or not os.path.exists(out):
        why = f"timed out after {cap} s" if timed_out else f"exited with {proc.returncode}"
        print(f"[perfbench] harness JVM {why}; see {log_path}", file=sys.stderr)
        # the run ended before reporting: every op of the run counts as failed
        print(json.dumps({"correct": False, "attempted": 1, "failed": 1, "metrics": {}}))
        return

    with open(out) as f:
        res = json.load(f)
    if args.record:
        print(f"[perfbench] recorded into {args.record}: error={res['error']}", file=sys.stderr)
        sys.exit(0 if res["error"] is None else 1)
    metrics = res["metrics"]
    ext = None if cg_before is None else max(0.0, (cg_after - cg_before) - jvm_cpu)
    metrics["env.ext_cpu_s"] = {"value": ext if ext is not None else 0.0, "unit": "s"}
    metrics["env.loadavg_1m"] = {"value": load_after[0], "unit": "count"}

    wanted = bench["per_layer"] if args.trace else bench["end_to_end"]
    selected, absent = {}, []
    for spec_m in wanted:
        got = metrics.get(spec_m["name"])
        if got is None or got["value"] is None:
            if args.trace:
                # a layer the workload never calls did no work
                absent.append(spec_m["name"])
                got = {"value": 0.0, "unit": spec_m["unit"]}
            else:
                fail(f"end-to-end metric {spec_m['name']} was not measured; see {log_path}", 1)
        selected[spec_m["name"]] = {"value": got["value"], "unit": spec_m["unit"]}

    correct = res["error"] is None and res["wrong"] == 0 and res["checked"] > 0
    validity = dict(res["validity"])
    validity.update({
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "heap": jvm["heap"], "built_in_this_run": not built,
        "loadavg_before": load_before, "loadavg_after": load_after,
        "jvm_cpu_s": jvm_cpu, "ext_cpu_s": ext, "wall_s": time.monotonic() - started,
        "checked_answers": res["checked"], "wrong_answers": res["wrong"],
        "error": res["error"], "not_exercised": absent,
    })
    with open(os.path.join(work, "runs", f"{args.workload}-seed{args.seed}-trace{args.trace}.validity.json"), "w") as f:
        json.dump({"validity": validity, "metrics": metrics}, f, indent=1)

    print(f"[perfbench] {args.workload} seed={args.seed} trace={args.trace}: "
          f"attempted={res['attempted']} failed={res['failed']} "
          f"checked={res['checked']} wrong={res['wrong']} error={res['error']}", file=sys.stderr)
    print(f"[perfbench] validity: {json.dumps(validity)}", file=sys.stderr)
    for name, v in sorted(metrics.items()):
        print(f"[perfbench]   {name:40s} {v['value']!s:>14} {v['unit']}", file=sys.stderr)
    print(json.dumps({"correct": bool(correct), "attempted": int(max(1, res["attempted"])),
                      "failed": int(res["failed"]), "metrics": selected}))


if __name__ == "__main__":
    main()
