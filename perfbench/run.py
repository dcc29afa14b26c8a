#!/usr/bin/env python3
"""CDC apply-and-read benchmark for the graft engine.

Run from the repository root:

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

The first run builds the engine and the benchmark from source with sbt
(`perfbench/build.sbt`); later runs reuse the build while the sources are
unchanged. Each run starts one JVM (Spark `local[nproc]`, fixed heap),
builds its inputs from the seed, times the workload, checks the results
against an independent plain-Spark computation, and prints one JSON
object as the last line of standard output. Details and traces land in
`perfbench/out/`.

Other commands:

    python3 perfbench/run.py counters [--write FILE] [--against FILE]
        exact per-workload counters (jobs, labels, versions, files, bytes);
        `--against` flags every counter that increased
    python3 perfbench/run.py selftest
        shows the counter diff catching one injected extra Spark job and
        reporting nothing between two runs of unchanged code
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
BUILD = os.path.join(HERE, ".build")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")

WORKLOADS = ["cdc_stream_small", "cdc_bulk_merge", "mor_read", "pipeline_hourly"]
HEAP = "2g"
# A run must end within 180 s, or 900 s when it also builds: the first
# JVM after a build gets what is left of the longer limit.
RUN_TIMEOUT_S = 170
BUILD_DEADLINE_S = 890
START = time.time()
built = False

# End-to-end metrics (trace 0) and per-layer metrics (trace 1) of the
# final line; BENCHMARK.json lists the same names.
END_TO_END = {
    "setup_s": "s",
    "op_ms_p50": "ms",
    "ops_per_s": "1/s",
    "stored_bytes_per_live_row": "B",
    "peak_rss_mb": "MB",
    "retained_heap_mb": "MB",
}
PER_LAYER = {
    "spark.jobs": ("spark.jobs_per_op", "count"),
    "spark.stages": ("spark.stages_per_op", "count"),
    "spark.tasks": ("spark.tasks_per_op", "count"),
    "spark.task_run_ms": ("spark.task_run_ms_per_op", "ms"),
    "spark.task_cpu_ms": ("spark.task_cpu_ms_per_op", "ms"),
    "spark.blocked_ms": ("spark.blocked_ms_per_op", "ms"),
    "spark.input_bytes": ("spark.input_bytes_per_op", "B"),
    "spark.shuffle_read_bytes": ("spark.shuffle_read_bytes_per_op", "B"),
    "spark.shuffle_write_bytes": ("spark.shuffle_write_bytes_per_op", "B"),
    "spark.output_bytes": ("spark.output_bytes_per_op", "B"),
    "spark.job_wall_ms": ("spark.job_wall_ms_per_op", "ms"),
    "spark.driver_gap_ms": ("driver.gap_ms_per_op", "ms"),
    "spark.planning_ms": ("driver.planning_ms_per_op", "ms"),
    "morlog.net.jobs": ("morlog.net.jobs", "count"),
    "morlog.tombs.jobs": ("morlog.tombs.jobs", "count"),
    "morlog.locate.jobs": ("morlog.locate.jobs", "count"),
    "morlog.stage.jobs": ("morlog.stage.jobs", "count"),
    "morlog.uniq.jobs": ("morlog.uniq.jobs", "count"),
    "morlog.other.jobs": ("morlog.other.jobs", "count"),
    "morlog.tomb_bytes": ("morlog.tomb_bytes", "B"),
    "trace.overhead_pct": ("trace.overhead_pct", "%"),
}

JVM_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(1)


def source_stamp():
    """Hash of every input of the build, so an unchanged tree skips sbt."""
    h = hashlib.sha256()
    tops = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
            os.path.join(ROOT, "build.sbt"), os.path.join(ROOT, "project", "build.properties"),
            os.path.join(HERE, "build.sbt"), os.path.join(HERE, "project", "build.properties")]
    for top in tops:
        paths = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top) for f in fs)
        for p in paths:
            h.update(os.path.relpath(p, ROOT).encode())
            with open(p, "rb") as f:
                h.update(f.read())
    return h.hexdigest()


def run_group(cmd, cwd, timeout, stdout, stderr, env=None):
    """Run `cmd` in its own process group; on timeout kill the group and
    wait for it. Returns (returncode, peak RSS in KiB)."""
    p = subprocess.Popen(cmd, cwd=cwd, stdout=stdout, stderr=stderr, env=env,
                         start_new_session=True)
    deadline = time.time() + timeout
    try:
        while time.time() < deadline:
            pid, status, ru = os.wait4(p.pid, os.WNOHANG)
            if pid:
                p.returncode = os.waitstatus_to_exitcode(status)
                return p.returncode, ru.ru_maxrss
            time.sleep(0.05)
        return None, 0
    finally:
        if p.returncode is None:
            os.killpg(p.pid, signal.SIGKILL)
            os.wait4(p.pid, 0)
            p.returncode = -9


def build():
    """Compile engine + benchmark; returns the runtime classpath."""
    if not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")) or \
            not os.path.isfile(os.path.join(ROOT, "build.sbt")):
        fail("no engine sources next to the benchmark (expected src/main/scala/graft "
             "and build.sbt at the repository root)")
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp.txt")
    if os.path.exists(cp_file) and os.path.exists(stamp_file):
        with open(stamp_file) as f:
            if f.read().strip() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        rc, _ = run_group(["sbt", "--batch", "-Dsbt.log.noformat=true",
                           "-Dsbt.server.autostart=false",
                           "compile", "export Runtime/fullClasspath"],
                          HERE, BUILD_DEADLINE_S - RUN_TIMEOUT_S, out,
                          subprocess.STDOUT)
    with open(log) as f:
        lines = [l.strip() for l in f if l.strip()]
    if rc != 0 or not lines or os.pathsep not in lines[-1] and not lines[-1].endswith(".jar"):
        sys.stderr.write("\n".join(lines[-30:]) + "\n")
        fail(f"build failed (rc={rc}); log in {log}")
    cp = lines[-1]
    global built
    built = True
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    return cp


def cores():
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def run_jvm(cp, workload, seed, seconds, trace, overhead=True, inject=False):
    """One benchmark JVM; returns (detail dict, peak RSS MiB)."""
    run_tag = f"{workload}-s{seed}-t{int(trace)}-{os.getpid()}-{int(time.time() * 1000)}"
    work = os.path.join(WORK, run_tag)
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    os.makedirs(OUT, exist_ok=True)
    log = os.path.join(OUT, f"jvm-{run_tag}.log")
    stdout_path = os.path.join(work, "stdout.txt")
    cmd = (["java", f"-Xms{HEAP}", f"-Xmx{HEAP}",
            "-XX:ReservedCodeCacheSize=512m",
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')}",
            f"-Dderby.system.home={work}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [x for p in JVM_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")]
           + ["-cp", cp, "perfbench.Main",
              "--workload", workload, "--seed", str(seed), "--seconds", str(seconds),
              "--trace", "1" if trace else "0", "--work", work, "--out", OUT,
              "--overhead", "1" if overhead else "0",
              "--inject-extra-job", "1" if inject else "0"])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores()))
    try:
        with open(stdout_path, "w") as so, open(log, "w") as se:
            timeout = RUN_TIMEOUT_S
            if built:
                timeout = min(timeout, BUILD_DEADLINE_S - (time.time() - START))
            rc, rss_kib = run_group(cmd, ROOT, timeout, so, se, env)
        with open(stdout_path) as f:
            res = [l for l in f if l.startswith("PERFBENCH_RESULT ")]
    finally:
        shutil.rmtree(work, ignore_errors=True)
    if rc != 0 or not res:
        with open(log) as f:
            tail = f.readlines()[-40:]
        sys.stderr.write("".join(tail))
        fail(f"benchmark JVM failed (rc={rc}); log in {log}")
    detail = json.loads(res[-1][len("PERFBENCH_RESULT "):])
    detail["peak_rss_mb"] = rss_kib / 1024.0
    detail["error_rate"] = detail["failed"] / max(1, detail["attempted"])
    with open(os.path.join(OUT, f"result-{detail['run_id']}.json"), "w") as f:
        json.dump(detail, f, indent=1, sort_keys=True)
    return detail, rss_kib / 1024.0


def bench(args):
    if args.workload not in WORKLOADS:
        fail(f"unknown workload {args.workload}; one of {WORKLOADS}")
    cp = build()
    detail, rss = run_jvm(cp, args.workload, args.seed, args.seconds, args.trace == 1)
    if args.trace == 1:
        layers = detail["layers"]
        metrics = {}
        for src, (name, unit) in PER_LAYER.items():
            if src not in layers:
                fail(f"traced run reported no {src}")
            metrics[name] = {"value": layers[src], "unit": unit}
    else:
        e2e = dict(detail["e2e"], peak_rss_mb=rss)
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
    print(json.dumps({k: detail[k] for k in ("e2e", "layers", "error_rate", "checks", "env")
                      if k in detail}))
    print(json.dumps({"correct": bool(detail["correct"]),
                      "attempted": int(detail["attempted"]),
                      "failed": int(detail["failed"]),
                      "metrics": metrics}))


# Counter snapshots run at seed 1 and this --seconds; counts of operations,
# jobs and table files scale with it, so baseline/counters.json holds only
# for this value.
COUNTER_SECONDS = 8


def snapshot(cp, inject=False, workloads=WORKLOADS):
    snap = {}
    for w in workloads:
        detail, _ = run_jvm(cp, w, 1, COUNTER_SECONDS, True, overhead=False, inject=inject)
        if not detail["correct"]:
            fail(f"{w}: correctness check failed: {detail['checks']}")
        snap[w] = detail["counters"]
    return snap


# Byte counts are not exact: tombstone files hold attempt-unique file
# names, and random names compress to slightly different sizes (measured:
# up to 0.19 % between two runs of one tree, on cdc_bulk_merge's
# tombstones). Every other counter is exact.
BYTES_TOLERANCE = 0.003


def diff(base, new):
    """Every counter that increased, as readable lines. A counter missing
    from `base` (a job label or table count that was not there) counts as 0."""
    out = []
    for w, cs in sorted(new.items()):
        for k, v in sorted(cs.items()):
            b = base.get(w, {}).get(k, 0)
            slack = b * BYTES_TOLERANCE if "bytes" in k else 0
            if v > b + slack:
                out.append(f"{w}: {k} {b} -> {v} (+{v - b})")
    return out


def counters(args):
    cp = build()
    snap = snapshot(cp)
    if args.write:
        with open(args.write, "w") as f:
            json.dump(snap, f, indent=1, sort_keys=True)
            f.write("\n")
    print(json.dumps(snap, sort_keys=True))
    if args.against:
        with open(args.against) as f:
            up = diff(json.load(f), snap)
        for line in up:
            print("INCREASED " + line)
        sys.exit(1 if up else 0)


def selftest():
    cp = build()
    ws = ["cdc_bulk_merge"]
    a = snapshot(cp, workloads=ws)
    b = snapshot(cp, workloads=ws)
    c = snapshot(cp, inject=True, workloads=ws)
    same = diff(a, b)
    caught = diff(a, c)
    ops = a["cdc_bulk_merge"]["ops"]
    want = f"cdc_bulk_merge: jobs.total {a['cdc_bulk_merge']['jobs.total']} -> " \
           f"{a['cdc_bulk_merge']['jobs.total'] + ops} (+{ops})"
    print("unchanged code:", same or "no change")
    print("one extra job per operation injected:", caught)
    ok = not same and want in caught
    print("selftest", "PASS" if ok else "FAIL")
    sys.exit(0 if ok else 1)


def main():
    # a terminated run still stops and reaps its JVM (see run_group)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if sys.argv[1:2] == ["counters"]:
        p = argparse.ArgumentParser(prog="run.py counters")
        p.add_argument("--write")
        p.add_argument("--against")
        counters(p.parse_args(sys.argv[2:]))
        return
    if sys.argv[1:] == ["selftest"]:
        selftest()
        return
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    bench(p.parse_args())


if __name__ == "__main__":
    main()
