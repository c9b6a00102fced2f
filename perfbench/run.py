#!/usr/bin/env python3
"""Benchmark entry point: builds the program, generates seeded inputs,
runs one workload in a fresh JVM and prints its metrics.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. The last line of standard output is one JSON
object: {"correct", "attempted", "failed", "metrics"}; with --trace 0 the
metrics are BENCHMARK.json's end_to_end list, with --trace 1 its per_layer
list. The lines before it summarise the run (environment, correctness
checks, defect probes, workload-specific figures). A traced run also leaves
its spans in perfbench/out/.
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
PROGRAM_SRC = os.path.join(ROOT, "src", "main")
CLASSES = os.path.join(HERE, "target", "scala-2.13", "classes")
STAMP = os.path.join(HERE, "target", "build.stamp")
OUT = os.path.join(HERE, "out")
WORK = os.path.join(HERE, "work")
WORKLOADS = ("search", "crud_mix")
SCALE_FACTOR = 0.01
RUN_LIMIT_S = 175
ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
    "java.net", "java.nio", "java.util", "java.util.concurrent",
    "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
    "sun.security.action", "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def cpus():
    """Cores for the Spark session, from `nproc`; anything but a positive
    integer stops the run."""
    out = subprocess.run(["nproc"], capture_output=True, text=True,
                         check=True).stdout.strip()
    n = int(out)
    if n < 1:
        raise ValueError(f"nproc gave {out!r}")
    return n


def heap_gb():
    """A third of the box's memory, between 2 and 3 GiB. The heap is
    fixed at this size (-Xms = -Xmx) so that the peak RSS does not hang
    on when the collector decides to grow it."""
    with open("/proc/meminfo") as f:
        kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
    return max(2, min(3, kb // (3 * 1024 * 1024)))


def busy_cores(window_s=0.5):
    """Cores busy in other processes over a short window (the sample
    graft.Bench gates its rounds on): /proc/stat busy jiffies minus this
    process's own."""
    def stat():
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:]]
        return sum(v), v[3] + (v[4] if len(v) > 4 else 0)
    t0, i0 = stat()
    s0 = sum(os.times()[:2])
    time.sleep(window_s)
    t1, i1 = stat()
    own = (sum(os.times()[:2]) - s0) * os.sysconf("SC_CLK_TCK")
    busy = max(0.0, (t1 - t0) - (i1 - i0) - own)
    return round(busy / max(1, t1 - t0) * os.cpu_count(), 3)


def await_quiet(limit_s=5.0, quiet=0.5):
    """Wait, bounded, for other processes to leave the cores alone, as
    graft.Bench does before each round. Returns the last sample and the
    seconds waited."""
    t0 = time.time()
    busy = busy_cores()
    while busy > quiet and time.time() - t0 < limit_s:
        log(f"{busy} cores busy elsewhere; waiting for quiet")
        time.sleep(2)
        busy = busy_cores()
    return busy, round(time.time() - t0, 1)


def source_stamp():
    """A hash of every file the build reads: the program's and the
    harness's sources and the harness's build definition (not sbt's own
    outputs under project/target)."""
    h = hashlib.sha256()
    project = os.path.join(HERE, "project")
    files = [os.path.join(HERE, "build.sbt")] + [
        os.path.join(project, f) for f in os.listdir(project)
        if os.path.isfile(os.path.join(project, f))]
    for r in (PROGRAM_SRC, os.path.join(HERE, "src")):
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    for p in sorted(files):
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def build():
    """Compile the program and the harness unless the classes match the
    sources already."""
    stamp = source_stamp()
    if os.path.exists(STAMP) and open(STAMP).read() == stamp:
        return
    log("building (sbt compile)")
    env = dict(os.environ, COURSIER_MODE="offline")
    repos = os.path.expanduser("~/.sbt/repositories")
    if "SBT_OPTS" not in env and os.path.exists(repos):
        env["SBT_OPTS"] = ("-Dsbt.override.build.repos=true "
                           f"-Dsbt.repository.config={repos} "
                           "-Dsbt.offline=true -Xmx2g")
    subprocess.run(["sbt", "--batch", "-Dsbt.log.noformat=true", "compile"],
                   cwd=HERE, env=env, stdout=sys.stderr, check=True,
                   timeout=800)
    with open(STAMP, "w") as f:
        f.write(stamp)


def run_jvm(args, work, result, spans, deadline):
    """Start the JVM, write the inputs while its Spark session starts, and
    wait for it. Returns the generated tables' row counts."""
    spark_jars = os.path.join(os.environ["SPARK_HOME"], "jars", "*")
    src = os.path.join(work, "src")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    heap = f"{heap_gb()}g"
    # a fixed set of 6 JIT compiler threads: none ends and takes its CPU
    # time out of the count Main subtracts, and warm-up compiles the
    # program's hot code sooner than the default 3 threads do on 4 cores
    cmd = (["java", f"-Xms{heap}", f"-Xmx{heap}", f"-Djava.io.tmpdir={tmp}",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:CICompilerCount=6",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Dspark.local.dir={tmp}"]
           + [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
           + ["-cp", f"{CLASSES}:{spark_jars}", "perfbench.Main",
              "--workload", args.workload, "--seed", str(args.seed),
              "--seconds", str(args.seconds), "--trace", str(args.trace),
              "--src", src, "--out", os.path.join(work, "out"),
              "--result", result, "--spans", spans])
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cpus()),
               SPARK_LOCAL_DIRS=tmp)
    logf = os.path.join(OUT, f"{args.workload}.log")
    with open(logf, "w") as lf:
        p = subprocess.Popen(cmd, cwd=work, env=env, stdout=lf,
                             stderr=subprocess.STDOUT,
                             start_new_session=True)
        try:
            sys.path.insert(0, HERE)
            import gen
            t0 = time.time()
            rows = gen.main(src, args.seed, SCALE_FACTOR)
            open(os.path.join(src, ".ready"), "w").close()
            log(f"inputs written in {time.time() - t0:.1f} s")
            code = p.wait(timeout=max(1, deadline - time.time()))
            log(f"JVM ended after {time.time() - t0:.1f} s")
        finally:
            if p.poll() is None:
                os.killpg(p.pid, signal.SIGKILL)
                p.wait()
    if code != 0:
        with open(logf) as lf:
            tail = lf.read()[-3000:]
        raise RuntimeError(f"the JVM exited with {code}:\n{tail}")
    return rows


def sync_check(synced, rows):
    """Every entity synced exactly its generated rows, none rejected."""
    bad = [f"{e} synced={ok} rejected={rej} source={rows.get(e)}"
           for e, (ok, rej) in sorted(synced.items())
           if ok != rows.get(e) or rej != 0]
    detail = (f"{sum(ok for ok, _ in synced.values())} documents over "
              f"{len(synced)} entities, each equal to its source rows, "
              "0 rejected") if not bad else "; ".join(bad)
    return {"ok": not bad and len(synced) > 0, "detail": detail}


def summary(res, env):
    lines = [f"env {json.dumps(env, sort_keys=True)}"]
    for k, v in res["checks"].items():
        lines.append(f"check {k}: {'ok' if v['ok'] else 'FAILED'} "
                     f"({v['detail']})")
    for k, v in res["defects"].items():
        state = "fixed" if v["ok"] else "reproduced"
        lines.append(f"defect {k}: {state} ({v['detail']})")
    for group in ("end_to_end", "extra", "per_layer"):
        for k, v in res[group].items():
            lines.append(f"{group} {k} = {v['value']} {v['unit']}")
    for f in res["failures"]:
        lines.append(f"failure {f}")
    return lines


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", required=True, type=int)
    ap.add_argument("--seconds", required=True, type=float)
    ap.add_argument("--trace", required=True, type=int, choices=(0, 1))
    args = ap.parse_args()
    started = time.time()
    deadline = started + RUN_LIMIT_S
    if not os.path.isdir(PROGRAM_SRC):
        log(f"no program sources at {PROGRAM_SRC}; run from a checkout")
        return 2
    if "SPARK_HOME" not in os.environ:
        log("SPARK_HOME must name the Spark distribution the program uses")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = spec["per_layer" if args.trace else "end_to_end"]
    build()
    # the build may take long on a fresh checkout; the run itself gets
    # its own time limit after it
    deadline = max(deadline, time.time() + RUN_LIMIT_S - 10)
    os.makedirs(OUT, exist_ok=True)
    busy, waited = await_quiet()
    env = {"cpus": cpus(), "heap_gb": heap_gb(), "busy_cores": busy,
           "quiet_wait_s": waited,
           "scale_factor": SCALE_FACTOR, "workload": args.workload,
           "seed": args.seed, "seconds": args.seconds, "trace": args.trace}
    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        result = os.path.join(work, "result.json")
        spans = os.path.join(OUT, f"spans_{args.workload}_{args.seed}.jsonl")
        rows = run_jvm(args, work, result, spans, deadline)
        with open(result) as f:
            res = json.load(f)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    res["checks"]["sync_counts"] = sync_check(res["synced"], rows)
    group = res["per_layer" if args.trace else "end_to_end"]
    metrics = {}
    for m in names:
        v = group.get(m["name"])
        if v is None or v["value"] is None:
            raise RuntimeError(f"metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": v["value"], "unit": m["unit"]}
    for line in summary(res, env):
        print(line)
    correct = all(v["ok"] for v in res["checks"].values())
    log(f"run took {time.time() - started:.1f} s")
    print(json.dumps({"correct": correct, "attempted": res["attempted"],
                      "failed": res["failed"], "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
