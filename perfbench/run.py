#!/usr/bin/env python3
"""Repo benchmark: builds the engine and the benchmark from source, runs one
workload and prints its result as the last stdout line.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py steady [--runs 10] [--seconds S] [--trace 0|1]
                                    [--workloads a,b] [--first-seed 1]
                                    [--out FILE]
    python3 perfbench/run.py compare FILE_A FILE_B
    python3 perfbench/run.py golden
    python3 perfbench/run.py local1 [--seconds S]

Run from the repository root. Builds go to .bench_build/ (scalac over
src/main/scala plus perfbench/src, against the Spark jars of the install at
$SPARK_HOME, else the one whose spark-submit is on the PATH); scratch space,
traces and steadiness results go there too. See perfbench/NOTES.md for the
workloads and metrics.
"""
import argparse
import fcntl
import glob
import hashlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

BUILD = ".bench_build"
BENCH = "perfbench"
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 700
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]


def fail(msg):
    print(f"[perfbench] {msg}", file=sys.stderr)
    sys.exit(2)


def spark_jars():
    homes = [os.environ.get("SPARK_HOME", "")]
    for d in os.environ.get("PATH", "").split(os.pathsep):
        exe = os.path.join(d, "spark-submit")
        if os.path.isfile(exe):
            homes.append(os.path.dirname(os.path.dirname(os.path.realpath(exe))))
    for home in homes:
        jars = os.path.join(home, "jars")
        if home and glob.glob(os.path.join(jars, "spark-sql_*.jar")):
            return jars
    fail("no Spark jars found; set SPARK_HOME")


def sources():
    main = sorted(glob.glob("src/main/scala/**/*.scala", recursive=True))
    bench = sorted(glob.glob(f"{BENCH}/src/**/*.scala", recursive=True))
    if not main:
        fail("no engine sources under src/main/scala: run from the repo root")
    return main + bench


def build():
    """Compiles engine + benchmark once per source hash; returns the class dir."""
    srcs = sources()
    res = sorted(p for p in glob.glob("src/main/resources/**/*", recursive=True)
                 if os.path.isfile(p))
    h = hashlib.sha256()
    for p in srcs + res:
        h.update(p.encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    out = os.path.join(BUILD, "classes-" + h.hexdigest()[:16])
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        if os.path.exists(os.path.join(out, ".complete")):
            return out
        tmp = out + ".tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx3g", "-cp",
               os.path.join(spark_jars(), "*"), "scala.tools.nsc.Main",
               "-usejavacp", "-nowarn", "-d", tmp] + srcs
        t0 = time.time()
        r = run_child(cmd, BUILD_TIMEOUT_S, stdout=sys.stderr)
        if r != 0:
            shutil.rmtree(tmp, ignore_errors=True)
            fail(f"build failed (exit {r})")
        for p in res:
            dst = os.path.join(tmp, os.path.relpath(p, "src/main/resources"))
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            shutil.copyfile(p, dst)
        open(os.path.join(tmp, ".complete"), "w").close()
        os.rename(tmp, out)
        print(f"[perfbench] built {out} in {time.time() - t0:.1f}s",
              file=sys.stderr)
        return out


def run_child(cmd, timeout, stdout=None):
    """Runs cmd in its own process group; kills the group on timeout.
    Returns the exit code (None on timeout)."""
    p = subprocess.Popen(cmd, stdout=stdout, start_new_session=True)
    try:
        return p.wait(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        print(f"[perfbench] timed out after {timeout}s: {cmd[:3]}",
              file=sys.stderr)
        return None
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise


def cores():
    return len(os.sched_getaffinity(0))


def java(classes, main, args, scratch, capture):
    """Runs a JVM on the built classes with all temp space under scratch."""
    tmp = os.path.join(scratch, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # -XX:-UsePerfData: no JVM perf-counter file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms1536m", "-Xmx1536m", "-Xss8m",
            f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"]
           + [f"--add-opens={m}=ALL-UNNAMED" for m in ADD_OPENS]
           + ["-cp", classes + os.pathsep + os.path.join(spark_jars(), "*"),
              main] + args)
    out_path = os.path.join(scratch, "stdout")
    with open(out_path, "w") as out:
        code = run_child(cmd, RUN_TIMEOUT_S, stdout=out if capture else None)
    with open(out_path) as f:
        return code, f.read().splitlines()


def run_workload(workload, seed, seconds, trace, n_cores=None):
    """One benchmark run; returns the parsed result or None."""
    classes = build()
    metrics = config()["per_layer" if trace else "end_to_end"]
    root = os.path.abspath(BUILD)
    scratch = os.path.join(root, f"scratch-{os.getpid()}")
    try:
        code, lines = java(classes, "perfbench.Main", [
            "--workload", workload, "--seed", str(seed),
            "--seconds", str(seconds), "--trace", str(trace),
            "--cores", str(n_cores or cores()), "--root", root,
            "--golden", os.path.abspath(os.path.join(BENCH, "golden.json")),
            "--metrics", ",".join(f"{m['name']}:{m['unit']}" for m in metrics)],
            scratch, capture=True)
    finally:
        shutil.rmtree(scratch, ignore_errors=True)
        for d in glob.glob(os.path.join(root, "run-*")):
            pid = d.rsplit("-", 1)[-1]
            if not pid.isdigit() or not os.path.exists(f"/proc/{pid}"):
                shutil.rmtree(d, ignore_errors=True)
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    if code != 0 or not lines:
        return None
    try:
        return json.loads(lines[-1])
    except ValueError:
        return None


def config():
    with open("BENCHMARK.json") as f:
        return json.load(f)


def spread(vals):
    q1, med, q3 = statistics.quantiles(vals, n=4)
    return statistics.median(vals), q1, q3, (q3 - q1) / statistics.median(vals)


def steady(argv):
    ap = argparse.ArgumentParser(prog="run.py steady")
    cfg = config()
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--seconds", type=int, default=cfg["run_seconds"])
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--workloads",
                    default=",".join(w["name"] for w in cfg["workloads"]))
    ap.add_argument("--out")
    a = ap.parse_args(argv)
    metrics = cfg["per_layer"] if a.trace else cfg["end_to_end"]
    results = {}
    for w in a.workloads.split(","):
        runs = []
        for i in range(a.runs):
            seed = a.first_seed + i
            r = run_workload(w, seed, a.seconds, a.trace)
            if r is None:
                fail(f"{w} seed {seed}: no result")
            print(f"[steady] {w} seed {seed}: correct={r['correct']} "
                  f"attempted={r['attempted']} failed={r['failed']}",
                  file=sys.stderr)
            runs.append(r)
        results[w] = runs
    out = a.out or os.path.join(
        BUILD, f"steady-{'trace' if a.trace else 'e2e'}-{int(time.time())}.json")
    with open(out, "w") as f:
        json.dump(results, f, indent=1)
    report(results, metrics)
    print(f"[steady] results in {out}")


def report(results, metrics):
    for w, runs in results.items():
        att = sum(r["attempted"] for r in runs)
        bad = sum(r["failed"] for r in runs)
        print(f"== {w}: {len(runs)} runs, fail_ratio {bad}/{att}")
        for m in metrics:
            vals = [r["metrics"][m["name"]]["value"] for r in runs]
            if len(vals) < 2 or statistics.median(vals) == 0:
                print(f"  {m['name']:34s} median {statistics.median(vals):.6g}")
                continue
            med, q1, q3, s = spread(vals)
            b = m.get("bound")
            flag = "" if b is None else (
                "  OVER BOUND" if s > b else "  over bound/3" if s > b / 3
                else "  ok")
            print(f"  {m['name']:34s} median {med:12.6g} q1 {q1:12.6g} "
                  f"q3 {q3:12.6g} spread {s:6.3f}"
                  + ("" if b is None else f" (bound {b})") + flag)


def compare(argv):
    """Second set against the first: is any median worse by > its bound?"""
    a_path, b_path = argv
    with open(a_path) as f:
        a = json.load(f)
    with open(b_path) as f:
        b = json.load(f)
    ok = True
    for m in config()["end_to_end"]:
        for w in a:
            if w not in b:
                continue
            ma = statistics.median(r["metrics"][m["name"]]["value"] for r in a[w])
            mb = statistics.median(r["metrics"][m["name"]]["value"] for r in b[w])
            worse = (mb - ma) / ma if m["better"] == "lower" else (ma - mb) / ma
            bad = worse > m["bound"]
            ok &= not bad
            print(f"{w:18s} {m['name']:14s} {ma:12.6g} -> {mb:12.6g} "
                  f"worse {worse:+.3f} bound {m['bound']}"
                  + ("  REGRESSION" if bad else ""))
    sys.exit(0 if ok else 1)


def golden(_argv):
    """Regenerates perfbench/golden.json: writes the fixed panel tables, dumps
    the panel queries with graft.Verify, requires tools/check_oracle.py to
    pass on them, then records each query's full-row hash."""
    classes = build()
    root = os.path.abspath(BUILD)
    data = os.path.join(root, "golden-data")
    dump = os.path.join(root, "golden-verify")
    scratch = os.path.join(root, "golden-scratch")
    for d in (data, dump, scratch):
        shutil.rmtree(d, ignore_errors=True)
    code, lines = java(classes, "perfbench.Main",
                       ["--tool", "gen", "--dir", data], scratch, capture=True)
    if code != 0:
        fail("table generation failed")
    names = lines[-1].split(",")
    code, _ = java(classes, "graft.Verify", [data, dump, ",".join(names)],
                   scratch, capture=False)
    if code != 0:
        fail("graft.Verify failed")
    with open(os.path.join(dump, "oracle_sql.json")) as f:
        oracle = json.load(f)
    with open(os.path.join(dump, "oracle_sql.json"), "w") as f:
        json.dump({q: oracle[q] for q in names}, f)
    if subprocess.call([sys.executable, "tools/check_oracle.py", data, dump]):
        fail("oracle check failed: golden.json left unchanged")
    code, lines = java(classes, "perfbench.Main",
                       ["--tool", "hashes", "--dir", data], scratch,
                       capture=True)
    if code != 0:
        fail("hashing failed")
    text = "\n".join(lines[lines.index("{"):]) + "\n"
    json.loads(text)
    with open(os.path.join(BENCH, "golden.json"), "w") as f:
        f.write(text)
    print(text)


def local1(argv):
    """One traced run of the panels at local[1] and at local[nproc]: the
    parallel-efficiency base for later fan-out claims."""
    ap = argparse.ArgumentParser(prog="run.py local1")
    ap.add_argument("--seconds", type=int, default=config()["run_seconds"])
    a = ap.parse_args(argv)
    for n in (1, cores()):
        r = run_workload("query_panels", 1, a.seconds, 1, n_cores=n)
        if r is None:
            fail(f"local[{n}] run failed")
        m = {k: v["value"] for k, v in r["metrics"].items()}
        print(f"local[{n}]: wall {m['trace.wall_s']:.2f}s construct "
              f"{m['construct.s']:.2f}s execute {m['execute.s']:.2f}s "
              f"execute.exec_run {m['execute.exec_run_s']:.2f}s "
              f"execute.core_util {m['execute.core_util']:.3f}")
        for k in sorted(k for k in m if k.startswith("q")):
            print(f"  {k:34s} {m[k]:.3f}")


def main():
    cmds = {"steady": steady, "compare": compare, "golden": golden,
            "local1": local1}
    if len(sys.argv) > 1 and sys.argv[1] in cmds:
        return cmds[sys.argv[1]](sys.argv[2:])
    ap = argparse.ArgumentParser(prog="run.py")
    ap.add_argument("--workload", required=True,
                    choices=["query_panels", "dwh_ingest"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    a = ap.parse_args()
    r = run_workload(a.workload, a.seed, a.seconds, a.trace)
    if r is None:
        fail("run failed: no result")
    print(json.dumps(r))


if __name__ == "__main__":
    main()
