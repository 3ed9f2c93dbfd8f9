#!/usr/bin/env python3
"""graft benchmark launcher.

Builds the program and the benchmark from source into `.bench_build/`, then
runs one workload in one JVM at local[n], n = min(4, nproc), and prints the
result as the last line of stdout:

    python3 perfbench/run.py --workload ingest --seed 1 --seconds 10 --trace 0

Run it from the repository root. Other modes:

    python3 perfbench/run.py --smoke            # every workload at tiny size
    python3 perfbench/run.py --freeze 0-20      # re-record perfbench/frozen.json
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

BUILD = ".bench_build"
CLASSES = os.path.join(BUILD, "classes")
MAIN = "graft.perfbench.Main"
WORKLOADS = ["ingest", "knn", "query_mix"]
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 600
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke", "java.base/java.lang.reflect",
    "java.base/java.io", "java.base/java.net", "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs", "java.base/sun.security.action",
    "java.base/sun.util.calendar",
]


def log(msg):
    print(f"[run.py] {msg}", file=sys.stderr, flush=True)


def fail(msg, code=2):
    log(msg)
    sys.exit(code)


def source_files():
    out = []
    for root in ("src/main/scala", "perfbench/src"):
        if not os.path.isdir(root):
            fail(f"missing {root}: run from the repository root")
        for d, _, files in os.walk(root):
            out += [os.path.join(d, f) for f in files if f.endswith(".scala")]
    return sorted(out)


def spark_jars():
    home = os.environ.get("SPARK_HOME")
    if not home or not os.path.isdir(os.path.join(home, "jars")):
        fail("SPARK_HOME must name a Spark 4 distribution")
    return os.path.join(home, "jars")


def run_group(cmd, timeout, **kw):
    """Run cmd in its own process group; kill the group on timeout."""
    p = subprocess.Popen(cmd, start_new_session=True, **kw)
    try:
        out, _ = p.communicate(timeout=timeout)
    except subprocess.TimeoutExpired:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        fail(f"timed out after {timeout} s: {cmd[-1]}", 1)
    except BaseException:
        os.killpg(p.pid, signal.SIGKILL)
        p.wait()
        raise
    return p.returncode, out


def build():
    """Compile src/main/scala and perfbench/src with scalac into one class dir;
    skipped when the sources hash to the recorded stamp."""
    srcs = source_files()
    jars = spark_jars()
    h = hashlib.sha256()
    for f in srcs:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    stamp_file = os.path.join(CLASSES, ".stamp")
    if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
        return
    log(f"compiling {len(srcs)} sources")
    tmp = CLASSES + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cp = os.path.join(jars, "*")
    t0 = time.time()
    rc, _ = run_group(["java", "-Xss8m", "-Xmx2g", "-cp", cp, "scala.tools.nsc.Main",
                       "-d", tmp, "-classpath", cp, "-nowarn"] + srcs, BUILD_TIMEOUT_S)
    if rc != 0:
        fail("compilation failed", 1)
    with open(os.path.join(tmp, ".stamp"), "w") as fh:
        fh.write(stamp)
    shutil.rmtree(CLASSES, ignore_errors=True)
    os.rename(tmp, CLASSES)
    log(f"compiled in {time.time() - t0:.1f} s")


def heap():
    """Half of physical memory, 2 to 8 GiB."""
    try:
        with open("/proc/meminfo") as fh:
            kb = next(int(l.split()[1]) for l in fh if l.startswith("MemTotal:"))
        g = kb // 2097152
    except (OSError, StopIteration, ValueError):
        g = 2
    return f"{min(8, max(2, g))}g"


def cpus():
    return max(1, min(4, len(os.sched_getaffinity(0))))


def java(args, timeout=RUN_TIMEOUT_S):
    """Run the benchmark main; return (exit code, last stdout line)."""
    tmp = os.path.abspath(os.path.join(BUILD, "tmp"))
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"] + [f"--add-opens={p}=ALL-UNNAMED" for p in ADD_OPENS] + [
        f"-Xmx{heap()}", "-XX:+UseG1GC", "-XX:MaxGCPauseMillis=100",
        f"-Djava.io.tmpdir={tmp}", "-Duser.timezone=UTC",
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Dlog4j2.configurationFile=" + os.path.abspath("perfbench/log4j2.properties"),
        "-cp", CLASSES + os.pathsep + os.path.join(spark_jars(), "*"), MAIN] + args
    rc, out = run_group(cmd, timeout, stdout=subprocess.PIPE, text=True)
    lines = [l for l in out.splitlines() if l.strip()]
    for l in lines[:-1]:
        print(l, file=sys.stderr)
    return rc, (lines[-1] if lines else "")


def run_workload(workload, seed, seconds, trace, size="full"):
    rc, last = java([workload, str(seed), str(seconds), str(trace), size, str(cpus())])
    if rc != 0:
        fail(f"{workload} exited with {rc}", rc if rc > 0 else 1)
    try:
        result = json.loads(last)
    except ValueError:
        fail(f"{workload} printed no result", 1)
    return result


def smoke():
    """Every workload at tiny size, untraced and traced: every metric named
    in BENCHMARK.json is emitted with its unit, and every check passes."""
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bad = []
    for w in WORKLOADS:
        for trace, key in ((0, "end_to_end"), (1, "per_layer")):
            res = run_workload(w, 0, 1, trace, size="tiny")
            for m in spec[key]:
                got = res["metrics"].get(m["name"])
                if got is None or got.get("unit") != m["unit"]:
                    bad.append(f"{w} trace={trace}: {m['name']} -> {got}")
            extra = set(res["metrics"]) - {m["name"] for m in spec[key]}
            bad += [f"{w} trace={trace}: unexpected metric {n}" for n in sorted(extra)]
            if not res["correct"] or res["failed"] != 0:
                bad.append(f"{w} trace={trace}: correct={res['correct']} failed={res['failed']}")
            log(f"smoke {w} trace={trace}: {res['attempted']} ops, {res['failed']} failed")
    print(json.dumps({"smoke_ok": not bad, "problems": bad}))
    sys.exit(0 if not bad else 1)


def parse_seeds(spec):
    out = []
    for part in spec.split(","):
        a, _, b = part.partition("-")
        out += list(range(int(a), int(b or a) + 1))
    return out


def freeze(seeds):
    """Record the digests of every generated input, the seed code's recall,
    and the query_mix files and result digests in perfbench/frozen.json."""
    path = "perfbench/frozen.json"
    shutil.rmtree(os.path.join(BUILD, "cache"), ignore_errors=True)
    frozen = {"inputs": {}, "recall_at_10": {}}
    for size, ss in (("tiny", [0]), ("full", seeds)):
        rc, last = java(["freeze", size, str(cpus())] + [str(s) for s in ss], timeout=3600)
        if rc != 0:
            fail(f"freeze {size} exited with {rc}", 1)
        got = json.loads(last)
        frozen["inputs"][size] = got["inputs"]
        frozen["recall_at_10"][size] = got["recall_at_10"]
    rc, last = java(["freeze-queries", str(cpus())], timeout=600)
    if rc != 0:
        fail(f"freeze-queries exited with {rc}", 1)
    frozen["query_mix"] = json.loads(last)
    with open(path, "w") as fh:
        json.dump(frozen, fh, indent=1, sort_keys=True)
        fh.write("\n")
    log(f"wrote {path}")


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true")
    ap.add_argument("--freeze", metavar="SEEDS")
    a = ap.parse_args()
    build()
    if a.smoke:
        smoke()
    elif a.freeze:
        freeze(parse_seeds(a.freeze))
    elif a.workload:
        print(json.dumps(run_workload(a.workload, a.seed, a.seconds, a.trace)), flush=True)
    else:
        fail("give --workload, --smoke or --freeze")


if __name__ == "__main__":
    main()
