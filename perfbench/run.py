#!/usr/bin/env python3
"""The repo benchmark: one command, three workloads.

  python3 perfbench/run.py --workload catalog|orders_paced|logs_drain \
      --seed N --seconds S --trace 0|1
  python3 perfbench/run.py --selftest

Run from the repository root. The first run compiles src/main/scala and
perfbench/src with the Scala compiler shipped in Spark's jars into
.bench_build/; later runs reuse it while the sources are unchanged. Inputs
are generated from --seed under .bench_build/runs/ and removed afterwards,
unless a check failed.

The last stdout line is one JSON object: correct, attempted, failed and
metrics -- the end-to-end metrics of BENCHMARK.json with --trace 0, its
per-layer metrics with --trace 1. The lines before it name the
workload-specific end-to-end figures (catalog_s, commit_p50_ms, drain_eps, ...).
"""
import argparse
import datetime
import fcntl
import glob
import hashlib
import json
import os
import random
import re
import shutil
import signal
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.dont_write_bytecode = True  # nothing written next to the sources
import gen  # noqa: E402

ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
# Spark's jars, which carry the Scala compiler too
SPARK_JARS = os.path.join(os.environ.get("SPARK_HOME", ""), "jars")
DEADLINE = time.time() + 175
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


def sources(d):
    return sorted(glob.glob(os.path.join(d, "**", "*.scala"), recursive=True))


def compile_scala(srcs, out, classpath):
    tmp = out + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    cmd = ["java", "-XX:-UsePerfData", "-Xss8m", "-Xmx2g", "-cp", os.path.join(SPARK_JARS, "*"),
           "scala.tools.nsc.Main", "-nowarn", "-d", tmp, "-classpath", classpath] + srcs
    r = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if r.returncode != 0:
        die("compile failed:\n" + (r.stdout + r.stderr)[-4000:])
    shutil.rmtree(out, ignore_errors=True)
    os.replace(tmp, out)


def build():
    """Compiles the engine and the harness when their sources changed."""
    main_src = sources(os.path.join(ROOT, "src", "main", "scala"))
    bench_src = sources(os.path.join(HERE, "src"))
    if not main_src or not bench_src or not os.path.isdir(SPARK_JARS):
        die("expected src/main/scala, perfbench/src and $SPARK_HOME/jars")
    h = hashlib.sha256()
    for f in main_src + bench_src:
        h.update(f.encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    stamp = h.hexdigest()
    os.makedirs(BUILD, exist_ok=True)
    with open(os.path.join(BUILD, "build.lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        stamp_file = os.path.join(BUILD, "stamp")
        if os.path.exists(stamp_file) and open(stamp_file).read() == stamp:
            return
        jars = ":".join(sorted(glob.glob(os.path.join(SPARK_JARS, "*.jar"))))
        main_out = os.path.join(BUILD, "classes-main")
        compile_scala(main_src, main_out, jars)
        compile_scala(bench_src, os.path.join(BUILD, "classes-bench"), main_out + ":" + jars)
        with open(stamp_file, "w") as f:
            f.write(stamp)


def canary_ms():
    """A fixed CPU-only loop; recorded, never used to rescale."""
    t = time.perf_counter()
    x = 0
    for i in range(1_000_000):
        x = (x * 31 + i) & 0xFFFFFFFF
    return (time.perf_counter() - t) * 1000


def nproc():
    return len(os.sched_getaffinity(0))


def prepare(workload, run_dir, seed, seconds):
    if workload == "catalog":
        with open(os.path.join(HERE, "catalog.json")) as f:
            cat = json.load(f)
        names = sorted(cat["slice"])
        random.Random(seed).shuffle(names)
        for name, qs in (("order.txt", names), ("warmup.txt", cat["warmup"])):
            with open(os.path.join(run_dir, name), "w") as f:
                f.write("\n".join(qs) + "\n")
    elif workload == "orders_paced":
        gen.orders(run_dir, seed, seconds)
    elif workload == "logs_drain":
        gen.logs(run_dir, seed)
    elif workload == "selftest":
        for sub, fn in (("orders", lambda d: gen.orders(d, seed, 3, gen.UNMATCHED)),
                        ("logs", lambda d: gen.logs(d, seed))):
            os.makedirs(os.path.join(run_dir, sub))
            fn(os.path.join(run_dir, sub))


def run_jvm(workload, run_dir, seconds, trace):
    cp = ":".join([os.path.join(BUILD, "classes-bench"), os.path.join(BUILD, "classes-main"),
                   os.path.join(SPARK_JARS, "*")])
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"))
    cmd = ["java", "-XX:-UsePerfData"] + JAVA_OPENS + [
        "-Xmx3g", "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        "-Duser.timezone=UTC", f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
        "-cp", cp, "perfbench.Main", workload, run_dir, str(seconds), str(trace), ROOT]
    with open(os.path.join(run_dir, "java.log"), "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, env=env, cwd=run_dir)
        try:
            p.wait(timeout=max(10, DEADLINE - time.time() - 5))
        except subprocess.TimeoutExpired:
            die(f"{workload} did not finish in time; log in {run_dir}/java.log", 1)
        finally:
            # also on SIGTERM/SIGINT (see main): never leave the JVM behind
            if p.poll() is None:
                p.kill()
            p.wait()
    result = os.path.join(run_dir, "result.json")
    if p.returncode != 0 or not os.path.exists(result):
        with open(os.path.join(run_dir, "java.log")) as f:
            tail = f.read()[-3000:]
        die(f"{workload} exited with {p.returncode}:\n{tail}", 1)
    with open(result) as f:
        return json.load(f)


LOG_TS = re.compile(r"^(\d\d/\d\d/\d\d \d\d:\d\d:\d\d) ERROR (.*)")


def error_lines(run_dir, windows):
    """ERROR log lines, each attributed to the timed operation (query,
    batch or round) whose window holds its timestamp (second resolution)."""
    out = []
    with open(os.path.join(run_dir, "java.log"), errors="replace") as f:
        for line in f:
            m = LOG_TS.match(line)
            if not m:
                continue
            t = datetime.datetime.strptime(m.group(1), "%y/%m/%d %H:%M:%S").replace(
                tzinfo=datetime.timezone.utc).timestamp() * 1000
            owner = [w[0] for w in windows if w[1] - 1000 <= t <= w[2] + 1000]
            out.append({"at": m.group(1), "owner": owner[:3] or ["unattributed"],
                        "line": m.group(2)[:200]})
    return out


def interrupted(signum, _frame):
    raise SystemExit(f"perfbench: stopped by signal {signum}")


def main():
    signal.signal(signal.SIGTERM, interrupted)
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, default=0, choices=(0, 1))
    ap.add_argument("--selftest", action="store_true")
    a = ap.parse_args()
    workload = "selftest" if a.selftest else a.workload
    bench_json = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(bench_json):
        die("run from the repository root (BENCHMARK.json not found)")
    with open(bench_json) as f:
        spec = json.load(f)
    if workload not in [w["name"] for w in spec["workloads"]] + ["selftest"]:
        die(f"unknown workload {workload!r}")
    build()

    run_dir = os.path.join(BUILD, "runs", f"{workload}-s{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    if workload == "selftest":
        sys.exit(selftest(run_dir, a.seed))
    prepare(workload, run_dir, a.seed, a.seconds)
    canary0 = canary_ms()
    r = run_jvm(workload, run_dir, a.seconds, a.trace)
    canary1 = canary_ms()
    errors = error_lines(run_dir, r["windows"])

    for msg in r["failures"]:
        print(f"FAIL {msg}")
    for k, v in sorted(r["info"].items()):
        print(f"{k} = {v}")
    host = {"host.canary_ms": (canary0 + canary1) / 2, "log.error_lines": float(len(errors))}
    if a.trace:
        names = [m["name"] for m in spec["per_layer"]]
        traced = {f"traced.{k}": v for k, v in r["e2e"].items()}
        values = {**r["layers"], **traced, **host}
        metrics = {m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
                   for m in spec["per_layer"]}
        keep = os.path.join(BUILD, "traces")
        os.makedirs(keep, exist_ok=True)
        for f in ("spans.jsonl", "result.json"):
            if os.path.exists(os.path.join(run_dir, f)):
                shutil.copy(os.path.join(run_dir, f), os.path.join(keep, f"{workload}-s{a.seed}.{f}"))
        with open(os.path.join(keep, f"{workload}-s{a.seed}.errors.json"), "w") as f:
            json.dump(errors, f, indent=1)
        missing = [n for n in names if n not in values]
        if missing:
            print(f"not produced on {workload} (reported as 0): {' '.join(missing)}")
    else:
        metrics = {m["name"]: {"value": float(r["e2e"][m["name"]]), "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    for e in errors:
        print(f"ERROR line at {e['at']} in {','.join(e['owner'])}: {e['line']}")
    print(f"host.canary_ms before/after = {canary0:.1f} / {canary1:.1f}")
    if r["failed"] == 0:  # a failed run keeps its inputs and log
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps({"correct": r["failed"] == 0, "attempted": r["attempted"],
                      "failed": r["failed"], "metrics": metrics}))


def selftest(run_dir, seed):
    """Same seed -> same bytes, other seed -> other bytes, the truth
    matches a batch recompute through CdcEnvelope / LogSplit, and the
    streaming order chain meets the truth on orders with details that lack
    an activity or coupon row (it does not yet: see notes.json, defects)."""
    def digest(d):
        h = hashlib.sha256()
        for f in sorted(glob.glob(os.path.join(d, "**", "*"), recursive=True)):
            if os.path.isfile(f):
                h.update(os.path.relpath(f, d).encode())
                with open(f, "rb") as fh:
                    h.update(fh.read())
        return h.hexdigest()

    prepare("selftest", run_dir, seed, 0)
    again = run_dir + "-again"
    other = run_dir + "-other"
    for d, s in ((again, seed), (other, seed + 1)):
        shutil.rmtree(d, ignore_errors=True)
        os.makedirs(d)
        prepare("selftest", d, s, 0)
    ok = True
    if digest(run_dir) != digest(again):
        print("FAIL same seed gave different bytes")
        ok = False
    if digest(run_dir) == digest(other):
        print("FAIL another seed gave the same bytes")
        ok = False
    r = run_jvm("selftest", run_dir, 0, 0)
    for msg in r["failures"]:
        print(f"FAIL {msg}")
    print("truth vs batch recompute " + ("passed" if r["failed"] == 0 else "FAILED"))
    ok = ok and r["failed"] == 0
    # the paced stream over the same orders input; its staging files are
    # moved into the watched directory, so it runs after the batch check
    r = run_jvm("orders_paced", os.path.join(run_dir, "orders"), 3, 0)
    for msg in r["failures"]:
        print(f"FAIL orders_paced with unmatched details: {msg}")
    print("orders_paced with unmatched details " + ("passed" if r["failed"] == 0 else "FAILED"))
    ok = ok and r["failed"] == 0
    for d in (run_dir, again, other):
        shutil.rmtree(d, ignore_errors=True)
    print("selftest " + ("passed" if ok else "FAILED"))
    return 0 if ok else 1


if __name__ == "__main__":
    main()
