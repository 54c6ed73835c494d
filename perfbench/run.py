#!/usr/bin/env python3
"""The repository benchmark: FA ETL and iterative-loop workloads.

    python3 perfbench/run.py                      # every workload, a table
    python3 perfbench/run.py --workload fa_etl --seed 3 --seconds 10 --trace 0

Run from the root of a source checkout. The first run compiles the engine
and the harness in perfbench/src with the Scala compiler in SPARK_HOME;
later runs reuse the classes until a Scala source changes. Each run starts
one JVM (local[<cores>], shuffle partitions = cores), which sets up the
session, runs one cold repetition and then warm repetitions for --seconds
(at least nine; wall_s is the median of those after the first four). The
outputs are checked here: query results against their DuckDB oracle SQL
through tools/check.py, pipeline runs by row count and checksum, which at
seed 1 must equal pinned values. The last line
printed is one JSON object with keys correct, attempted, failed and
metrics; --trace 1 reports the per-layer metrics instead of the end-to-end
ones. The exit code is 0 only when every output is correct.
"""
import argparse
import contextlib
import hashlib
import glob
import importlib.util
import io
import json
import os
import re
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".bench_build", "perfbench")
sys.path.insert(0, HERE)

WORKLOADS = ["fa_etl", "iter_loops"]
# tables each query workload reads, and the scale its data is generated at
QUERY_TABLES = {
    "iter_loops": ["events"],
}
QUERY_SF = 0.001
FA_SIZE = (2, 2500)          # counties x properties per county
# the merged panel of the FA_SIZE corpus at seed 1: rows and the sum of
# xxhash64 over all columns
FA_PINNED = {1: (1618, "-273092424834338545080")}
RUN_LIMIT_S = 170
BUILD_LIMIT_S = 850
# Spark 4 on JDK 17 needs these outside spark-submit, as in the root build
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def _spec():
    path = os.path.join(ROOT, "BENCHMARK.json")
    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


SPEC = _spec()


class BenchError(Exception):
    pass


def source_files():
    """The Scala sources of the engine and the harness, sorted."""
    files = []
    for top in (os.path.join(ROOT, "src", "main", "scala"), os.path.join(HERE, "src")):
        for d, _, names in os.walk(top):
            files += [os.path.join(d, n) for n in names if n.endswith(".scala")]
    return sorted(files)


def source_sha(files):
    h = hashlib.sha256()
    for p in files:
        h.update(os.path.relpath(p, ROOT).encode())
        with open(p, "rb") as f:
            h.update(hashlib.sha256(f.read()).digest())
    return h.hexdigest()


def java():
    home = os.environ.get("JAVA_HOME")
    return os.path.join(home, "bin", "java") if home else "java"


def build(files, sha):
    """Compile the engine and the harness together with the Scala compiler
    that ships in SPARK_HOME's jars, into .bench_build; returns the runtime
    classpath. Needs no build tool, no network and no state outside the
    checkout."""
    spark_home = os.environ.get("SPARK_HOME")
    if not spark_home:
        raise BenchError("SPARK_HOME must name a Spark distribution")
    jars = sorted(glob.glob(os.path.join(spark_home, "jars", "*.jar")))
    classes = os.path.join(WORK, "classes")
    classpath = os.pathsep.join([classes] + jars)
    stamp = os.path.join(WORK, "build.sha")
    if os.path.exists(stamp):
        with open(stamp) as f:
            if f.read() == sha:
                return classpath
    shutil.rmtree(classes, ignore_errors=True)
    os.makedirs(classes)
    compiler = [j for j in jars if re.search(
        r"scala-(compiler|library|reflect)-[0-9.]+\.jar$", j)]
    args = os.path.join(WORK, "sources.txt")
    with open(args, "w") as f:
        f.write("\n".join(files) + "\n")
    log = os.path.join(WORK, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            [java(), "-XX:-UsePerfData", "-Xss16m", "-Xmx3g",
             "-cp", os.pathsep.join(compiler),
             "scala.tools.nsc.Main", "-nowarn", "-d", classes,
             "-classpath", os.pathsep.join(jars), "@" + args],
            stdout=out, stderr=out, timeout=BUILD_LIMIT_S)
    if p.returncode != 0:
        raise BenchError(f"build failed, see {log}")
    with open(stamp, "w") as f:
        f.write(sha)
    return classpath


def driver_heap():
    """Half the host memory in whole GB, between 2 and 8 (the Tier-1 rule)."""
    try:
        with open("/proc/meminfo") as f:
            kb = next(int(l.split()[1]) for l in f if l.startswith("MemTotal:"))
        return f"{min(8, max(2, kb // 2097152))}g"
    except (OSError, StopIteration):
        return "2g"


def query_data(workload, seed):
    """The workload's generated tables; reused for the same seed."""
    import datagen
    d = os.path.join(WORK, "data", f"{workload}-s{seed}")
    done = os.path.join(d, "sizes.json")
    if not os.path.exists(done):
        shutil.rmtree(d, ignore_errors=True)
        sizes = datagen.write(d, seed, QUERY_SF)
        with open(done, "w") as f:
            json.dump(sizes, f)
    with open(done) as f:
        return d, json.load(f)


def run_jvm(cp, workload, seed, seconds, trace, data, extra, deadline):
    run_dir = os.path.join(WORK, f"run-{workload}")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp)
    # no hsperfdata file: the JVM would write it outside the checkout
    cmd = [java(), "-XX:-UsePerfData", f"-Xmx{driver_heap()}"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", f"java.base/{p}=ALL-UNNAMED"]
    cmd += [f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')}",
            "-Dspark.ui.enabled=false", "-cp", cp, "perfbench.Main",
            "--workload", workload, "--seed", str(seed), "--seconds",
            str(seconds), "--trace", str(trace), "--work", run_dir,
            "--data", data] + extra
    cmd += ["--launch-ms", str(int(time.time() * 1000))]
    with open(os.path.join(run_dir, "jvm.log"), "w") as log:
        p = subprocess.Popen(cmd, cwd=run_dir, stdout=log, stderr=log,
                             start_new_session=True)
        try:
            code = p.wait(timeout=max(1, deadline - time.time()))
        except subprocess.TimeoutExpired:
            os.killpg(p.pid, signal.SIGKILL)
            p.wait()
            raise BenchError(f"{workload} run exceeded its time limit")
    res = os.path.join(run_dir, "result.json")
    if code != 0 or not os.path.exists(res):
        raise BenchError(f"{workload} JVM exited {code}, see {run_dir}/jvm.log")
    with open(res) as f:
        return run_dir, json.load(f)


def oracle_check(data, out_dir, queries):
    """tools/check.py's comparison of every dumped result with its oracle;
    returns the queries that did not match."""
    spec = importlib.util.spec_from_file_location(
        "check", os.path.join(ROOT, "tools", "check.py"))
    check = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(check)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        check.main(data, out_dir)
    passed = {l.split()[1].rstrip(":") for l in buf.getvalue().splitlines()
              if l.startswith("PASS ")}
    with open(os.path.join(out_dir, "check.txt"), "w") as f:
        f.write(buf.getvalue())
    return [q for q in queries if q not in passed]


def percentile_note(xs):
    """Median, sample count and the highest percentile the count supports
    with ten samples beyond it (the maximum when there are fewer)."""
    xs = sorted(xs)
    n = len(xs)
    if n >= 20:
        p = 100 * (n - 10) // n
        return f"median={statistics.median(xs):.4f} n={n} p{p}={xs[n - 11]:.4f}"
    return (f"median={statistics.median(xs):.4f} n={n} max={xs[-1]:.4f}"
            if xs else "n=0")


def run_workload(args, cp, sha, deadline):
    w = args.workload
    extra = ["--inject-failure"] if args.inject_failure else []
    if w == "fa_etl":
        data = os.path.join(WORK, "data")
        extra += ["--fa-counties", str(FA_SIZE[0]), "--fa-props", str(FA_SIZE[1])]
    else:
        data, sizes = query_data(w, args.seed)
    run_dir, r = run_jvm(cp, w, args.seed, args.seconds, args.trace, data,
                         extra, deadline)

    attempted, failed = r["attempted"], r["failed"]
    problems = list(r["errors"])
    if w == "fa_etl":
        inp = r["fa_input"]
        in_rows, in_bytes = inp["rows"], inp["bytes"]
        # a panel is wrong if it differs from the pinned one or, without a
        # pin, from the cold run's; each wrong panel counts as failed
        outs = [(x["rows"], x["checksum"]) for x in r["fa_results"]]
        want = FA_PINNED.get(args.seed) or (outs[0] if outs else None)
        wrong = [o for o in outs if o != want or o[0] <= 0]
        failed += len(wrong)
        if wrong:
            problems.append(f"merged panels {sorted(set(outs))}, expected "
                            f"{want} with rows > 0")
        if args.trace and "traced" not in {x["label"] for x in r["fa_results"]}:
            problems.append("no traced pipeline run completed")
    else:
        tables = QUERY_TABLES[w]
        in_rows = sum(sizes[t][0] for t in tables)
        in_bytes = sum(sizes[t][1] for t in tables)
        with open(os.path.join(run_dir, "out", "oracle_sql.json")) as f:
            queries = sorted(json.load(f))
        bad = oracle_check(data, os.path.join(run_dir, "out"), queries)
        failed += len(bad)
        problems += [f"{q}: result differs from its oracle" for q in bad]
    correct = not problems and failed == 0 and r["wall_s"] is not None

    ok_ratio = (attempted - failed) / attempted if attempted else 0.0
    e2e = {
        "setup_s": (r["setup_s"], "s"),
        "first_s": (r["first_s"], "s"),
        "wall_s": (r["wall_s"], "s"),
        "rows_per_s": (in_rows / r["wall_s"] if r["wall_s"] else None, "rows/s"),
        "ok_ratio": (ok_ratio, "ratio"),
    }
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]} if SPEC else {}
    if args.trace:
        metrics = {k: {"value": float(r.get(k) or 0.0), "unit": u}
                   for k, u in units.items()}
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()
                   if v is not None}
    stamp = {
        "workload": w, "seed": args.seed, "nproc": os.cpu_count(),
        "cores": r["cores"], "xmx": driver_heap(), "versions": r["versions"],
        "git_sha": git_sha(), "source_sha256": sha,
        "input_rows": in_rows, "input_bytes": in_bytes,
        "wall": percentile_note(r["wall_samples"]), "trace": args.trace,
    }
    if problems:
        for p in problems:
            print(f"INCORRECT {w}: {p}")
    for k, (v, u) in e2e.items():
        shown = "n/a" if v is None else round(v, 4)
        print(f"{w:<11} {k:<12} {shown!s:>14} {u}")
    print(json.dumps({"stamp": stamp}))
    return {"correct": correct, "attempted": attempted, "failed": failed,
            "metrics": metrics}


def git_sha():
    try:
        return subprocess.run(["git", "rev-parse", "HEAD"], cwd=ROOT, text=True,
                              capture_output=True, timeout=10).stdout.strip() \
            or "none"
    except (OSError, subprocess.SubprocessError):
        return "none"


def main():
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", default="all", choices=WORKLOADS + ["all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=SPEC["run_seconds"] if SPEC else 10)
    ap.add_argument("--trace", type=int, default=0, choices=[0, 1])
    ap.add_argument("--inject-failure", action="store_true",
                    help="add a failing operation to every repetition")
    args = ap.parse_args()
    start = time.time()
    try:
        if SPEC is None or not os.path.isdir(os.path.join(ROOT, "src", "main", "scala", "graft")):
            raise BenchError("run from a source checkout: BENCHMARK.json and "
                             "src/main/scala/graft are required")
        files = source_files()
        sha = source_sha(files)
        cp = build(files, sha)
        names = WORKLOADS if args.workload == "all" else [args.workload]
        results = {}
        for w in names:
            args.workload = w
            results[w] = run_workload(args, cp, sha, time.time() + RUN_LIMIT_S)
    except (BenchError, subprocess.SubprocessError, OSError, KeyError) as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2
    if len(results) == 1:
        out = next(iter(results.values()))
    else:
        out = {"correct": all(r["correct"] for r in results.values()),
               "attempted": sum(r["attempted"] for r in results.values()),
               "failed": sum(r["failed"] for r in results.values()),
               "metrics": {f"{w}.{k}": v for w, r in results.items()
                           for k, v in r["metrics"].items()}}
    print(json.dumps({k: out[k] for k in ("correct", "attempted", "failed",
                                          "metrics")}))
    print(f"perfbench: {time.time() - start:.1f} s", file=sys.stderr)
    return 0 if out["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
