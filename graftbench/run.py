#!/usr/bin/env python3
"""graftbench launcher: build the engine and the benchmark from source,
run one workload in a fresh JVM, check its outputs, print one result.

Usage (from the repository root):

    python3 graftbench/run.py --workload fold_stream --seed 1 \
        --seconds 10 --trace 0

The last line of standard output is a JSON object with the keys
`correct`, `attempted`, `failed` and `metrics`. With `--trace 0` the
metrics are the `end_to_end` metrics of BENCHMARK.json, with `--trace 1`
its `per_layer` metrics; a traced run also writes its spans under
`.bench_build/graftbench/spans/`. `--tiny` shrinks every input (the
self-test uses it) and `--break-expected` corrupts one expected or
checked output per workload so the correctness check must fail.

Builds, inputs and scratch state stay under `.bench_build/` in the
repository root; a run removes its own scratch directory when it ends.
"""
import argparse
import glob
import hashlib
import json
import os
import re
import shutil
import signal
import subprocess
import sys

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(BENCH_DIR)
BUILD_DIR = os.path.join(ROOT, ".bench_build", "graftbench")
LAUNCH_DIR = os.path.join(BUILD_DIR, "launch")

# Steadiness controls, identical for every run and every revision.
CONTROLS = json.load(open(os.path.join(BENCH_DIR, "controls.json")))

WORKLOADS = ("fold_stream", "corpus_batch")


def fail(msg, code=2):
    print(f"graftbench: {msg}", file=sys.stderr)
    sys.exit(code)


def source_stamp():
    """Hash of every input of the build: both build definitions and all
    main sources of the engine and of the benchmark."""
    files = []
    for pattern in ("build.sbt", "project/*.properties", "project/*.sbt",
                    "src/main/**/*", "graftbench/build.sbt",
                    "graftbench/project/*.properties",
                    "graftbench/src/main/**/*"):
        files += [f for f in glob.glob(os.path.join(ROOT, pattern),
                                       recursive=True) if os.path.isfile(f)]
    h = hashlib.sha256()
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()


def build():
    """Compile with sbt when the sources changed since the last build,
    and return (classpath, engine JVM options)."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main"))):
        fail("no engine sources (build.sbt, src/main) next to the benchmark")
    stamp = source_stamp()
    stamp_file = os.path.join(LAUNCH_DIR, "stamp")
    cp_file = os.path.join(LAUNCH_DIR, "classpath.txt")
    opts_file = os.path.join(LAUNCH_DIR, "jvm_options.txt")
    fresh = (os.path.isfile(stamp_file) and os.path.isfile(cp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        if shutil.which("sbt") is None:
            fail("sbt is not on PATH")
        os.makedirs(LAUNCH_DIR, exist_ok=True)
        env = dict(os.environ, GRAFTBENCH_LAUNCH_DIR=LAUNCH_DIR)
        log = os.path.join(BUILD_DIR, "build.log")
        with open(log, "w") as out:
            rc = subprocess.call(
                ["sbt", "--batch", "-Dsbt.log.noformat=true", "writeLaunch"],
                cwd=BENCH_DIR, env=env, stdout=out, stderr=subprocess.STDOUT,
                stdin=subprocess.DEVNULL, timeout=840)
        if rc != 0 or not os.path.isfile(cp_file):
            sys.stderr.write(open(log).read()[-4000:])
            fail(f"build failed (exit {rc}); log in {log}")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    classpath = open(cp_file).read().strip()
    options = [l.strip() for l in open(opts_file) if l.strip()]
    return classpath, options


def jvm_command(classpath, engine_options, work):
    heap = CONTROLS["heap"]
    # the engine's own `run` options, with the heap fixed instead; no
    # perf-data file, so the JVM writes nothing outside the work dir
    opts = [o for o in engine_options
            if not (o.startswith("-Xmx") or o.startswith("-Xms"))]
    return (["java"] + opts + [f"-Xms{heap}", f"-Xmx{heap}",
                               "-XX:-UsePerfData",
                               *CONTROLS["jvm_flags"],
                               f"-Djava.io.tmpdir={work}/tmp",
                               "-cp", classpath, "graftbench.Main"])


def jvm_env():
    """The caller's environment without the engine's tuning variables
    (SPARK_GRAFT_*) or Spark's local-dir override, so every run and
    every revision sees the same engine settings and writes only under
    its own work directory."""
    return {k: v for k, v in os.environ.items()
            if not k.startswith("SPARK_GRAFT_")
            and k not in ("SPARK_LOCAL_DIRS", "SPARK_DRIVER_MEM")}


def run_jvm(cmd, log_path, timeout):
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=subprocess.PIPE, stderr=log,
                                stdin=subprocess.DEVNULL, text=True,
                                env=jvm_env(), start_new_session=True)
        try:
            out, _ = proc.communicate(timeout=timeout)
        except subprocess.TimeoutExpired:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            fail(f"run exceeded {timeout} s; log in {log_path}")
        except BaseException:
            os.killpg(proc.pid, signal.SIGKILL)
            proc.wait()
            raise
    if proc.returncode != 0:
        sys.stderr.write(open(log_path).read()[-4000:])
        fail(f"benchmark JVM exited {proc.returncode}; log in {log_path}")
    lines = [l for l in out.splitlines() if l.startswith("GRAFTBENCH_RESULT ")]
    if not lines:
        fail(f"benchmark JVM printed no result; log in {log_path}")
    return json.loads(lines[-1][len("GRAFTBENCH_RESULT "):])


def oracle_check(corpus_dir, out_dir):
    """Each row's Spark output against its DuckDB oracle SQL, compared by
    the engine's own local verifier (column names and types, row count,
    every cell NaN-equal). Returns (attempted, failed, notes)."""
    verifier = os.path.join(ROOT, "tools", "local_verify.py")
    rows = len(json.load(open(os.path.join(out_dir, "oracle_sql.json"))))
    p = subprocess.run([sys.executable, verifier, corpus_dir, out_dir],
                       capture_output=True, text=True, timeout=120)
    summary = re.search(r"^== (\d+) pass, (\d+) fail, (\d+) rows-only ==$",
                        p.stdout, re.M)
    passed = int(summary.group(1)) if summary else 0
    notes = [f"corpus_batch {l.strip()}" for l in p.stdout.splitlines()
             if l.startswith(("FAIL ", "ROWS-ONLY ", "  first diff "))]
    if not summary:
        notes.append(f"corpus_batch: verifier exited {p.returncode} "
                     f"without a summary: {p.stderr[-400:]}")
    return rows, rows - passed, notes


def declared(kind):
    spec = json.load(open(os.path.join(ROOT, "BENCHMARK.json")))
    return {m["name"]: m["unit"] for m in spec[kind]}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--tiny", action="store_true")
    ap.add_argument("--break-expected", action="store_true")
    a = ap.parse_args()

    classpath, engine_options = build()
    work = os.path.join(BUILD_DIR, f"work-{a.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    spans_dir = os.path.join(BUILD_DIR, "spans")
    os.makedirs(spans_dir, exist_ok=True)
    suffix = "-tiny" if a.tiny else ""
    log = os.path.join(BUILD_DIR, f"{a.workload}-seed{a.seed}-trace{a.trace}{suffix}.log")
    passes = CONTROLS["workloads"][a.workload]
    args = ["--workload", a.workload, "--seed", str(a.seed),
            "--seconds", str(a.seconds), "--trace", str(a.trace),
            "--work", work, "--cores", str(CONTROLS["local_cores"]),
            "--warm-passes", str(passes["warm_passes"]),
            "--min-passes", str(passes["min_timed_passes"])]
    if a.trace:
        args += ["--spans", os.path.join(
            spans_dir, f"{a.workload}-seed{a.seed}{suffix}.jsonl")]
    if a.tiny:
        args += ["--tiny", "--warm-passes", "1", "--min-passes", "1"]
    if a.break_expected:
        args.append("--break-expected")
    try:
        res = run_jvm(jvm_command(classpath, engine_options, work) + args,
                      log, CONTROLS["jvm_timeout_s"])
        attempted, failed = res["attempted"], res["failed"]
        notes = list(res["notes"])
        if res.get("oracle_dir"):
            n, bad, why = oracle_check(os.path.join(work, "corpus"),
                                       res["oracle_dir"])
            attempted, failed, notes = attempted + n, failed + bad, notes + why
    finally:
        shutil.rmtree(work, ignore_errors=True)

    want = declared("per_layer" if a.trace else "end_to_end")
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        fail(f"printed metrics do not match BENCHMARK.json: "
             f"missing {sorted(set(want) - set(got))}, "
             f"extra {sorted(set(got) - set(want))}, "
             f"unit changes {sorted(k for k in want if k in got and got[k] != want[k])}")
    for n in notes:
        print(f"graftbench: check failed: {n}", file=sys.stderr)
    print(f"graftbench: {a.workload} warm={res['warm_passes']} "
          f"timed={res['timed_passes']}", file=sys.stderr)
    metrics = {k: {"value": v["value"], "unit": v["unit"]}
               for k, v in res["metrics"].items()}
    print(json.dumps({"correct": failed == 0, "attempted": attempted,
                      "failed": failed, "metrics": metrics}))


if __name__ == "__main__":
    main()
