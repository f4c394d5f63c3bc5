#!/usr/bin/env python3
"""graft engine benchmark: one workload, one seed, one measurement window.

Run from the repository root:

    python3 perfbench/run.py --workload fame_entities --seed 1 --seconds 20 --trace 0

It builds the harness (perfbench/build.sbt, which compiles the engine
sources of this checkout) when the sources changed, generates the
workload's inputs from the seed, runs the closed-loop measurement in one
JVM, checks the engine's output against an engine-free reference, prints one
line per metric, and prints the result JSON as the last line of stdout.
With --trace 0 the metrics are the end-to-end ones; with --trace 1 they are
the per-layer ones, taken from a traced run. See perfbench/README.md.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

T0 = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.getcwd()
BUILD = os.path.join(ROOT, ".bench_build")
DEADLINE_S = 175.0

sys.path.insert(0, HERE)
sys.dont_write_bytecode = True

WORKLOADS = ("fame_entities", "fame_long_script", "fame_stream")

# the gated end-to-end metrics; the tails are printed but not gated (see
# the README: at the gated run length no percentile has ten samples beyond it)
END_TO_END = [("run_s", "s"), ("compile_s", "s"), ("exec_s", "s"),
              ("batch_s", "s"), ("setup_s", "s")]


def per_layer_units():
    units = {
        "parse.ms": "ms", "parse.statements": "count", "parse.chars": "count",
        "plan.ms": "ms", "plan.levels": "count", "plan.max_level_width": "count",
        "compile.ms": "ms", "compile.expr_nodes": "count",
        "api.build_ms": "ms", "api.build_jobs": "count",
        "api.build_job_ms": "ms", "api.build_driver_ms": "ms",
        "catalyst.analysis_ms": "ms", "catalyst.optimization_ms": "ms",
        "catalyst.planning_ms": "ms", "catalyst.logical_nodes": "count",
        "catalyst.physical_nodes": "count", "catalyst.exchanges": "count",
        "catalyst.windows": "count", "catalyst.codegen_stages": "count",
        "exec.ms": "ms", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.task_ms": "ms",
        "exec.shuffle_write_bytes": "bytes", "exec.shuffle_read_bytes": "bytes",
        "exec.spill_bytes": "bytes", "exec.driver_gap_ms": "ms",
    }
    for k in ("convert", "chain", "nlrx", "shiftpct"):
        units[f"kernels.{k}_ms"] = "ms"
        units[f"kernels.{k}_jobs"] = "count"
        units[f"kernels.{k}_shuffle_bytes"] = "bytes"
    units.update({
        "streaming.batch_ms": "ms", "streaming.jobs_per_batch": "count",
        "streaming.bytes_written_per_batch": "bytes",
        "streaming.rows_in": "count", "streaming.rows_emitted": "count",
        "streaming.rows_held": "count", "streaming.carry_rows": "count",
        "streaming.state_rows": "count", "streaming.reeval_ratio": "ratio",
        "jvm.heap_peak_mb": "MB", "jvm.gc_ms": "ms",
        "trace.overhead_ratio": "ratio",
    })
    return units


def die(msg, code=2):
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(code)


# ------------------------------------------------------------------ build

def _files_under(path):
    for dirpath, dirnames, filenames in os.walk(path):
        dirnames[:] = sorted(d for d in dirnames
                             if d not in ("target", "project", ".bsp"))
        for f in sorted(filenames):
            yield os.path.join(dirpath, f)


def source_stamp():
    h = hashlib.sha256()
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(HERE, "build.sbt")]
    for d in (os.path.join(ROOT, "project"), os.path.join(HERE, "project"),
              os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src")):
        files.extend(_files_under(d))
    for f in files:
        if os.path.isfile(f):
            h.update(os.path.relpath(f, ROOT).encode())
            with open(f, "rb") as fh:
                h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile the harness and the engine offline; returns the classpath."""
    stamp = source_stamp()
    cp_file = os.path.join(BUILD, "classpath.txt")
    stamp_file = os.path.join(BUILD, "stamp")
    if os.path.isfile(cp_file) and os.path.isfile(stamp_file):
        with open(stamp_file) as f:
            if f.read() == stamp:
                with open(cp_file) as g:
                    return g.read().strip()
    os.makedirs(BUILD, exist_ok=True)
    os.makedirs(os.path.join(BUILD, "tmp"), exist_ok=True)
    flags = ["-Dsbt.log.noformat=true", "-Dsbt.offline=true",
             "-Dsbt.server.autostart=false",
             f"-Dsbt.global.base={BUILD}/sbt-global",
             f"-Dsbt.ivy.home={BUILD}/ivy",
             f"-Djava.io.tmpdir={BUILD}/tmp", f"-Djna.tmpdir={BUILD}/tmp"]
    repos = os.path.expanduser("~/.sbt/repositories")
    if os.path.isfile(repos):
        flags += ["-Dsbt.override.build.repos=true",
                  f"-Dsbt.repository.config={repos}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    t = time.time()
    p = subprocess.run(["sbt", "--batch", *flags, "export Runtime/fullClasspath"],
                       cwd=HERE, env=env, capture_output=True, text=True,
                       timeout=840)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stdout[-4000:] + p.stderr[-4000:])
        die("build failed", 3)
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(stamp_file, "w") as f:
        f.write(stamp)
    print(f"built harness in {time.time() - t:.1f} s", file=sys.stderr)
    return cp


# -------------------------------------------------------------------- jvm

ADD_OPENS = [
    f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
        "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
        "java.net", "java.nio", "java.util", "java.util.concurrent",
        "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
        "sun.security.action", "sun.util.calendar")]


def run_jvm(cp, args, work, t_setup):
    os.makedirs(os.path.join(work, "tmp"), exist_ok=True)
    # a fixed-size heap and a collector without concurrent threads: with the
    # default growing G1 heap, iterations ran about 20% slower and drifted
    cmd = ["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-Duser.timezone=UTC",
           f"-Djava.io.tmpdir={work}/tmp",
           f"-Dlog4j2.configurationFile={HERE}/log4j2.properties",
           *ADD_OPENS, "-cp", cp, "graftbench.Main",
           "--workload", args.workload, "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--work", work,
           "--t0-ms", str(int(t_setup * 1000))]
    log_path = os.path.join(work, "jvm.log")
    budget = max(30.0, DEADLINE_S - (time.time() - T0))
    with open(log_path, "w") as log:
        p = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT)
        try:
            code = p.wait(timeout=budget)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            code = None
    if code != 0:
        with open(log_path) as f:
            sys.stderr.write("".join(f.readlines()[-40:]))
        return None
    with open(os.path.join(work, "result.json")) as f:
        return json.load(f)


# ------------------------------------------------------------------ stats

def median(xs):
    return statistics.median(xs) if xs else float("nan")


def tail(xs):
    """(value, percentile): the highest percentile with >= 10 samples beyond
    it; with 10 samples or fewer no such percentile exists and the median
    stands in."""
    s = sorted(xs)
    n = len(s)
    if n == 0:
        return float("nan"), 0.0
    if n <= 10:
        return median(s), 50.0
    k = n - 10
    return s[k - 1], 100.0 * k / n


# ------------------------------------------------------------------ check

def check(workload, gen, work):
    """Engine output against the engine-free reference; returns errors."""
    import numpy as np
    import workloads as wl
    out = os.path.join(work, "check")
    errors = []
    if workload == "fame_entities":
        got, keys, dates, nrows = wl.read_panel(out, "ENTITY", wl.ENTITIES_OUT)
        want = wl.entities_reference(gen["dates"], gen["cols"])
        if keys != gen["key_values"] or dates != gen["dates"] or \
                nrows != len(keys) * len(dates):
            errors.append(f"row set: {nrows} rows, {len(keys)} keys, "
                          f"{len(dates)} dates")
        else:
            for c in wl.ENTITIES_OUT:
                n, bad = wl.compare_arrays(got[c], want[c], c)
                if n:
                    errors.append(f"{c}: {n} cells differ: {bad}")
    elif workload == "fame_long_script":
        want = wl.long_reference(gen)
        inputs = {k.upper() for k in gen["inputs"]}
        cols = [c for c in want if c not in inputs]
        got, _, dates, nrows = wl.read_panel(out, None, cols)
        if dates != gen["dates"] or nrows != len(dates):
            errors.append(f"row set: {nrows} rows, {len(dates)} dates")
        else:
            for c in cols:
                w = np.array([np.nan if v is None else v for v in want[c]],
                             dtype=float)[None, :]
                n, bad = wl.compare_arrays(got[c], w, c)
                if n:
                    errors.append(f"{c}: {n} cells differ: {bad}")
    else:
        errors.extend(wl.check_stream(out, gen))
    return errors


# ------------------------------------------------------------------- main

def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, "build.sbt")) or not os.path.isdir(
            os.path.join(ROOT, "src", "main", "scala", "graft")):
        die("engine sources not found: run from the repository root")
    import workloads as wl

    cp = build()
    # set-up is timed from here: the build is not part of it
    t_setup = time.time()
    work = os.path.join(BUILD, "work",
                        f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        gen = {"fame_entities": wl.gen_entities,
               "fame_long_script": wl.gen_long,
               "fame_stream": wl.gen_stream}[args.workload](args.seed, work)
        with open(os.path.join(work, "script.fame"), "w") as f:
            f.write(gen["script"])
        res = run_jvm(cp, args, work, t_setup)
        if res is None:
            print(json.dumps({"correct": False, "attempted": 1, "failed": 1,
                              "metrics": {}}))
            return 1
        attempted, failed = res["attempted"], res["failed"]
        for e in res["errors"]:
            print(f"error: {e}")
        attempted += 1
        try:
            problems = check(args.workload, gen, work)
        except Exception as e:          # unreadable output is a failed check
            problems = [f"check could not read the output: {e!r}"]
        for p in problems:
            print(f"check failed: {p}")
        if problems:
            failed += 1
        correct = not problems and res["failed"] == 0

        print(f"{args.workload} seed={args.seed} trace={args.trace}: "
              f"{res['iterations']} iterations, staging rounds "
              f"{', '.join(f'{x:.3f}' for x in res['setup_rounds_s'])} s, "
              f"warm-up {res['warmup_s']:.3f} s, "
              f"first timed iteration at {res['first_timed_s']:.3f} s")
        metrics = {}
        if args.trace == 0:
            s = res["samples"]
            vals = {}
            for m in ("run_s", "compile_s", "exec_s", "batch_s"):
                vals[m] = (median(s[m]), "median", len(s[m]))
            for m in ("run_s", "batch_s"):
                v, p = tail(s[m])
                vals[m + "_tail"] = (v, f"p{p:.1f}", len(s[m]))
            vals["setup_s"] = (
                res["session_s"] + median(res["setup_rounds_s"]) + res["warmup_s"],
                f"session {res['session_s']:.3f} s + median staging round"
                f" + warm-up", len(res["setup_rounds_s"]))
            for m in ("run_s", "compile_s", "exec_s", "batch_s"):
                print(f"samples {m}: " + " ".join(f"{x:.3f}" for x in s[m]))
            for name, (v, how, n) in vals.items():
                print(f"metric {name} = {v:.6f} s ({how}, n={n})")
            for name, unit in END_TO_END:
                metrics[name] = {"value": vals[name][0], "unit": unit}
            print(f"metric error_rate = {failed / attempted:.6f} "
                  f"({failed} failed of {attempted} operations)")
        else:
            spans = os.path.join(work, "trace", "spans.jsonl")
            if os.path.isfile(spans):
                keep = os.path.join(BUILD, "traces")
                os.makedirs(keep, exist_ok=True)
                shutil.copy(spans, os.path.join(
                    keep, f"{args.workload}-{args.seed}.spans.jsonl"))
            layers = res["layers"]
            for name, unit in per_layer_units().items():
                v = layers.get(name)
                note = ""
                if v is None:
                    v, note = 0.0, " (layer does not run in this workload)"
                print(f"metric {name} = {v:.6g} {unit}{note}")
                metrics[name] = {"value": v, "unit": unit}
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
