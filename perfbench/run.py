#!/usr/bin/env python3
"""Benchmark of the graft engine, driven from outside the engine.

Usage (from the repository root):
  python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

It builds the engine and the harness from source (cached by a source
hash under .bench_build/), generates the workload's inputs from the
seed, runs perfbench.Harness in one JVM on local[nproc] in a closed
loop with one client, checks the outputs, prints every metric by name
and unit, and ends with one JSON line:
  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones of BENCHMARK.json,
with --trace 1 the per-layer ones. A failed step or check makes the
exit code 1.
"""
import argparse
import hashlib
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import checks  # noqa: E402
import gen_fixture  # noqa: E402
import gen_tweets  # noqa: E402
import layers  # noqa: E402
from workloads import WORKLOADS, kind_of  # noqa: E402

ROOT = os.path.dirname(HERE)
BUILD = os.path.join(ROOT, ".bench_build")
HARNESS = os.path.join(HERE, "harness")
CLASSPATH = os.path.join(BUILD, "classpath")
ENGINE_SRC = os.path.join(ROOT, "src", "main", "scala")
DEADLINE_S = 170      # a run must end within 180 s of its build
SETUPS = 3            # set-up repetitions; setup_s is their median
DIST_ITERS = 20       # iterations of the distributed GD / NN loops
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect",
             "java.io", "java.net", "java.nio", "java.util",
             "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action",
             "sun.util.calendar"]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def fail(msg):
    log(msg)
    sys.exit(2)


def source_hash():
    h = hashlib.sha256()
    with open(os.path.join(ROOT, "build.sbt"), "rb") as fh:
        h.update(fh.read())
    for base in (ENGINE_SRC, HARNESS):
        for d, dirs, files in sorted(os.walk(base)):
            dirs[:] = sorted(x for x in dirs if x != "target")
            for f in sorted(files):
                if f.endswith((".scala", ".sbt", ".properties")):
                    p = os.path.join(d, f)
                    h.update(p[len(ROOT):].encode())
                    with open(p, "rb") as fh:
                        h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile engine + harness with sbt unless the sources are unchanged;
    returns the harness's runtime classpath, as sbt reports it."""
    if not os.path.isdir(ENGINE_SRC):
        fail(f"engine sources not found under {ENGINE_SRC}")
    for tool in ("sbt", "java"):
        if shutil.which(tool) is None:
            fail(f"{tool} not found on PATH")
    stamp = os.path.join(BUILD, "stamp")
    digest = source_hash()
    if os.path.exists(CLASSPATH) and os.path.exists(stamp) \
            and open(stamp).read() == digest:
        with open(CLASSPATH) as f:
            return f.read()
    repo_cfg = os.path.expanduser("~/.sbt/repositories")
    tmp = os.path.join(BUILD, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # JVM options go on the command line, one argument each, so a
    # checkout path with spaces survives (SBT_OPTS is split on spaces).
    sbt_opts = ["-Dsbt.offline=true", "-J-Xmx2g", "-J-XX:-UsePerfData",
                f"-Djava.io.tmpdir={tmp}"]
    if os.path.exists(repo_cfg):
        sbt_opts += ["-Dsbt.override.build.repos=true",
                     f"-Dsbt.repository.config={repo_cfg}"]
    env = dict(os.environ, COURSIER_MODE="offline")
    env.pop("SBT_OPTS", None)
    os.makedirs(BUILD, exist_ok=True)
    r = subprocess.run(["sbt", "--batch", "--no-server",
                        "-Dsbt.log.noformat=true"] + sbt_opts +
                       ["compile", "export Runtime/fullClasspath"],
                       cwd=HARNESS, env=env, stdout=subprocess.PIPE,
                       stderr=subprocess.STDOUT, text=True, timeout=850)
    with open(os.path.join(BUILD, "build.log"), "w") as out:
        out.write(r.stdout)
    # `export` prints the value as the last line without a log prefix
    lines = [x for x in r.stdout.splitlines() if x and not x.startswith("[")]
    if r.returncode != 0 or not lines:
        fail("build failed; see .bench_build/build.log")
    with open(CLASSPATH, "w") as f:
        f.write(lines[-1])
    with open(stamp, "w") as f:
        f.write(digest)
    return lines[-1]


def box():
    """Settings pinned the way the repository's tier-1 command derives
    them: cores = nproc, heap = MemTotal / 2 clamped to [2, 8] GiB."""
    cores = len(os.sched_getaffinity(0))
    mem_kib = 0
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith("MemTotal:"):
                mem_kib = int(line.split()[1])
    heap_g = min(8, max(2, mem_kib // 2097152))
    return cores, f"{heap_g}g"


def make_inputs(spec, seed, run_dir):
    t = time.perf_counter()
    fixture = os.path.join(run_dir, "fixture")
    csv = os.path.join(run_dir, "train.csv")
    if "tweets" in spec:
        gen_tweets.write(csv, seed, spec["tweets"])
        fixture = run_dir  # unused by the tweet steps
    else:
        gen_fixture.write(fixture, seed, spec["scale"], spec["docs"],
                          spec["vecs"])
    return fixture, csv, time.perf_counter() - t


def run_harness(classpath, spec, seed, seconds, trace, fixture, csv, run_dir,
                started):
    cores, heap = box()
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = (["java"] +
           [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-XX:-UsePerfData",  # no hsperfdata file outside the checkout
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
            f"-Djava.io.tmpdir={tmp}", f"-Dspark.local.dir={tmp}",
            f"-Dspark.sql.warehouse.dir={os.path.join(tmp, 'warehouse')}",
            f"-Xmx{heap}",
            "-cp", classpath, "perfbench.Harness",
            "--steps", ",".join(spec["steps"]), "--fixture", fixture,
            "--out", run_dir, "--seed", str(seed), "--seconds", str(seconds),
            "--trace", "1" if trace else "0", "--cores", str(cores),
            "--setups", str(SETUPS), "--dist-iters", str(DIST_ITERS)])
    env = dict(os.environ, SPARK_GRAFT_TRAIN_CSV=csv)
    log_path = os.path.join(run_dir, "harness.log")
    budget = DEADLINE_S - (time.monotonic() - started)
    with open(log_path, "w") as out:
        proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdout=out,
                                stderr=subprocess.STDOUT)
        try:
            code = proc.wait(timeout=max(budget, 1))
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            fail(f"harness exceeded the run deadline; see {log_path}")
    if code != 0:
        fail(f"harness exited with {code}; see {log_path}")
    with open(os.path.join(run_dir, "run.json")) as f:
        return json.load(f)


def majority_rate(csv):
    import csv as csvmod
    with open(csv, newline="", encoding="utf-8") as f:
        labels = [r["target"] for r in csvmod.DictReader(f)]
    pos = sum(1 for x in labels if x == "1") / len(labels)
    return max(pos, 1 - pos)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()
    spec = WORKLOADS[a.workload]

    classpath = build()
    started = time.monotonic()
    run_dir = os.path.join(BUILD, "runs", f"{a.workload}-{a.seed}-t{a.trace}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    fixture, csv, gen_s = make_inputs(spec, a.seed, run_dir)
    raw = run_harness(classpath, spec, a.seed, a.seconds, a.trace, fixture,
                      csv, run_dir, started)

    steps = [r for r in raw["records"] if r["step"] != "_pass_end"]
    failures = [f"{r['step']} (pass {r['pass']}): {r['error']}"
                for r in steps if r.get("error")]
    failures += checks.rows(steps, raw["checks"])
    if raw["checks"]:
        failures += checks.oracle(fixture, os.path.join(run_dir, "results"),
                                  raw["checks"])
    attempted = len(steps) + len(raw["checks"])
    if "tweets" in spec:
        failures += checks.classifiers(raw["results"], majority_rate(csv),
                                       gen_tweets.SIGNAL_MARGIN)
        failures += checks.parity(raw["results"])
        attempted += sum(1 for k in raw["results"]
                         if k.startswith("classifier:")) + len(checks.PARITY_PAIRS)
    e2e = layers.end_to_end(raw, gen_s)
    extra = layers.workload_metrics(raw, kind_of)
    per_layer = layers.per_layer(raw, spec) if a.trace else {}

    fp = raw["fingerprint"]
    print("fingerprint " + json.dumps(fp, sort_keys=True))
    print(f"fail_ratio {len(failures)}/{attempted} "
          f"({len(failures) / attempted:.4f})")
    for msg in failures:
        print(f"FAILED {msg}")
    shown = per_layer if a.trace else e2e
    for name, (value, unit) in {**shown, **({} if a.trace else extra)}.items():
        print(f"metric {name} {value:.6g} {unit}")
    for name, note in layers.notes(raw, kind_of).items():
        print(f"note {name} {note}")

    records = os.path.join(BUILD, "records")
    os.makedirs(records, exist_ok=True)
    record = {"workload": a.workload, "seed": a.seed, "trace": a.trace,
              "fingerprint": fp, "failures": failures,
              "metrics": {k: v for k, (v, _) in {**e2e, **extra, **per_layer}.items()}}
    with open(os.path.join(records, f"{a.workload}-{a.seed}-t{a.trace}.json"), "w") as f:
        json.dump(record, f, indent=1, sort_keys=True)
    if a.trace:
        untraced = os.path.join(records, f"{a.workload}-{a.seed}-t0.json")
        if os.path.exists(untraced):
            with open(untraced) as f:
                base = json.load(f)["metrics"]["wall_s"]
            print(f"note tracing_overhead_s "
                  f"{per_layer['trace.wall_s'][0] - base:.4f} "
                  f"(traced wall_s minus untraced wall_s, seed {a.seed})")
    for d in ("tmp", "fixture", "results"):
        shutil.rmtree(os.path.join(run_dir, d), ignore_errors=True)

    print(json.dumps({
        "correct": not failures, "attempted": attempted,
        "failed": min(len(failures), attempted),
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in shown.items()}}))
    sys.exit(1 if failures else 0)


if __name__ == "__main__":
    main()
