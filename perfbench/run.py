#!/usr/bin/env python3
"""The repository's benchmark: one workload, one run, one JSON line.

    python3 perfbench/run.py --workload ingest_bulk --seed 1 --seconds 10 --trace 0

Builds the program and the harness from source on first use (sbt, into
the checkout), makes the workload's inputs from the seed, runs the
harness JVM, checks the program's outputs and prints, as the last line
of stdout, {"correct", "attempted", "failed", "metrics"}: with
`--trace 0` the end-to-end metrics, with `--trace 1` the per-layer
metrics of a traced run (whose spans go to perfbench/work/traces/).
Exits non-zero when an output is wrong or the build or the run fails. See perfbench/README.md for the workloads
and the definition of every metric.
"""
import argparse
import hashlib
import json
import os
import random
import shutil
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True
HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import gen  # noqa: E402
import metrics  # noqa: E402

ROOT = os.path.dirname(HERE)
WORK = os.path.join(HERE, "work")
RUN_TIMEOUT_S = 170
BUILD_TIMEOUT_S = 850
HEAP = "3g"

# The query list of llm_ops: PageRank, whose DataFrame build runs many
# eager jobs (one set per iteration), and triangle count, a single plan
# bound by executors.
QUERIES = ["q_pagerank", "q_triangles"]

# Workload shapes. ingest_bulk is the reference's headline run: sensor
# CSVs (rows per file) drained in one go. llm_ops reads a fixed table
# (so that its result fingerprints can be stored in fingerprints.json);
# its seed sets the query order.
WORKLOADS = {
    "ingest_bulk": {"kind": "drain", "rows": [5000] * 19 + [1453]},
    "llm_ops": {"kind": "ops", "queries": QUERIES, "lineitem_rows": 60000},
}
# Warm inputs are the same for every run: the workload's shape at half
# its rows (the same files, plans and code paths for less time).
WARM_SEED = 7919
TABLE_SEED = 42


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


# ---- build


def source_stamp():
    h = hashlib.sha256()
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HERE, "src"),
             os.path.join(ROOT, "project"), os.path.join(HERE, "project")]
    files = [os.path.join(ROOT, "build.sbt"), os.path.join(HERE, "build.sbt")]
    for r in roots:
        for d, dirs, names in os.walk(r):
            dirs[:] = sorted(x for x in dirs if x not in ("target", "project"))
            files += [os.path.join(d, n) for n in names
                      if n.endswith((".scala", ".java", ".sbt", ".properties"))]
    for f in sorted(files):
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def build():
    """Compile program and harness once per source state; return the
    harness's classpath and JVM options."""
    if not (os.path.isfile(os.path.join(ROOT, "build.sbt"))
            and os.path.isdir(os.path.join(ROOT, "src", "main", "scala"))):
        raise SystemExit("perfbench: no program sources next to perfbench/")
    launch = os.path.join(HERE, "target", "launch.txt")
    stamp_file = launch + ".stamp"
    stamp = source_stamp()
    fresh = (os.path.isfile(launch) and os.path.isfile(stamp_file)
             and open(stamp_file).read() == stamp)
    if not fresh:
        log("building program and harness (sbt launcher)")
        env = dict(os.environ)
        env.setdefault("COURSIER_MODE", "offline")
        if "SBT_OPTS" not in env:
            opts = ["-Dsbt.offline=true", "-Xmx2g"]
            repos = os.path.expanduser("~/.sbt/repositories")
            if os.path.isfile(repos):
                opts += ["-Dsbt.override.build.repos=true",
                         f"-Dsbt.repository.config={repos}"]
            env["SBT_OPTS"] = " ".join(opts)
        tmp = os.path.join(WORK, "tmp")
        os.makedirs(tmp, exist_ok=True)
        env["SBT_OPTS"] += f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData"
        try:
            r = subprocess.run(
                ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
                 "launcher"],
                cwd=HERE, env=env, stdout=sys.stderr, stderr=sys.stderr,
                timeout=BUILD_TIMEOUT_S)
        except (OSError, subprocess.TimeoutExpired) as e:
            raise SystemExit(f"perfbench: build failed: {e}")
        if r.returncode != 0 or not os.path.isfile(launch):
            raise SystemExit(f"perfbench: build failed (exit {r.returncode})")
        with open(stamp_file, "w") as fh:
            fh.write(stamp)
    lines = open(launch).read().splitlines()
    return lines[0], [x for x in lines[1:] if x]


# ---- inputs


def cached(key, make):
    """Inputs that do not depend on the run's seed are made once per
    checkout, keyed on their shape and on the generator's source."""
    with open(os.path.join(HERE, "gen.py"), "rb") as fh:
        digest = hashlib.sha256(fh.read() + key.encode()).hexdigest()[:16]
    path = os.path.join(WORK, "inputs", f"fixed-{digest}")
    done = os.path.join(path, "manifest.json")
    if not os.path.isfile(done):
        shutil.rmtree(path, ignore_errors=True)
        tmp = path + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        manifest = make(tmp)
        gen.write_manifest(tmp, manifest)
        os.replace(tmp, path)
    with open(done) as fh:
        return path, json.load(fh)


def make_inputs(shape, seed, run_dir):
    """Return (timed input dir, warm input dir, manifest, harness args)."""
    if shape["kind"] == "ops":
        def tables(seed, rows):
            return lambda d: {"tables": gen.lineitem(d, seed, rows)}
        rows = shape["lineitem_rows"]
        inputs, manifest = cached(json.dumps([TABLE_SEED, rows]),
                                  tables(TABLE_SEED, rows))
        warm, _ = cached(json.dumps([WARM_SEED, rows // 2]),
                         tables(WARM_SEED, rows // 2))
        order = list(shape["queries"])
        random.Random(seed).shuffle(order)
        manifest["queries"] = order
        return inputs, warm, manifest, [f"queries={','.join(order)}"]
    rows = shape["rows"]
    warm_rows = [max(4, r // 2) for r in rows]
    inputs = os.path.join(run_dir, "inputs")
    manifest = gen.sensor_files(inputs, seed, rows)
    warm, _ = cached(json.dumps(warm_rows), lambda d: gen.sensor_files(
        d, WARM_SEED, warm_rows))
    return inputs, warm, manifest, []


# ---- run


def run_harness(cp, jvm_opts, args, run_dir):
    out = os.path.join(run_dir, "result.json")
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # A fixed set of JIT compiler threads, so that the harness can count
    # their CPU time (the JVM otherwise starts and ends them as it goes),
    # and only the C1 compiler: the program generates new classes for
    # every plan, so C2 never caught up within a run, and the CPU time
    # of a pass differed by up to a quarter between JVMs (README.md).
    cmd = (["java", f"-Xmx{HEAP}", "-XX:-UsePerfData",
            "-XX:-UseDynamicNumberOfCompilerThreads", "-XX:TieredStopAtLevel=1",
            f"-Djava.io.tmpdir={tmp}", "-cp", cp] + jvm_opts
           + ["perfbench.Main"] + args
           + [f"work={os.path.join(run_dir, 'work')}", f"out={out}"])
    log_path = os.path.join(run_dir, "harness.log")
    spawned = time.time_ns()
    with open(log_path, "w") as lf:
        p = subprocess.Popen(cmd, cwd=ROOT, stdout=lf, stderr=lf)
        try:
            code = p.wait(timeout=RUN_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            code = "timeout"
        finally:
            # also on SIGTERM (see main): the JVM never outlives the run
            if p.poll() is None:
                p.kill()
                p.wait()
    if code != 0 or not os.path.isfile(out):
        with open(log_path, errors="replace") as lf:
            tail = lf.read()[-3000:]
        raise SystemExit(f"perfbench: harness failed ({code}):\n{tail}")
    with open(out) as fh:
        return spawned, json.load(fh)


def record_fingerprints(raw):
    seen = {}
    for u in raw["units"] + raw["traced_units"]:
        for q in u["queries"]:
            if q["error"]:
                raise SystemExit(f"perfbench: {q['query']} failed: {q['error']}")
            seen.setdefault(q["query"], set()).add((q["rows"], q["hash"]))
    if any(len(v) != 1 for v in seen.values()):
        raise SystemExit(f"perfbench: fingerprints differ between passes: {seen}")
    with open(os.path.join(HERE, "fingerprints.json"), "w") as fh:
        json.dump({q: list(v.pop()) for q, v in sorted(seen.items())}, fh,
                  indent=1)
        fh.write("\n")


def main(argv=None):
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record-fingerprints", action="store_true",
                    help="llm_ops: store this run's result fingerprints as "
                    "the expected ones (run only on a build whose DuckDB "
                    "oracle check passes; see README.md)")
    a = ap.parse_args(argv)

    cp, jvm_opts = build()
    shape = WORKLOADS[a.workload]
    run_dir = os.path.join(WORK, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        inputs, warm, manifest, extra = make_inputs(shape, a.seed, run_dir)
        # Spark gets half the CPUs. In local mode the JIT compiler, the
        # garbage collector and Spark's driver threads share the machine
        # with the executors; with all the CPUs for Spark, the JVM spent
        # more CPU time on the same work (README.md).
        cpus = max(1, len(os.sched_getaffinity(0)) // 2)
        spawned, raw = run_harness(cp, jvm_opts, [
            f"workload={a.workload}", f"cpus={cpus}", f"seconds={a.seconds}",
            f"trace={a.trace}", f"inputs={inputs}", f"warm={warm}"] + extra,
            run_dir)
        fingerprints = None
        if shape["kind"] == "ops":
            if a.record_fingerprints:
                record_fingerprints(raw)
                log(f"fingerprints recorded from the tables in {inputs}")
            with open(os.path.join(HERE, "fingerprints.json")) as fh:
                fingerprints = json.load(fh)
        result = metrics.summarize(raw, shape["kind"], manifest, fingerprints,
                                   spawned, a.trace == 1, QUERIES)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    for line in result.pop("notes") + result.pop("problems"):
        log(line)
    if a.trace:
        traces = os.path.join(WORK, "traces")
        os.makedirs(traces, exist_ok=True)
        path = os.path.join(traces, f"{a.workload}-seed{a.seed}.spans.json")
        with open(path, "w") as fh:
            json.dump(result.pop("spans"), fh)
        log(f"spans written to {os.path.relpath(path, ROOT)}")
    else:
        result.pop("spans")
    print(json.dumps(result, sort_keys=False))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
