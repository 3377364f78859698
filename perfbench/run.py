#!/usr/bin/env python3
"""End-to-end and per-layer benchmark of the sensor pipeline and the
curation pipeline.

    python3 perfbench/run.py --workload backfill --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py                    # every workload, untraced then traced

Run from the repository root. The first run builds the engine and the
harness (perfbench/harness, a nested sbt build that depends on the root
project) and caches the classpath under .bench_build/. Each run generates
its inputs from --seed (perfbench/gen.py), then starts fresh JVMs that
drive the engine through its public entry points and check every output.
The last stdout line is one JSON object: {"correct", "attempted",
"failed", "metrics"}; with --trace 0 the metrics are the end-to-end ones,
with --trace 1 the per-layer ones. See perfbench/README.md.
"""
import sys

sys.dont_write_bytecode = True

import argparse
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import gen  # noqa: E402

BUILD = os.path.join(ROOT, ".bench_build", "perfbench")
HARNESS = os.path.join(HERE, "harness")
HOST_CORES = max(1, min(4, os.cpu_count() or 1))
# Spark cores per workload: master local[N], shuffle partitions N.
# daily_increment's op is ~30 small jobs over one day's file and a
# curate op ~190 small jobs: on a 4-core host they ran no faster at N=4
# than at N=1 and N=2 respectively, while the JIT's compiler threads
# used the other cores, and every job waits for the slowest of N tasks
# (see README.md).
CORES = {"backfill": HOST_CORES, "daily_increment": 1,
         "curate_corpus": min(2, HOST_CORES)}
HEAP = "2g"
RUN_DEADLINE_S = 170

# Workload shapes. `smoke` shapes are for the self-tests.
SHAPES = {
    "backfill": {"days": 6, "sensors": 6},
    "daily_increment": {"days": 14, "sensors": 6},
    "curate_corpus": {"n_base": 600, "n_exact": 40, "n_near": 40},
}
SMOKE_SHAPES = {
    "backfill": {"days": 2, "sensors": 2},
    "daily_increment": {"days": 3, "sensors": 2},
    "curate_corpus": {"n_base": 200, "n_exact": 10, "n_near": 10},
}
WORKLOADS = tuple(SHAPES)
# Point lookups per daily_increment run. A single untraced run makes
# none (the read latencies are not among BENCHMARK.json's metrics); a
# traced run makes a few for the read.* layer metrics; `all` makes
# enough for the p50 and p90 to have ten samples beyond them.
READS = {0: 0, 1: 12}
READS_ALL = 110
# Warm ops per run at least, by trace flag and workload (a traced run:
# of each of program and replica). A curate op takes ~15 s.
MIN_WARM = {0: {"backfill": 1, "daily_increment": 1, "curate_corpus": 1},
            1: {"backfill": 2, "daily_increment": 2, "curate_corpus": 1}}
# Warm-up ops after the cold op, checked but not timed. A pipeline op's
# wall time keeps falling over its first ~4 runs in a JVM while the JIT
# compiles (about 12 s of compile time in the first warm op, 2-4 s per
# op from the sixth on). curate_corpus gets none: a warm-up op would
# cost ~15 s of each run, and its one timed op already varies little
# from seed to seed (see README.md).
WARMUP = {"backfill": 3, "daily_increment": 3, "curate_corpus": 0}

# Options of the root build's forked JVMs (build.sbt javaOptions).
ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io",
    "java.base/java.net", "java.base/java.nio",
    "java.base/java.util", "java.base/java.util.concurrent",
    "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar",
]

class BenchError(Exception):
    pass


# ---------------------------------------------------------------- build

def _source_files():
    roots = [os.path.join(ROOT, "src", "main"), os.path.join(HARNESS, "src")]
    files = [os.path.join(ROOT, "build.sbt"),
             os.path.join(ROOT, "project", "build.properties"),
             os.path.join(HARNESS, "build.sbt"),
             os.path.join(HARNESS, "project", "build.properties")]
    for r in roots:
        for d, _, fs in os.walk(r):
            files += [os.path.join(d, f) for f in fs]
    return sorted(files)


def build():
    """Compiles engine + harness once per source state; returns the
    classpath and the source-state key."""
    for need in ("build.sbt", os.path.join("src", "main", "scala", "graft", "Pipeline.scala")):
        if not os.path.isfile(os.path.join(ROOT, need)):
            raise BenchError(f"engine source missing: {need} (run from a full checkout)")
    h = hashlib.sha256()
    for f in _source_files():
        h.update(os.path.relpath(f, ROOT).encode())
        with open(f, "rb") as fh:
            h.update(fh.read())
    key = h.hexdigest()
    key_file = os.path.join(BUILD, "build.key")
    cp_file = os.path.join(BUILD, "classpath.txt")
    if os.path.isfile(key_file) and os.path.isfile(cp_file):
        with open(key_file) as f, open(cp_file) as g:
            if f.read() == key:
                return g.read(), key
    os.makedirs(BUILD, exist_ok=True)
    env = dict(os.environ)
    env.setdefault("COURSIER_MODE", "offline")
    env.setdefault("SBT_OPTS", "-Dsbt.override.build.repos=true "
                   "-Dsbt.repository.config=" + os.path.expanduser("~/.sbt/repositories")
                   + " -Dsbt.offline=true -Xmx4g")
    log = os.path.join(BUILD, "build.log")
    with open(log, "w") as out:
        p = subprocess.run(
            ["sbt", "--batch", "--no-server", "-Dsbt.log.noformat=true",
             "export harness/Runtime/fullClasspath"],
            cwd=HARNESS, env=env, stdout=subprocess.PIPE, stderr=out,
            text=True, timeout=840)
        out.write(p.stdout)
    lines = [l for l in p.stdout.splitlines() if l.strip()]
    if p.returncode != 0 or not lines or "harness/target" not in lines[-1]:
        raise BenchError(f"build failed (exit {p.returncode}); see {log}")
    cp = lines[-1].strip()
    with open(cp_file, "w") as f:
        f.write(cp)
    with open(key_file, "w") as f:
        f.write(key)
    return cp, key


# --------------------------------------------------------------- inputs

def make_inputs(workload, seed, shape):
    tag = hashlib.sha256(json.dumps([workload, seed, shape]).encode()
                         + open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:16]
    base = os.path.join(BUILD, "inputs")
    d = os.path.join(base, f"{workload}-{tag}")
    if os.path.isfile(os.path.join(d, "truth.json")):
        with open(os.path.join(d, "truth.json")) as f:
            return d, json.load(f)
    if os.path.isdir(base):  # keep one input set per workload on disk
        for old in os.listdir(base):
            if old.startswith(workload + "-"):
                shutil.rmtree(os.path.join(base, old))
    tmp = d + ".tmp"
    shutil.rmtree(tmp, ignore_errors=True)
    if workload == "backfill":
        gen.make_backfill(tmp, seed, **shape)
    elif workload == "daily_increment":
        gen.make_increment(tmp, seed, **shape)
    else:
        gen.make_corpus(tmp, seed, **shape)
    os.rename(tmp, d)
    with open(os.path.join(d, "truth.json")) as f:
        return d, json.load(f)


# ------------------------------------------------------------------ jvm

def jvm(cp, work, args, deadline, check=False):
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = ["java"]
    for p in ADD_OPENS:
        cmd += ["--add-opens", p + "=ALL-UNNAMED"]
    cmd += [
        "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
        f"-Xmx{HEAP}", f"-Xms{HEAP}", "-XX:+UseG1GC",
        "-XX:ReservedCodeCacheSize=512m",
        # keep every file the JVM writes inside the checkout
        f"-Djava.io.tmpdir={tmp}",
        f"-Dspark.local.dir={os.path.join(work, 'spark-local')}",
        f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "-cp", cp, "perfbench.Main",
    ] + args + ["--launch-epoch-ns", str(time.time_ns())]
    remaining = deadline - time.monotonic()
    if remaining < 5:
        raise BenchError("out of time before starting a JVM")
    log = os.path.join(work, "jvm.log")
    with open(log, "a") as err:
        err.write("\n# " + " ".join(args) + "\n")
        err.flush()
        try:
            p = subprocess.run(cmd, cwd=work, stdout=subprocess.PIPE,
                               stderr=err, text=True, timeout=remaining)
        except subprocess.TimeoutExpired:
            raise BenchError(f"JVM timed out; see {log}")
    rec = None
    for line in p.stdout.splitlines():
        if line.startswith("PERFBENCH_JSON "):
            rec = json.loads(line[len("PERFBENCH_JSON "):])
    if p.returncode != 0 or rec is None:
        raise BenchError(f"JVM exited {p.returncode} without a result; see {log}")
    if check and rec["failures"]:
        raise BenchError("; ".join(rec["failures"]))
    return rec


# -------------------------------------------------------------- metrics

def percentile_with_tail(values, q):
    """The q-quantile (0<q<1) of `values`, or None unless at least 10
    samples lie beyond it (the reporting rule for latency percentiles)."""
    n = len(values)
    if n == 0:
        return None
    xs = sorted(values)
    rank = q * (n - 1)
    lo = int(rank)
    hi = min(lo + 1, n - 1)
    v = xs[lo] + (xs[hi] - xs[lo]) * (rank - lo)
    beyond = sum(1 for x in xs if x > v)
    return v if beyond >= 10 else None


def _median(xs):
    return statistics.median(xs) if xs else None


def timed(ops):
    """The warm ops that count: not the cold op, not a warm-up op."""
    return [o for o in ops[1:] if not o.get("warmup")]


def end_to_end(rec, setups, truth):
    ops = rec["ops"]
    warm = [o["wall_s"] for o in timed(ops)]
    run_s = _median(warm)
    per_row = [o["bytes_written"] / o["rows_stored"] for o in ops
               if o.get("rows_stored")]
    m = {
        "setup_s": _median(setups),
        "cold_run_s": ops[0]["wall_s"],
        "run_s": run_s,
        "rows_per_s": truth["raw_rows"] / run_s,
        "out_bytes_per_row": _median(per_row),
    }
    info = {"warm_samples": len(warm),
            "op_walls_s": " ".join(f"{o['wall_s']:.2f}" for o in ops),
            "op_jit_gc_s": " ".join(f"{o['jit_s']:.1f}/{o['gc_s']:.2f}" for o in ops),
            "op_restore_check_s": " ".join(f"{o['restore_s']:.2f}/{o.get('check_s', 0):.2f}"
                                           for o in ops),
            "rows_lost": _median([o["rows_lost"] for o in ops if "rows_lost" in o]),
            "rows_before": _median([o["rows_before"] for o in ops if "rows_before" in o]),
            "rows_after": _median([o["rows_after"] for o in ops if "rows_after" in o]),
            "rows_stored": _median([o["rows_stored"] for o in ops if "rows_stored" in o]),
            "failed_frac": None}
    reads = rec.get("reads") or {}
    if reads:
        pts, scans = reads["point_ms"], reads["scan_ms"]
        info.update({"read_samples": len(pts), "scan_samples": len(scans),
                     "read_p50_ms": percentile_with_tail(pts, 0.5),
                     "read_p90_ms": percentile_with_tail(pts, 0.9),
                     "scan_p50_ms": percentile_with_tail(scans, 0.5)})
    return m, info


def per_layer(rec, truth):
    ops = rec["ops"]
    traced = [o for o in timed(ops) if o["traced"] and "layers" in o]
    plain = [o["wall_s"] for o in timed(ops) if not o["traced"]]
    if not traced or not plain:
        raise BenchError("traced run has no traced or no untraced warm op")

    def lay(key):
        return _median([o["layers"].get(key, 0.0) for o in traced])

    def field(key):
        return _median([o.get(key, 0) for o in traced])

    m = {}
    m["ingest.s"] = lay("ingest.s")
    m["ingest.files_probed"] = field("files_probed")
    m["ingest.files_rejected"] = field("files_rejected")
    m["ingest.ms_per_probe"] = (1e3 * m["ingest.s"] / m["ingest.files_probed"]
                                if m["ingest.files_probed"] else 0.0)
    for k in ("s", "cpu_s", "shuffle_mb", "spill_mb"):
        m[f"transform.{k}"] = lay(f"transform.{k}")
    m["transform.rows_in"] = field("rows_in")
    m["transform.rows_out"] = field("rows_out")
    m["validate.s"] = lay("validate.s")
    m["validate.jobs"] = lay("validate.jobs")
    m["validate.cpu_s"] = lay("validate.cpu_s")
    m["report.s"] = lay("report.s")
    m["load.write_s"] = lay("load.write.s")
    m["load.write_cpu_s"] = lay("load.write.cpu_s")
    m["load.shuffle_mb"] = lay("load.write.shuffle_mb")
    pipeline = truth["workload"] != "curate_corpus"
    m["load.files_written"] = field("files_written") if pipeline else 0
    m["load.bytes_written"] = field("bytes_written") if pipeline else 0
    m["load.stats_s"] = lay("load.stats.s")
    m["load.stats_files"] = field("stats_files")
    m["load.stats_ms_per_file"] = (1e3 * m["load.stats_s"] / m["load.stats_files"]
                                   if m["load.stats_files"] else 0.0)
    m["load.metadata_s"] = lay("load.metadata.s")
    m["checkpoint.s"] = lay("checkpoint.s")
    m["rows_lost"] = field("rows_lost")
    reads = [r for r in (rec.get("reads") or {}).get("layers", []) if not r["scan"]]
    m["read.plan_ms"] = _median([r["plan_ms"] for r in reads]) or 0.0
    m["read.exec_ms"] = _median([r["exec_ms"] for r in reads]) or 0.0
    m["read.files_scanned"] = _median([r["files_scanned"] for r in reads]) or 0.0
    for stage in ("input", "exact", "near", "semantic", "pack", "write"):
        m[f"curate.{stage}_s"] = lay(f"curate.{stage}.s")
    curating = not pipeline
    m["curate.exact_rows"] = field("exact_rows") if curating else 0
    m["curate.near_pairs"] = field("near_pairs") if curating else 0
    m["curate.near_rows"] = field("near_rows") if curating else 0
    m["curate.semantic_rows"] = field("semantic_rows") if curating else 0
    stages = ("input", "exact", "near", "semantic", "pack", "write")
    m["curate.cpu_s"] = _median([sum(o["layers"].get(f"curate.{s}.cpu_s", 0.0)
                                     for s in stages) for o in traced])
    m["curate.shuffle_mb"] = _median([sum(o["layers"].get(f"curate.{s}.shuffle_mb", 0.0)
                                          for s in stages) for o in traced])
    m["spark.jobs"] = lay("spark.jobs")
    m["spark.tasks"] = lay("spark.tasks")
    m["spark.driver_only_s"] = field("driver_only_s")
    m["jvm.gc_s"] = field("gc_s")
    m["jvm.jit_s"] = ops[0]["jit_s"]
    m["trace.coverage"] = field("coverage")
    m["trace.overhead_frac"] = _median([o["wall_s"] for o in traced]) / _median(plain) - 1.0
    return m


# ------------------------------------------------------------------ run

def history_state(cp, build_key, inputs, shape, deadline):
    """daily_increment's loaded history: generated and loaded by the
    engine once per source state, in its own JVM, then reused."""
    key = hashlib.sha256((build_key + json.dumps([shape, CORES["daily_increment"]])).encode()
                         + open(os.path.join(HERE, "gen.py"), "rb").read()).hexdigest()[:16]
    state = os.path.join(BUILD, "history", key)
    if os.path.isfile(os.path.join(state, "done")):
        return state
    shutil.rmtree(state, ignore_errors=True)
    gen.make_history(os.path.join(state, "raw"), **shape)
    work = os.path.join(state, "work")
    os.makedirs(work)
    jvm(cp, work, ["--workload", "daily_increment", "--mode", "prep",
                   "--inputs", inputs, "--work", work, "--state", state,
                   "--cores", str(CORES["daily_increment"])], deadline, check=True)
    shutil.rmtree(work)
    open(os.path.join(state, "done"), "w").close()
    return state


def run_workload(workload, seed, seconds, trace, shape, reads):
    """One benchmark run: returns (correct, attempted, failed, metrics, info)."""
    deadline = time.monotonic() + RUN_DEADLINE_S
    cp, build_key = build()
    inputs, truth = make_inputs(workload, seed, shape)
    work = os.path.join(BUILD, "work", workload)
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    extra = []
    if workload == "daily_increment":
        state = history_state(cp, build_key, inputs, shape, deadline)
        run_inputs = os.path.join(work, "inputs")
        raw = os.path.join(run_inputs, "raw")
        os.makedirs(raw)
        for f in truth["history_files"]:
            shutil.copy2(os.path.join(state, "raw", f), raw)
        shutil.copy2(os.path.join(inputs, "next", truth["next_file"]), raw)
        shutil.copy2(os.path.join(inputs, "truth.json"), run_inputs)
        inputs = run_inputs
        extra = ["--state", state, "--reads", str(reads)]
    rec = jvm(cp, work, ["--workload", workload, "--mode", "run",
                         "--inputs", inputs, "--work", work,
                         "--seed", str(seed), "--cores", str(CORES[workload]),
                         "--seconds", str(seconds),
                         "--trace", "1" if trace else "0",
                         "--min-warm", str(MIN_WARM[int(trace)][workload]),
                         "--warmup", str(WARMUP[workload])] + extra, deadline)
    failures = rec["failures"]
    attempted = rec["attempted"]
    failed = len(failures)
    if "ops" not in rec:
        raise BenchError("run failed: " + "; ".join(failures))
    m, info = end_to_end(rec, [rec["setup_s"]], truth)
    info["failed_frac"] = failed / attempted
    info["failures"] = failures
    if trace:
        m = per_layer(rec, truth)
    info["run_wall_s"] = time.monotonic() - deadline + RUN_DEADLINE_S
    return failed == 0, attempted, failed, m, info


def _fmt(v):
    return "n/a" if v is None else f"{v:.6g}"


def report(workload, metrics, info, units):
    for name, v in metrics.items():
        print(f"{workload:16s} {name:26s} {_fmt(v):>14s} {units.get(name, '')}")
    for k, v in info.items():
        if k != "failures":
            print(f"{workload:16s} {k:26s} {_fmt(v) if not isinstance(v, str) else v:>14s}")
    for f in info.get("failures", []):
        print(f"{workload:16s} FAILURE: {f}")


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", choices=WORKLOADS + ("all",), default="all")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=None)
    ap.add_argument("--smoke", action="store_true", help="tiny shapes (self-tests)")
    a = ap.parse_args()
    b = spec()
    units = {m["name"]: m["unit"] for m in b["end_to_end"] + b["per_layer"]}
    shapes = SMOKE_SHAPES if a.smoke else SHAPES
    try:
        if a.workload == "all":
            traces = (0, 1) if a.trace is None else (a.trace,)
            ok = True
            for t in traces:
                for w in WORKLOADS:
                    c, att, fl, m, info = run_workload(w, a.seed, a.seconds, t,
                                                       shapes[w], READS_ALL)
                    print(f"== {w} trace={t} correct={c} attempted={att} failed={fl}")
                    report(w, m, info, units)
                    ok = ok and c
            return 0 if ok else 1
        c, att, fl, m, info = run_workload(a.workload, a.seed, a.seconds,
                                           a.trace == 1, shapes[a.workload],
                                           READS[a.trace or 0])
        report(a.workload, m, info, units)
        names = [x["name"] for x in b["per_layer" if a.trace == 1 else "end_to_end"]]
        out = {"correct": c, "attempted": att, "failed": fl,
               "metrics": {n: {"value": m[n], "unit": units[n]} for n in names}}
        print(json.dumps(out))
        return 0
    except BenchError as e:
        print(f"perfbench: {e}", file=sys.stderr)
        return 2


if __name__ == "__main__":
    sys.exit(main())
