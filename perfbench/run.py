#!/usr/bin/env python3
"""graft benchmark: ODNS refresh and backfill ingest, and a sampled query
workload on the sf0.1 test data, measured from outside the program.

    python3 perfbench/run.py --workload odns-refresh --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The first run compiles the program and
the JVM harness into $CARGO_TARGET_DIR (default .bench_build). Each run
sets up its inputs from the seed, makes one cold call and then warm calls
for --seconds, checks every call's output, deletes what it wrote and
prints one JSON line: end-to-end metrics with --trace 0, per-layer metrics
with --trace 1. See perfbench/README.md.

Other modes:
    --self-test               the benchmark's own tests (Python and JVM)
    --record DUMP_DIR         re-record query fingerprints from a Verify dump
"""
import argparse
import glob
import json
import os
import shutil
import subprocess
import sys
import time
import unittest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import baseline  # noqa: E402
import build  # noqa: E402
import sampler  # noqa: E402
from stats import median, percentile  # noqa: E402

CATALOG = os.path.join(HERE, "queries.json")
XMX = "4g"
RUN_LIMIT_S = 170
BUILD_RUN_LIMIT_S = 880

WORKLOADS = {
    "odns-refresh": ["--rows", "15000"],
    "odns-backfill": ["--rows", "8000", "--days", "8"],
    "queries-sf0.1": [],
}

SPEC_FILE = "BENCHMARK.json"

ADD_OPENS = [
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar",
]


def log(msg):
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def sf_dir():
    return os.environ.get("PERFBENCH_SF_DIR", os.path.expanduser("~/testdata/sf0.1"))


def java_cmd(classes, work, mode, opts):
    cp = os.pathsep.join([classes, os.path.join(build.spark_jars(), "*")])
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    flags = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in ADD_OPENS]
    # a fixed heap size keeps heap resizing out of the timings
    return (["java", *flags, f"-Xms{XMX}", f"-Xmx{XMX}", f"-Djava.io.tmpdir={tmp}",
             f"-Dderby.system.home={work}",
             f"-Dderby.stream.error.file={os.path.join(work, 'derby.log')}",
             "-cp", cp, "perfbench.Main", mode, "--work", work, *opts])


def run_jvm(cmd, work, deadline):
    """Run the harness; True when it exited 0 before the deadline."""
    env = dict(os.environ, SPARK_LOCAL_DIRS=os.path.join(work, "spark-local"))
    with open(os.path.join(work, "jvm.log"), "w") as logf:
        proc = subprocess.Popen(cmd, stdout=logf, stderr=subprocess.STDOUT, env=env,
                                cwd=work)
        try:
            code = proc.wait(timeout=max(1.0, deadline - time.monotonic()))
        except subprocess.TimeoutExpired:
            log("harness ran past its time limit; stopping it")
            code = None
        finally:
            if proc.poll() is None:
                proc.kill()
                proc.wait()
    if code != 0:
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(fh.readlines()[-40:]))
    return code == 0


def leaked_tmp_dirs(work):
    """Temp dirs the program left in its java.io.tmpdir."""
    return len(glob.glob(os.path.join(work, "tmp", "graft_*")))


def write_sample(work, seed):
    with open(CATALOG) as fh:
        catalog = json.load(fh)
    names = sampler.sample(catalog, seed)
    path = os.path.join(work, "sample.tsv")
    with open(path, "w") as fh:
        for n in names:
            e = catalog[n]
            fh.write(f"{n}\t{e['rows']}\t{e['hash']}\t{int(e['rows_only'])}\n")
    return path, names


def spec(root):
    """Metric names and units, from the benchmark's definition file."""
    with open(os.path.join(root, SPEC_FILE)) as fh:
        d = json.load(fh)
    return ({m["name"]: m["unit"] for m in d["end_to_end"]},
            {m["name"]: m["unit"] for m in d["per_layer"]})


def end_to_end(raw):
    return {
        "setup_s": raw["session_s"] + median(raw["setup_reps_s"]),
        "first_run_s": raw["first_s"],
        "pass_s": median(raw["warm_s"]),
    }


def per_layer(raw, extra, names):
    layers = raw["layers"]
    keys = {k for d in layers for k in d}
    got = {k: median([d[k] for d in layers if k in d]) for k in keys}
    got.update(extra)
    got["trace.overhead_s"] = median(raw["traced_s"]) - median(raw["warm_s"])
    got["jvm.xmx_mb"] = raw["xmx_mb"]
    got["jvm.peak_live_heap_mb"] = raw["peak_heap_mb"]
    if "rows_per_call" in raw:
        got["OdnsPipeline.rows_per_s"] = raw["rows_per_call"] / median(raw["warm_s"])
    if "store_builds" in raw:
        got["operators.store_builds"] = raw["store_builds"][0]
        got["operators.query_p50_s"] = median(raw["op_s"])
    # a layer the workload leaves idle reports 0
    return {name: got.get(name, 0.0) for name in names}


def describe(raw, metrics, sample):
    """Human-readable summary on stderr: sample counts, the p90 where the
    sample count supports one, and each query's warm latency."""
    if sample:
        log("warm latency: " + " ".join(
            f"{n}={x:.3f}" for n, x in zip(sample * len(raw["warm_s"]), raw["op_s"])))
    parts = [f"{k}={v:.4g}" for k, v in metrics.items()]
    for name, xs in (("warm call", raw["warm_s"]), ("operation", raw["op_s"])):
        p90 = percentile(xs, 0.9)
        parts.append(f"{name}: N={len(xs)} p50={median(xs):.4g}s"
                     + (f" p90={p90:.4g}s" if p90 is not None else " (too few for p90)"))
    log("; ".join(parts))
    for f in raw.get("failures", []):
        log(f"FAILED: {f}")


def run(args, root):
    start = time.monotonic()
    try:
        classes, built = build.ensure(root)
    except build.BuildError as e:
        log(f"build failed: {e}")
        return 2
    deadline = start + (BUILD_RUN_LIMIT_S if built else RUN_LIMIT_S)
    work = os.path.join(root, ".bench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        opts = ["--workload", args.workload, "--seed", str(args.seed),
                "--seconds", str(args.seconds), "--trace", str(args.trace),
                "--out", os.path.join(work, "raw.json"), *WORKLOADS[args.workload]]
        sample = []
        if args.workload.startswith("queries"):
            if not os.path.isdir(sf_dir()):
                log(f"query data not found at {sf_dir()} (set PERFBENCH_SF_DIR)")
                return 1
            sample_path, sample = write_sample(work, args.seed)
            opts += ["--sf", sf_dir(), "--sample", sample_path]
        if not run_jvm(java_cmd(classes, work, "run", opts), work, deadline - 5):
            return 1
        with open(os.path.join(work, "raw.json")) as fh:
            raw = json.load(fh)
        attempted, failed = raw["attempted"], raw["failed"]
        extra = {"operators.tmp_dirs_left": leaked_tmp_dirs(work)}
        if args.trace and "archives" in raw:
            rate, n, rejects = baseline.run([a["path"] for a in raw["archives"]])
            extra["baseline_rows_per_s"] = rate
            want_rows = sum(a["rows"] for a in raw["archives"])
            want_rejects = sum(a["rejects"] for a in raw["archives"])
            attempted += 1
            if (n, rejects) != (want_rows, want_rejects):
                log(f"FAILED: baseline read {n} rows / {rejects} rejects, "
                    f"generator wrote {want_rows} / {want_rejects}")
                failed += 1
        extra["fail_ratio"] = failed / attempted
        metrics = end_to_end(raw)
        describe(raw, metrics, sample)
        e2e_units, layer_units = spec(root)
        units = layer_units if args.trace else e2e_units
        chosen = per_layer(raw, extra, units) if args.trace else {k: metrics[k] for k in units}
        print(json.dumps({
            "correct": failed == 0,
            "attempted": attempted,
            "failed": failed,
            "metrics": {k: {"value": v, "unit": units[k]} for k, v in chosen.items()},
        }))
        return 0
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass


def record(dump, root):
    """Fingerprint every query and its Verify dump; keep the fingerprint
    only where cold, warm and dump agree."""
    classes, _ = build.ensure(root)
    work = os.path.join(root, ".bench_work", "record")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    out = os.path.join(work, "record.json")
    cmd = java_cmd(classes, work, "record",
                   ["--sf", sf_dir(), "--dump", os.path.abspath(dump), "--out", out])
    if not run_jvm(cmd, work, time.monotonic() + 7200):
        return 1
    with open(out) as fh:
        rec = json.load(fh)
    catalog, rejected = {}, {}
    for name, r in sorted(rec.items()):
        fps = [r["cold"], r["warm"], r["dump"]]
        if any(isinstance(f, dict) for f in fps):
            rejected[name] = fps
            continue
        if r["rows_only"]:
            agree = len({f[0] for f in fps}) == 1
        else:
            agree = len({tuple(f) for f in fps}) == 1
        if not agree:
            rejected[name] = fps
            continue
        catalog[name] = {"rows": r["warm"][0], "hash": int(r["warm"][1]),
                         "rows_only": r["rows_only"], "seconds": round(r["seconds"], 3)}
    with open(CATALOG, "w") as fh:
        json.dump(catalog, fh, indent=1, sort_keys=True)
        fh.write("\n")
    for name, fps in rejected.items():
        log(f"not recorded: {name} {fps}")
    log(f"recorded {len(catalog)} queries, {len(rejected)} not recorded")
    shutil.rmtree(work, ignore_errors=True)
    return 0


def self_test(root):
    suite = unittest.defaultTestLoader.discover(HERE, pattern="test_*.py")
    ok = unittest.TextTestRunner(stream=sys.stderr, verbosity=1).run(suite).wasSuccessful()
    classes, _ = build.ensure(root)
    work = os.path.join(root, ".bench_work", "selftest")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        ok = run_jvm(java_cmd(classes, work, "selftest", []), work,
                     time.monotonic() + 300) and ok
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write("".join(l for l in fh if l.startswith("[selftest]")))
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0 if ok else 1


def main():
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload", choices=sorted(WORKLOADS))
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--self-test", action="store_true")
    p.add_argument("--record", metavar="DUMP_DIR")
    args = p.parse_args()
    root = os.getcwd()
    if args.self_test:
        return self_test(root)
    if args.record:
        return record(args.record, root)
    if not args.workload:
        p.error("--workload is required")
    return run(args, root)


if __name__ == "__main__":
    sys.exit(main())
