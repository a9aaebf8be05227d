#!/usr/bin/env python3
"""Benchmark of the graft engine: catalog extraction and a query workload.

    python3 perfbench/run.py --workload W --seed N --seconds S --trace 0|1
    python3 perfbench/run.py --pin       # re-pin the query result digests
    python3 perfbench/run.py --workload catalog_extract --catalog-size large ...

Run from the root of a checkout. The first run builds the program and the
benchmark from source (`perfbench/build.py`) into `.bench_build/`. Each run
starts one JVM with Spark `local[nproc]` and drives one workload in a closed
loop: one client, one operation at a time, whole passes over the workload's
operations: warm-up passes (WARMUP_PASSES), then timed passes, each in an
order drawn from the seed. `--seconds` sets how many passes a run times (see
NOMINAL_PASS_S). `--catalog-size large` runs the
catalog workload on a 200-table catalog (gen_catalog.SIZES), to check the
benchmark's catalog against that size; it is not part of the benchmark.

Every operation's output is checked; a mismatch or an exception counts as a
failed operation. The last line of stdout is one JSON object with `correct`,
`attempted`, `failed` and `metrics`: the end-to-end metrics of BENCHMARK.json
with `--trace 0`, its per-layer metrics with `--trace 1`. Per-layer metrics
of a layer the workload does not exercise read 0.
"""
import argparse
import hashlib
import json
import os
import shutil
import statistics
import signal
import subprocess
import sys
import time

sys.dont_write_bytecode = True  # the checkout stays as git would commit it
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen_catalog  # noqa: E402

OUT = os.path.join(ROOT, ".bench_build")
WORKLOADS = ("catalog_extract", "queries")
DATA_SEED, DATA_SF = 42, 0.01
DIGESTS = os.path.join(HERE, "digests.tsv")
JVM_TIMEOUT_S = 165
# A run times a fixed amount of work, so every run of a workload has the
# same number of samples: --seconds divided by a nominal pass length,
# rounded, and at least one pass. The nominal lengths are the summed
# operation times of one pass, measured on a 4-core host (perfbench/NOTES.md).
NOMINAL_PASS_S = {"catalog_extract": 1.55, "queries": 20.0}
# Untimed passes before the timed ones. A count, not a time: the catalog
# path is still getting faster after a minute of passes, and a time-based
# warm-up would time a slower run at an earlier, slower point of that curve.
WARMUP_PASSES = {"catalog_extract": 6, "queries": 1}
# the per-layer metric prefixes each workload measures
LAYERS = {"catalog_extract": ("catalog.", "trace."),
          "queries": ("queries.", "spark.", "jvm.", "trace.")}
# Spark 4 on JDK 17 outside spark-submit (org.apache.spark.launcher.JavaModuleOptions)
ADD_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
    "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
    "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def nproc():
    return len(os.sched_getaffinity(0))


def data_dir():
    """The query workloads' input tables, generated once per checkout."""
    import gen_data
    d = os.path.join(OUT, f"data-sf{DATA_SF}-seed{DATA_SEED}")
    if not os.path.exists(os.path.join(d, "MANIFEST")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        gen_data.write(DATA_SEED, DATA_SF, tmp)
        with open(os.path.join(tmp, "MANIFEST"), "w") as fh:
            fh.write(manifest(tmp))
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return d


def metastore_template():
    """An empty Derby metastore, created once per checkout."""
    d = os.path.join(OUT, "metastore-empty")
    if not os.path.exists(os.path.join(d, "DONE")):
        tmp = d + f".tmp{os.getpid()}"
        shutil.rmtree(tmp, ignore_errors=True)
        os.makedirs(tmp)
        run_jvm(["--workload", "init-metastore", "--seed", "0", "--passes", "0", "--trace", "0"],
                tmp)
        open(os.path.join(tmp, "DONE"), "w").close()
        shutil.rmtree(d, ignore_errors=True)
        os.rename(tmp, d)
    return os.path.join(d, "metastore")


def manifest(d):
    """sha256 of every input table, one `name hash` line each."""
    lines = []
    for f in sorted(os.listdir(d)):
        if f.endswith(".parquet"):
            with open(os.path.join(d, f), "rb") as fh:
                lines.append(f"{f} {hashlib.sha256(fh.read()).hexdigest()}\n")
    return "".join(lines)


def inputs_id(d):
    return hashlib.sha256(manifest(d).encode()).hexdigest()[:16]


def run_jvm(args, run_dir):
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(nproc()),
               SPARK_LOCAL_DIRS=os.path.join(run_dir, "tmp"))
    # -UsePerfData: no hsperfdata file outside the checkout
    cmd = (["java", "-XX:-UsePerfData", "-Xms2g", "-Xmx2g", "-Xss4m"] + ADD_OPENS + [
        f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')}",
        f"-Dderby.stream.error.file={os.path.join(run_dir, 'derby.log')}",
        # the embedded metastore skips fsync: metastore writes are timed,
        # the disk's sync latency is not part of the program
        "-Dderby.system.durability=test",
        f"-Dspark.hadoop.hive.exec.scratchdir={os.path.join(run_dir, 'hive-scratch')}",
        f"-Dlog4j2.configurationFile={os.path.join(HERE, 'log4j2.properties')}",
        "-cp", build.classpath(), "perfbench.Main"] + args +
        ["--run-dir", run_dir, "--out", os.path.join(run_dir, "out.json")])
    os.makedirs(os.path.join(run_dir, "tmp"), exist_ok=True)
    log = os.path.join(run_dir, "jvm.log")
    t0 = time.time()
    with open(log, "w") as fh:
        try:
            res = subprocess.run(cmd, cwd=run_dir, stdout=fh, stderr=subprocess.STDOUT,
                                 env=env, timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            sys.exit(f"benchmark JVM exceeded {JVM_TIMEOUT_S} s")
    if res.returncode != 0:
        with open(log) as fh:
            sys.stderr.write(fh.read()[-4000:])
        sys.exit(f"benchmark JVM failed with code {res.returncode}")
    with open(os.path.join(run_dir, "out.json")) as fh:
        out = json.load(fh)
    out["jvm_s"] = time.time() - t0
    return out


def tail_percentile(n):
    """Highest of p50..p99.9 with at least ten samples beyond it; None if
    there are fewer than twenty samples."""
    best = None
    for p in (50, 75, 90, 95, 99, 99.9):
        if n * (1 - p / 100) >= 10:
            best = p
    return best


def percentile(xs, p):
    xs = sorted(xs)
    k = (len(xs) - 1) * p / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def pin(run_dir):
    """Checked run: every declared query of both query workloads is compared
    with its DuckDB oracle; on a full match the result digests are pinned."""
    import oracle
    d = data_dir()
    out = run_jvm(["--workload", "pin", "--seed", "0", "--passes", "0", "--trace", "0",
                   "--data", d], run_dir)
    problems = list(out["failures"])
    for name, o in out["oracle"].items():
        problems += oracle.compare(d, name, o["sql"], o["dir"])
    if problems:
        print("\n".join(problems))
        sys.exit("pin: results do not match the oracle; digests left as they were")
    with open(DIGESTS, "w") as fh:
        fh.write(f"#inputs\t{inputs_id(d)}\n")
        for name, o in sorted(out["oracle"].items()):
            fh.write(f"{name}\t{o['digest']}\n")
    print(f"pinned {len(out['oracle'])} digests on inputs {inputs_id(d)}")


def main():
    # a terminated run stops its JVM too: subprocess.run kills the child
    # when the wait is interrupted by an exception
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=20)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--pin", action="store_true")
    ap.add_argument("--catalog-size", choices=tuple(gen_catalog.SIZES), default="bench")
    a = ap.parse_args()
    if not a.pin and not a.workload:
        ap.error("--workload is required")
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    build.build()
    run_dir = os.path.join(OUT, f"run-{a.workload or 'pin'}-{a.seed}-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    try:
        if a.pin:
            pin(run_dir)
            return
        problems = []
        passes = max(1, round(a.seconds / NOMINAL_PASS_S[a.workload]))
        jvm = ["--workload", a.workload, "--seed", str(a.seed), "--passes", str(passes),
               "--warmup-passes", str(WARMUP_PASSES[a.workload]), "--trace", str(a.trace)]
        if a.workload == "catalog_extract":
            script, expected = gen_catalog.generate(a.seed, a.catalog_size)
            if gen_catalog.generate(a.seed, a.catalog_size) != (script, expected):
                problems.append("catalog generator: same seed gave different scripts")
            for name, text in (("catalog.sql", script), ("expected.tsv", expected)):
                with open(os.path.join(run_dir, name), "w") as fh:
                    fh.write(text)
            shutil.copytree(metastore_template(), os.path.join(run_dir, "metastore"))
            jvm += ["--catalog", os.path.join(run_dir, "catalog.sql"),
                    "--expected", os.path.join(run_dir, "expected.tsv")]
        else:
            d = data_dir()
            with open(DIGESTS) as fh:
                head = fh.readline().rstrip("\n").split("\t")
                digests = fh.read()
            if head != ["#inputs", inputs_id(d)]:
                problems.append("query inputs differ from the ones the digests were pinned on")
            with open(os.path.join(run_dir, "digests.tsv"), "w") as fh:
                fh.write(digests)
            jvm += ["--data", d, "--digests", os.path.join(run_dir, "digests.tsv")]
        out = run_jvm(jvm, run_dir)
        if a.trace:
            shutil.copy(os.path.join(run_dir, "spans.jsonl"),
                        os.path.join(OUT, f"spans-{a.workload}.jsonl"))
        report(spec, a, out, problems)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def report(spec, a, out, problems):
    lat = out["latencies_s"]
    n = len(lat)
    tail_p = tail_percentile(n)
    e2e = {
        "setup_s": out["setup_s"],
        "ops_per_s": n / sum(lat),
        "op_p50_s": statistics.median(lat),
        "op_tail_s": percentile(lat, tail_p) if tail_p else max(lat),
        "retained_heap_mb": out["retained_heap_mb"],
    }
    error_rate = out["failed"] / max(1, out["attempted"])
    print(f"workload {a.workload}: seed {a.seed}, {out['parallelism']} threads, "
          f"{len(out['pass_s'])} passes, {n} operations, JVM {out['jvm_s']:.1f} s")
    print(f"  setup_s          {e2e['setup_s']:.4f} s  (one cold set-up)")
    print(f"  ops_per_s        {e2e['ops_per_s']:.4f} 1/s  (operations {sum(lat):.2f} s of "
          f"{sum(out['pass_s']):.2f} s of timed passes: "
          f"{', '.join(f'{x:.3f}' for x in out['pass_s'])})")
    print(f"  op_p50_s         {e2e['op_p50_s']:.4f} s  ({n} samples)")
    label = f"p{tail_p}" if tail_p else "max; fewer than 20 samples"
    print(f"  op_tail_s        {e2e['op_tail_s']:.4f} s  ({label}, {n} samples)")
    print(f"  error_rate       {error_rate:.4f} ratio  ({out['failed']} of {out['attempted']})")
    print(f"  retained_heap_mb {e2e['retained_heap_mb']:.3f} MiB")
    per_op = {}
    for name, x in zip(out["op_names"], lat):
        per_op.setdefault(name, []).append(x)
    print("  per operation, median s: " + ", ".join(
        f"{k} {statistics.median(v):.3f}" for k, v in
        sorted(per_op.items(), key=lambda kv: statistics.median(kv[1]))))
    for msg in problems + out["failures"]:
        print(f"  FAILED: {msg}")
    if a.trace:
        wanted = spec["per_layer"]
        for m in wanted:
            if m["name"].startswith(LAYERS[a.workload]) and m["name"] not in out["layer"]:
                print(f"  FAILED: per-layer metric {m['name']} was not measured")
                problems.append(m["name"])
        metrics = {m["name"]: {"value": out["layer"].get(m["name"], 0.0), "unit": m["unit"]}
                   for m in wanted}
        for m in wanted:
            if m["name"] in out["layer"]:
                print(f"  {m['name']:<44} {out['layer'][m['name']]:.6g} {m['unit']}")
    else:
        metrics = {m["name"]: {"value": e2e[m["name"]], "unit": m["unit"]}
                   for m in spec["end_to_end"]}
    print(json.dumps({"correct": not problems and out["failed"] == 0,
                      "attempted": out["attempted"], "failed": out["failed"],
                      "metrics": metrics}))


if __name__ == "__main__":
    main()
