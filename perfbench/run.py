"""The repository's benchmark: times the ETL pipelines from outside the program.

    python3 perfbench/run.py --workload batch_etl|arrivals --seed N \
        --seconds S --trace 0|1

Run from the root of a checkout. It builds the program and the harness
(build.py), generates the seeded inputs (gen.py) before any JVM starts,
then starts fresh single-process JVMs at local[nproc]:

- with --trace 0, SETUPS - 1 JVMs that only set up the session, then one
  measuring JVM that sets up, runs a first op, WARMUP untimed ops, then
  warm ops closed-loop for S seconds; the last stdout line is the result
  with every end-to-end metric (setup_s the median of all SETUPS set-ups);
- with --trace 1, one JVM that runs the first op and the warm-up, then S/2
  seconds untraced and S/2 traced;
  the last line carries every per-layer metric, and the spans and layer
  self times go to .bench_build/perfbench/traces/.

Every op's output is checked against the generator's expectations; a
mismatch, exception or timeout counts in `failed`. See README.md here.
"""
import argparse
import concurrent.futures
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import gen  # noqa: E402

ROOT = os.path.dirname(HERE)

# inputs per workload: (rows per file, files in the pool). A 600 000-row
# CSV (about 14 MB) spans four read splits at Spark's defaults on four
# cores, so the splittable scans of a batch op run in parallel.
SIZES = {"batch_etl": (600_000, 2), "arrivals": (5_000, 8)}
# untimed ops after the first one, before the window: arrivals ops kept
# speeding up by 10-40 % over their first 5-8 s, and runs that timed that
# phase read up to 0.3 s slower; a batch op is long enough that the first
# one warms the code up
WARMUP = {"batch_etl": 0, "arrivals": 8}
# session set-ups per untraced run, one in each fresh JVM; setup_s is
# their median
SETUPS = 3
JVM_DEADLINE_S = 170  # whole run, build excluded
# the same heap limit on every host, and a fixed young generation: G1 sizes
# it by pause time otherwise, so the peak heap and RSS followed host
# contention (spread 0.2-0.5) instead of the program's retained data; no
# hsperfdata file outside the checkout
JVM_FLAGS = ["-Xmx2g", "-Xmn256m", "-XX:-UsePerfData"]

ADD_OPENS = [
    "java.base/java.lang", "java.base/java.lang.invoke",
    "java.base/java.lang.reflect", "java.base/java.io", "java.base/java.net",
    "java.base/java.nio", "java.base/java.util",
    "java.base/java.util.concurrent", "java.base/java.util.concurrent.atomic",
    "java.base/sun.nio.ch", "java.base/sun.nio.cs",
    "java.base/sun.security.action", "java.base/sun.util.calendar"]

END_TO_END = {  # name -> unit
    "setup_s": "s", "first_op_s": "s", "op_p50_s": "s",
    "rows_per_s": "rows/s", "peak_rss_mb": "MB", "peak_heap_mb": "MB"}

PER_LAYER = {
    "jvm.boot_s": "s", "session.build_s": "s",
    "filechecks.s": "s",
    "validation.s": "s", "validation.cpu_s": "s",
    "clean_write.s": "s", "clean_write.cpu_s": "s", "clean_write.gc_s": "s",
    "covid.scan_passes": "ratio", "elt.scan_passes": "ratio",
    "audit.s": "s",
    "elt.load_s": "s", "elt.load_parallelism": "ratio", "elt.insert_s": "s",
    "elt.check_s": "s",
    "sinks.bytes_per_input_byte": "ratio", "sinks.files_written": "count",
    "jobrunner.attempts_per_op": "ratio",
    "stream.batches_per_op": "count", "stream.job_s": "s",
    "stream.driver_s": "s", "stream.checkpoint_files": "count",
    "stream.output_files": "count",
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.planning_s": "s", "spark.driver_gap_s": "s",
    "spark.executor_run_s": "s", "spark.executor_cpu_s": "s",
    "spark.gc_s": "s", "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "op.tail_s": "s", "op.tail_pct": "%", "op.tail_n": "count",
    "op.fail_ratio": "ratio",
    "trace.op_p50_s": "s", "trace.overhead_s": "s"}


def tail(values):
    """Highest percentile with at least ten samples beyond it.

    Returns (value, percentile, n) or None when n < 11: the value is the
    11th largest sample, and `percentile` the share of samples at or
    below it.
    """
    n = len(values)
    if n < 11:
        return None
    return sorted(values)[n - 11], 100.0 * (n - 10) / n, n


def write_plan(inputs, out):
    """plan.tsv for the harness: one (path, gen.expect result) a line."""
    cols = ["path", "rows", "bytes", *gen.RULES, "records", "deaths_sum",
            "elt_final"]
    lines = ["\t".join(cols)]
    for path, e in inputs:
        vals = [path, e["rows"], os.path.getsize(path),
                *(e["violations"][r] for r in gen.RULES), e["records"],
                e["deaths_sum"], e["elt_final"]]
        lines.append("\t".join(map(str, vals)))
    with open(out, "w") as f:
        f.write("\n".join(lines) + "\n")
    return out


def plan(workload, seed, work):
    """Generate the workload's pool of seeded inputs and its plan."""
    rows, files = SIZES[workload]
    os.makedirs(os.path.join(work, "pool"))
    paths = [os.path.join(work, "pool", f"{workload}_{k}.csv") for k in range(files)]
    with concurrent.futures.ProcessPoolExecutor(2) as ex:
        expected = list(ex.map(gen.generate, paths,
                               [seed * 1000 + k for k in range(files)],
                               [rows] * files))
    return write_plan(zip(paths, expected), os.path.join(work, "plan.tsv"))


def jvm(cp, work, args, deadline, log, trace=False):
    """Run one harness JVM; return its result object."""
    out = os.path.join(work, f"result-{time.monotonic_ns()}.json")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cmd = [build.java(), *JVM_FLAGS,
           *(x for p in ADD_OPENS for x in ("--add-opens", f"{p}=ALL-UNNAMED")),
           "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC",
           f"-Dspark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
           f"-Dspark.local.dir={tmp}", f"-Djava.io.tmpdir={tmp}",
           # long call sites let the trace attribute jobs to the program
           *(["-Dspark.callstack.depth=200"] if trace else []),
           "-cp", cp, "perfbench.Harness", *args, "--out", out]
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(os.cpu_count() or 1))
    remaining = deadline - time.monotonic()
    if remaining <= 0:
        raise SystemExit("perfbench: out of time before starting a JVM")
    r = subprocess.run(cmd, cwd=work, env=env, stdout=log, stderr=log,
                       timeout=remaining)
    if r.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: harness exited with {r.returncode}")
    with open(out) as f:
        return json.load(f)


def end_to_end(main, setups):
    """The measuring JVM's figures; setup_s over every set-up."""
    p50 = statistics.median(main["ops"])
    return {"setup_s": statistics.median(r["setup_s"] for r in setups + [main]),
            "first_op_s": main["first_op_s"], "op_p50_s": p50,
            "rows_per_s": main["rows_per_op"] / p50,
            "peak_rss_mb": main["peak_rss_mb"],
            "peak_heap_mb": main["peak_heap_mb"]}


def per_layer(main):
    ops = main["trace_ops"]
    m = {k: statistics.median(o[k] for o in ops) for k in ops[0] if k != "wall_s"}
    m.update(main["trace_run"])
    m["jvm.boot_s"] = main["jvm_boot_s"]
    m["session.build_s"] = main["session_build_s"]
    t = tail(main["ops"] + main["traced_ops"])
    m["op.tail_s"], m["op.tail_pct"], m["op.tail_n"] = t or (0.0, 0.0, len(main["ops"]))
    m["op.fail_ratio"] = main["failed"] / main["attempted"]
    traced = statistics.median(main["traced_ops"])
    m["trace.op_p50_s"] = traced
    m["trace.overhead_s"] = traced - statistics.median(main["ops"])
    return {k: m[k] for k in PER_LAYER}


def self_times(dump):
    """Median per-op self time of each span name and each sampled layer."""
    spans = dump["spans"]
    child = {}
    for s in spans:
        child[s["parent"]] = child.get(s["parent"], 0.0) + s["end_s"] - s["start_s"]
    by_name, layers = {}, {}
    for s in spans:
        own = s["end_s"] - s["start_s"] - child.get(s["id"], 0.0)
        by_name.setdefault(s["name"], {}).setdefault(s["op"], 0.0)
        by_name[s["name"]][s["op"]] += own
    for x in dump["layers"]:
        layers.setdefault(x["layer"], {}).setdefault(x["op"], 0.0)
        layers[x["layer"]][x["op"]] += x["s"]
    med = lambda d: {k: statistics.median(v.values()) for k, v in sorted(d.items())}
    return {"span_self_s": med(by_name), "layer_self_s": med(layers)}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(SIZES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.classpath(ROOT)
    deadline = time.monotonic() + JVM_DEADLINE_S
    base = os.path.join(ROOT, ".bench_build", "perfbench")
    work = os.path.join(base, f"run-{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        plan_file = plan(a.workload, a.seed, work)
        setups = []
        with open(os.path.join(work, "jvm.log"), "w") as log:
            try:
                for _ in range(0 if a.trace else SETUPS - 1):
                    setups.append(jvm(cp, work, ["--mode", "setup"], deadline, log))
                pwork = os.path.join(work, "main")
                os.makedirs(pwork)
                main = jvm(cp, pwork, [
                    "--mode", a.workload, "--work", pwork, "--plan", plan_file,
                    "--seconds", str(a.seconds),
                    "--warmup", str(WARMUP[a.workload]),
                    "--trace", str(a.trace)], deadline, log, trace=bool(a.trace))
            except BaseException:
                log.flush()
                with open(log.name) as f:
                    sys.stderr.write(f.read()[-4000:])
                raise
        print("perfbench: set-up %s s, first op %.3f s, warm ops %s" % (
            " ".join("%.3f" % r["setup_s"] for r in setups + [main]),
            main["first_op_s"], " ".join(
                "%.3f" % x for x in main["ops"] + main.get("traced_ops", []))),
            file=sys.stderr)
        for e in main["errors"]:
            print("perfbench: check failed:", e, file=sys.stderr)
        attempted, failed = main["attempted"], main["failed"]
        if a.trace:
            metrics, units = per_layer(main), PER_LAYER
            with open(os.path.join(work, "main", "trace.json")) as f:
                dump = json.load(f)
            dump["self_times"] = self_times(dump)
            traces = os.path.join(base, "traces")
            os.makedirs(traces, exist_ok=True)
            with open(os.path.join(traces, f"{a.workload}-seed{a.seed}.json"), "w") as f:
                json.dump(dump, f)
            print(json.dumps(dump["self_times"], indent=1), file=sys.stderr)
        else:
            metrics, units = end_to_end(main, setups), END_TO_END
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": units[k]} for k in units}}))


if __name__ == "__main__":
    main()
