#!/usr/bin/env python3
"""EOD cascade benchmark: one workload, one seed, one run.

    python3 perfbench/run.py --workload daily_batch --seed 1 --seconds 20 --trace 0

Builds the program from source (perfbench/build.py), generates the
workload's inputs from the seed (perfbench/gen.py), runs the workload in
one JVM on Spark local[4] (perfbench/scala/Main.scala), checks every
output (perfbench/checks.py) and prints one JSON line:
`{"correct", "attempted", "failed", "metrics"}`.  With `--trace 0` the
metrics are the end-to-end ones of BENCHMARK.json; with `--trace 1` the
per-layer ones, measured by the benchmark's own SparkListener and spans.

Workloads (all closed loops with one caller):
  daily_batch      60 seeded history dates, then one EodPipeline.run per
                   new date (and per correction file), back to back
  stream_backfill  a multi-date bronze backlog drained by one
                   EodStream.start(Trigger.AvailableNow) into an empty
                   warehouse, repeated with a fresh warehouse
  dashboard_serve  back-to-back refreshes of the dashboards' measures for
                   the latest date of the 60-day warehouse
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import checks  # noqa: E402
import gen  # noqa: E402

CORES = 4
SETUP_REPS = 3
STREAM_DAYS = 2
JVM_TIMEOUT_S = 170
JDK_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net", "java.nio",
             "java.util", "java.util.concurrent", "java.util.concurrent.atomic", "sun.nio.ch",
             "sun.nio.cs", "sun.security.action", "sun.util.calendar"]


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def generate(workload, seed, root, seconds):
    """Writes the inputs; returns the plan entries describing them plus
    what the outputs must be."""
    if workload == "daily_batch":
        # more dates than a run can use: a day never takes under a second
        g = gen.daily_batch(seed, root, n_days=int(seconds) // 2 + 6, history_parts=SETUP_REPS)
        return {"history_globs": g["history_globs"], "history_ts": g["history_ts"],
                "ops": [{k: o[k] for k in ("path", "date", "ingest_ts", "bytes", "rows", "correction")}
                        for o in g["ops"]]}, g
    g = gen.stream_backfill(seed, root, n_days=STREAM_DAYS)
    return {"backlog_dir": os.path.join(root, "backlog"), "first_date_dir": g["first_date_dir"],
            "ingest_ts": g["ingest_ts"], "rows": g["rows"], "bytes": g["bytes"], "dates": STREAM_DAYS}, g


def verify(workload, result, expected):
    """All output checks; the list of failures."""
    wh = result["warehouse"]
    ops = result["ops"]
    if workload == "stream_backfill":
        return checks.check_counts(wh, expected["counts"]) + checks.check_digest(wh, expected["digest"])
    want = expected["ops"]
    errors = checks.check_runs([o["result"] for o in ops], [want[o["index"]]["expect"] for o in ops])
    probes = result.get("probes", [])
    errors += checks.check_runs([p["result"] for p in probes], [want[p["index"]]["expect"] for p in probes],
                                what="stage probe")
    errors += checks.check_digest(wh, want[max(o["index"] for o in ops)]["digest"])
    if "dashboard" in result:
        errors += checks.check_dashboard(result["dashboard"], result["oracle"], wh)
    return errors


def e2e_metrics(result, gen_s, traced):
    """The end-to-end metrics of the (un)traced operations of one run.
    Set-up is done in equal parts (history thirds, or whole backlog
    copies); its time is the median part times the number of parts."""
    ops = [o for o in result["ops"] if o["traced"] == traced and not o.get("warmup")]
    data_setup = result["data_setup_scale"] * statistics.median(result["data_setup_s"])
    return {
        "setup_s": result["session_s"] + gen_s + data_setup + result["warmup_s"],
        "op_s": statistics.median(o["seconds"] for o in ops),
        "jobs_per_op": statistics.median(o["jobs"] for o in ops),
        "rows_per_s": statistics.median(o["rows"] / o["seconds"] for o in ops),
        "bytes_stored_per_input_byte": (result["bytes_after"] - result["bytes_before"]) / result["input_bytes"],
    }


def layer_metrics(result, gen_s, names):
    """Every per-layer metric: 0 where the workload does not reach the
    layer, plus the tracing overhead (traced minus untraced)."""
    unknown = set(result["layers"]) - set(names)
    if unknown:
        raise ValueError(f"layer metrics missing from BENCHMARK.json: {sorted(unknown)}")
    out = {n: 0.0 for n in names}
    out.update(result["layers"])
    plain = e2e_metrics(result, gen_s, traced=False)
    with_trace = e2e_metrics(result, gen_s, traced=True)
    for k in ("op_s", "jobs_per_op", "rows_per_s"):
        out[f"trace_overhead.{k}"] = with_trace[k] - plain[k]
    return out


def run_jvm(classes, plan_path, result_path, log_path, work):
    jars = os.path.join(build.spark_jars(), "*")
    opens = [a for p in JDK_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    # a fixed heap and the throughput collector: run-to-run spread was
    # wider with G1's adaptive sizing and concurrent threads on 4 cores
    cmd = (["java", "-Xms3g", "-Xmx3g", "-XX:+UseParallelGC", "-XX:-UsePerfData", f"-Djava.io.tmpdir={tmp}",
            "-Dspark.ui.enabled=false", "-Dspark.sql.session.timeZone=UTC"] + opens +
           ["-cp", os.pathsep.join([classes, jars]), "perfbench.Main", plan_path, result_path])
    with open(log_path, "w") as log:
        proc = subprocess.Popen(cmd, stdout=log, stderr=subprocess.STDOUT, cwd=work)
        try:
            code = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise RuntimeError(f"workload did not finish within {JVM_TIMEOUT_S} s")
    if code != 0:
        with open(log_path) as f:
            tail = f.read()[-3000:]
        raise RuntimeError(f"workload JVM exited with {code}:\n{tail}")
    with open(result_path) as f:
        return json.load(f)


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True, choices=("daily_batch", "stream_backfill"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    bench = spec()
    classes = build.build()

    work = os.path.join(ROOT, ".bench_build", f"run-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    try:
        t0 = time.perf_counter()
        plan, expected = generate(args.workload, args.seed, os.path.join(work, "input"), args.seconds)
        gen_s = time.perf_counter() - t0
        plan.update({"workload": args.workload, "seed": args.seed, "work": work, "seconds": args.seconds,
                     "trace": bool(args.trace), "cores": CORES, "setup_reps": SETUP_REPS,
                     "spans": os.path.join(ROOT, ".bench_build", "traces",
                                           f"{args.workload}-{args.seed}.jsonl")})
        plan_path = os.path.join(work, "plan.json")
        with open(plan_path, "w") as f:
            json.dump(plan, f)
        result = run_jvm(classes, plan_path, os.path.join(work, "result.json"),
                         os.path.join(work, "jvm.log"), work)
        errors = verify(args.workload, result, expected)
        if args.trace:
            names = [m["name"] for m in bench["per_layer"]]
            values = layer_metrics(result, gen_s, names)
            units = {m["name"]: m["unit"] for m in bench["per_layer"]}
        else:
            values = e2e_metrics(result, gen_s, traced=False)
            units = {m["name"]: m["unit"] for m in bench["end_to_end"]}
        for e in errors:
            print(f"CHECK FAILED: {e}", file=sys.stderr)
        ops = result["ops"]
        print(f"{args.workload} seed {args.seed}: {len(ops)} operations "
              f"({sum(1 for o in ops if o.get('warmup'))} warm-up, {sum(1 for o in ops if o['traced'])} traced), "
              f"seconds {[round(o['seconds'], 3) for o in ops]}, jobs {[o['jobs'] for o in ops]}; "
              f"set-up: session {result['session_s']:.2f} s, inputs {gen_s:.2f} s, "
              f"parts {[round(s, 2) for s in result['data_setup_s']]} s, warm-up {result['warmup_s']:.2f} s")
        print(json.dumps({"correct": not errors, "attempted": len(ops), "failed": 0,
                          "metrics": {k: {"value": values[k], "unit": units[k]} for k in units}}))
        return 0 if not errors else 1
    finally:
        logs = os.path.join(ROOT, ".bench_build", "logs")
        os.makedirs(logs, exist_ok=True)
        if os.path.exists(os.path.join(work, "jvm.log")):
            shutil.copy(os.path.join(work, "jvm.log"), os.path.join(logs, f"{args.workload}-{args.seed}.log"))
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    try:
        sys.exit(main())
    except RuntimeError as e:
        print(f"benchmark failed: {e}", file=sys.stderr)
        sys.exit(2)
