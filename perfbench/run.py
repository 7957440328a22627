"""The benchmark's one command.

  python3 perfbench/run.py --workload crawl|relational --seed N --seconds S --trace 0|1

Builds the library and the harness from source (build.py), generates the
workload's inputs from the seed (gen.py), runs the harness in one JVM on
`Sessions.local(nproc)`, checks every operation's outputs (report.py) and
prints, as the last line of standard output, one JSON object:

  {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones (setup_s, wall_s); with
--trace 1 the per-layer ones (layers.py), and the spans of the traced
operations are written to perfbench/.work/traces/.

Everything the run writes stays under perfbench/.work and perfbench/.build.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

import build
import gen
import layers
import oracle
import report

BENCH = os.path.dirname(os.path.abspath(__file__))
WORK = os.path.join(BENCH, ".work")
# A JVM run must leave time inside the benchmark's 180 s limit.
JVM_TIMEOUT_S = 165
JAVA_OPENS = [f"--add-opens=java.base/{p}=ALL-UNNAMED" for p in (
    "java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
    "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
    "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar")]


def run_harness(classes, workload, data, work, seconds, trace, cpus, seed):
    result = os.path.join(work, "result.json")
    cmd = (["java", *JAVA_OPENS, "-Xmx4g", "-Dspark.ui.enabled=false",
            f"-Dlog4j2.configurationFile={os.path.join(BENCH, 'log4j2.properties')}",
            "-cp", f"{classes}{os.pathsep}{os.path.join(build.spark_jars(), '*')}",
            "perfbench.Harness", workload, data, work, str(seconds), str(trace),
            str(cpus), str(seed), result])
    with open(os.path.join(work, "jvm.log"), "w") as log:
        subprocess.run(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT,
                       timeout=JVM_TIMEOUT_S, check=True)
    with open(result) as f:
        return json.load(f)


def check(workload, result, data, work):
    """Check every operation's outputs, marking each ok or failed."""
    if workload == "relational":
        sql = next((op["obs"]["oracle_sql"] for op in result["ops"]
                    if "oracle_sql" in op["obs"]), {})
        verdicts = oracle.compare(data, os.path.join(work, "out", "relational"), sql)
        report.check_queries(result, verdicts)
    else:
        # The ledger is read inside each check, so an unreadable ledger
        # fails every operation instead of aborting the run.
        ledger = os.path.join(data, "crawl_ledger.parquet")
        report.check_ops(result, lambda obs, ref: report.check_crawl(
            obs, report.crawl_expected(*gen.ledger_depths(ledger))))


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(gen.GENERATORS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)
    cpus = os.cpu_count()

    try:
        classes = build.build()
    except build.BuildError as e:
        print(f"build failed: {e}", file=sys.stderr)
        return 2
    work = os.path.join(WORK, f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data = os.path.join(work, "data")
    t0 = time.perf_counter()
    sizes = gen.generate(a.workload, a.seed, data)
    print(f"inputs: {a.workload} seed {a.seed}: {json.dumps(sizes)}; "
          f"generated in {time.perf_counter() - t0:.2f} s (not a metric)")
    try:
        try:
            result = run_harness(classes, a.workload, data, work, a.seconds,
                                 a.trace, cpus, a.seed)
        except (subprocess.SubprocessError, OSError) as e:
            with open(os.path.join(work, "jvm.log")) as log:
                tail = log.read()[-3000:]
            print(f"harness failed: {e}\n{tail}", file=sys.stderr)
            return 1
        check(a.workload, result, data, work)
        ops = result["ops"]
        for i, op in enumerate(ops):
            verdict = "ok" if op["ok"] else "FAILED: " + "; ".join(op["problems"])
            print(f"op {i} {op['phase']}{' traced' if op['traced'] else ''}: "
                  f"{op['seconds']:.3f} s, output check {verdict}")
        attempted = sum(op["attempted"] for op in ops)
        failed = sum(op["failed"] for op in ops)
        if a.trace:
            spans = os.path.join(WORK, "traces", f"{a.workload}-{a.seed}.json")
            os.makedirs(os.path.dirname(spans), exist_ok=True)
            with open(spans, "w") as f:
                json.dump({"input_rows": sizes["input_rows"], **result}, f)
            print(f"spans written to {os.path.relpath(spans)}")
            metrics = layers.per_layer(result, sizes["input_rows"])
            units = layers.METRICS
        else:
            e2e = report.end_to_end(result)
            metrics = {k: v for k, (v, _) in e2e.items()}
            units = {k: u for k, (_, u) in e2e.items()}
            # Per-action latency: each query (construction to final action)
            # or, in a pipeline, each root SQL execution it issues.
            timed = [op for op in ops if op["phase"] == "timed"]
            lat = ([q["seconds"] for op in timed for q in op["obs"].get("queries", [])
                    if "seconds" in q] or
                   [(end - start) / 1e3 for op in timed for start, end in op["root_execs"]])
            hp = report.highest_percentile(lat)
            print(f"action latency in timed runs: n={len(lat)}, "
                  f"p50={statistics.median(lat):.3f} s" +
                  (f", p{hp[0]}={hp[1]:.3f} s" if hp and hp[0] > 50 else ""))
        print(f"fail_frac: {failed}/{attempted} = {failed / attempted:.3f}")
        for k, v in metrics.items():
            print(f"{k:34s} {v:14.6f} {units[k]}")
    finally:
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v, "unit": units[k]} for k, v in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
