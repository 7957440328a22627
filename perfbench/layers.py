"""Per-layer metrics from a traced run.

The harness records spans around its own calls into the library (the
`program` span of each operation and, under it, `PipeGraph.Builder.build`,
`PipeGraph.run` and, per query, construction by `SparkEntry.queries`,
planning and the final action) and, through a Spark listener, every job
with its stages' task totals.  Each job becomes a child span attributed to
a repository module:

  1. the job's `spark.sql.execution.id` names the SQL execution that ran it;
     that execution's start event carries the calling stack, and the
     innermost `graft.` frame in it names the module;
  2. a job outside any SQL execution (a parquet footer probe, for example)
     uses its own call site the same way;
  3. a job with no library frame that ran in the final action of a query
     (the harness's noop write) belongs to the module that defines the
     query: `Dedup` for q17, `TextAnalysis` for q19, `queries` for the
     rest.  The plan is lazy, so the library code that built it is no
     longer on the stack when it runs;
  4. any other job with a frame of the harness is the harness's own
     ("bench"), and a job with no frame of either is unattributed.  Both
     count in the "spark" layer's self time, and
     `trace.unattributed_share` is their share of job time.

Jobs on AQE and broadcast threads carry no user frame of their own, which
is why the SQL execution is consulted first.
"""
import re
import statistics

# The operator files the workloads drive, each reported as a sub-layer.
OPERATORS = ("Dedup", "TextAnalysis")
LAYERS = ("Sessions", "Tables", "queries", "pipeline", "operators", "spark", "bench")

# name -> unit, in print order; every traced run reports all of them.
METRICS = {
    "spark.eager_jobs": "count", "spark.eager_s": "s", "spark.scan_amp": "ratio",
    "spark.core_util": "ratio", "spark.task_wait_s": "s", "spark.driver_gap_s": "s",
    "pipeline.build_s": "s", "pipeline.run_s": "s", "pipeline.iterations": "count",
    "pipeline.iter_p50_s": "s", "pipeline.iter_max_s": "s",
    "pipeline.probe_jobs": "count", "pipeline.probe_s": "s",
    "pipeline.checkpoint_jobs": "count", "pipeline.checkpoint_s": "s",
    **{f"operators.{o}.{m}": u for o in OPERATORS
       for m, u in (("jobs", "count"), ("job_s", "s"), ("task_s", "s"), ("shuffle_mb", "MB"))},
    "queries.construct_s": "s", "queries.plan_s": "s", "queries.exec_s": "s",
    "Tables.jobs": "count", "Tables.job_s": "s", "spark.input_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.shuffle_read_mb": "MB", "spark.gc_s": "s",
    "spark.blocks_live_end": "count", "spark.storage_peak_blocks": "count",
    "spark.storage_peak_mb": "MB",
    "spark.jobs": "count", "spark.sql_execs": "count", "spark.tasks": "count",
    "spark.task_s": "s", "spark.output_mb": "MB",
    **{f"self_s.{layer}": "s" for layer in LAYERS},
    "trace.unattributed_share": "ratio", "trace.overhead_s": "s",
}

_FRAME = re.compile(r"^(graft\.[\w.$]+)\.([\w$]+)\((?:[^:()]*:(\d+))?")


def parse_frame(frame):
    """(class, method, line) of a `graft.` stack frame, else None."""
    m = _FRAME.match(frame.strip())
    if not m:
        return None
    return m.group(1), m.group(2), int(m.group(3)) if m.group(3) else None


def module_of(cls):
    """Repository module of a library class name."""
    parts = cls.split("$")[0].split(".")
    if len(parts) == 2:
        return {"Sessions": "Sessions", "Tables": "Tables",
                "SparkEntry": "queries", "QueryDef": "queries"}.get(parts[1], "other")
    pkg = parts[1]
    if pkg == "operators":
        return f"operators.{parts[2]}" if parts[2] in OPERATORS else "operators.other"
    if pkg in ("pipeline", "queries"):
        return pkg
    return "other"


def attribute(frames):
    """Module and parsed frame of the innermost library frame, or (None, None)."""
    for f in frames:
        p = parse_frame(f)
        if p:
            return module_of(p[0]), p
    return None, None


def _union(intervals):
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total


def _clip(intervals, lo, hi):
    return [(max(a, lo), min(b, hi)) for a, b in intervals if min(b, hi) > max(a, lo)]


def op_layers(op, cpus, input_rows):
    """Per-layer metrics of one traced operation (times in s)."""
    spans = {s["name"]: s for s in op["spans"]}
    prog = spans["program"]
    lo, hi = prog["start"], prog["end"]
    wall_ms = max(hi - lo, 1)
    execs = {e["id"]: e for e in op["execs"]}
    stages = {s["id"]: s for s in op["stages"]}
    jobs = sorted((j for j in op["jobs"] if lo <= j["start"] <= hi), key=lambda j: j["id"])

    # Final actions of queries: (start, end, module defining the query).
    defined = {f"exec:{q['name']}": q["defined_in"]
               for q in op["obs"].get("queries", []) if "defined_in" in q}
    actions = [(s["start"], s["end"], module_of(defined[s["name"]]))
               for s in op["spans"] if s["name"] in defined]
    owned = set()
    for j in jobs:
        e = execs.get(j["exec"])
        frames = e["frames"] if e else []
        own = j["callsite"].split("\n")
        module = attribute(frames)[0] or attribute(own)[0] or next(
            (mod for a, b, mod in actions if a <= j["start"] <= b), None)
        if module is None and any(f.startswith("perfbench.") for f in frames + own):
            module = "bench"
        j["module"] = module
        action = (e["desc"] if e else j["callsite"]).split(" at ")[0]
        j["action"] = action.rsplit(".", 1)[-1].split("(")[0]
        root = execs.get(e["root"]) if e else None
        j["sink"] = root["sink"] if root else None
        mine = [stages[s] for s in j["stages"] if s in stages and s not in owned]
        owned.update(s["id"] for s in mine)
        j["t"] = {k: sum(s[k] for s in mine) for k in (
            "tasks", "task_ms", "wait_ms", "gc_ms", "in_records", "in_bytes",
            "out_bytes", "shuffle_write", "shuffle_read")}

    def iv(js):
        return _clip([(j["start"], j["end"]) for j in js], lo, hi)

    def tsum(js, key):
        return sum(j["t"][key] for j in js)

    m = dict.fromkeys(METRICS, 0.0)
    # Jobs of a final action: a sink's parquet write, or the noop write the
    # harness issues per query.  Every other job ran while a DataFrame was
    # still being built.
    eager = [j for j in jobs if not j["sink"]
             and not any(a <= j["start"] <= b for a, b, _ in actions)]
    m["spark.eager_jobs"] = len(eager)
    m["spark.eager_s"] = _union(iv(eager)) / 1e3
    m["spark.scan_amp"] = tsum(jobs, "in_records") / input_rows
    task_ms = tsum(jobs, "task_ms")
    m["spark.core_util"] = task_ms / (wall_ms * cpus)
    m["spark.task_wait_s"] = tsum(jobs, "wait_ms") / 1e3
    m["spark.driver_gap_s"] = (wall_ms - _union(iv(jobs))) / 1e3
    for name, key in (("PipeGraph.Builder.build", "pipeline.build_s"),
                      ("PipeGraph.run", "pipeline.run_s")):
        if name in spans:
            m[key] = spans[name]["seconds"]
    calls = op["obs"].get("stage_calls_ns", [])
    gaps = [(b - a) / 1e9 for a, b in zip(calls, calls[1:])]
    m["pipeline.iterations"] = len(calls)
    if gaps:
        m["pipeline.iter_p50_s"] = statistics.median(gaps)
        m["pipeline.iter_max_s"] = max(gaps)
    for kind, action in (("probe", "isEmpty"), ("checkpoint", "localCheckpoint")):
        js = [j for j in jobs if j["module"] == "pipeline" and j["action"] == action]
        m[f"pipeline.{kind}_jobs"] = len(js)
        m[f"pipeline.{kind}_s"] = _union(iv(js)) / 1e3
    for o in OPERATORS:
        js = [j for j in jobs if j["module"] == f"operators.{o}"]
        m[f"operators.{o}.jobs"] = len(js)
        m[f"operators.{o}.job_s"] = _union(iv(js)) / 1e3
        m[f"operators.{o}.task_s"] = tsum(js, "task_ms") / 1e3
        m[f"operators.{o}.shuffle_mb"] = tsum(js, "shuffle_write") / 1e6
    for part in ("construct", "plan", "exec"):
        m[f"queries.{part}_s"] = sum(s["end"] - s["start"] for s in op["spans"]
                                     if s["name"].startswith(part + ":")) / 1e3
    tj = [j for j in jobs if j["module"] == "Tables"]
    m["Tables.jobs"] = len(tj)
    m["Tables.job_s"] = _union(iv(tj)) / 1e3
    m["spark.input_mb"] = tsum(jobs, "in_bytes") / 1e6
    m["spark.shuffle_write_mb"] = tsum(jobs, "shuffle_write") / 1e6
    m["spark.shuffle_read_mb"] = tsum(jobs, "shuffle_read") / 1e6
    m["spark.gc_s"] = tsum(jobs, "gc_ms") / 1e3
    m["spark.blocks_live_end"] = op["blocks_live_end"]
    m["spark.storage_peak_blocks"] = op["storage_peak_blocks"]
    m["spark.storage_peak_mb"] = op["peak_storage_bytes"] / 1e6
    m["spark.jobs"] = len(jobs)
    m["spark.sql_execs"] = sum(1 for e in op["execs"] if lo <= e["start"] <= hi)
    m["spark.tasks"] = tsum(jobs, "tasks")
    m["spark.task_s"] = task_ms / 1e3
    m["spark.output_mb"] = tsum(jobs, "out_bytes") / 1e6

    # Self time: a span's duration minus what its child spans cover.  The
    # harness spans nest program > build/run; jobs are children of the
    # innermost harness span they started in, and a layer's job time is
    # the union of its jobs' intervals.
    harness = [s for s in op["spans"] if s["name"] != "program"]
    covered = [(s["start"], s["end"]) for s in harness] + iv(jobs)
    m["self_s.bench"] = (wall_ms - _union(_clip(covered, lo, hi))) / 1e3
    for s in harness:
        inner = _clip([(j["start"], j["end"]) for j in jobs], s["start"], s["end"])
        layer = s["layer"]
        m[f"self_s.{layer}"] += (s["end"] - s["start"] - _union(inner)) / 1e3
    by_layer = {}
    for j in jobs:
        layer = (j["module"] or "spark").split(".")[0]
        by_layer.setdefault(layer if layer in LAYERS[:-2] else "spark", []).append(j)
    for layer, js in by_layer.items():
        m[f"self_s.{layer}"] += _union(iv(js)) / 1e3
    job_ms = sum(j["end"] - j["start"] for j in jobs)
    m["trace.unattributed_share"] = (
        sum(j["end"] - j["start"] for j in jobs if j["module"] in (None, "bench")) / job_ms
        if job_ms else 0.0)
    return m


def per_layer(result, input_rows):
    """Median over the traced operations of each per-layer metric, plus the
    tracing overhead (traced minus untraced median operation time)."""
    timed = [op for op in result["ops"] if op["phase"] == "timed"]
    traced = [op for op in timed if op["traced"]]
    plain = [op for op in timed if not op["traced"]]
    rows = [op_layers(op, result["cpus"], input_rows) for op in traced]
    out = {k: statistics.median(r[k] for r in rows) for k in METRICS}
    out["self_s.Sessions"] = result["setup_span"]["seconds"]
    out["trace.overhead_s"] = (statistics.median(op["seconds"] for op in traced)
                               - statistics.median(op["seconds"] for op in plain))
    return out
