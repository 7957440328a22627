"""Output checks and end-to-end metrics, computed from the harness result.

An operation is one pipeline run (crawl) or one query execution
(relational).  It fails when it raised, or when its outputs disagree with
the expected-output ledger, the DuckDB oracle or the cold first run.  A
failure is counted and the remaining operations are still checked.
"""
import math
import statistics

def crawl_expected(pages, depths):
    """What `Crawl` reports of a correct log: rows, distinct pages, sums of
    depth, page and page*depth."""
    return [len(pages), len(set(pages)), sum(depths), sum(pages),
            sum(p * d for p, d in zip(pages, depths))]


def check_crawl(obs, expected):
    log = obs.get("log")
    if log is None:
        return ["no log output"]
    names = ("rows", "distinct pages", "depth sum", "page sum", "page*depth sum")
    return [f"log {n}: {got} != {want}"
            for n, got, want in zip(names, log, expected) if got != want]


def check_ops(result, check):
    """Mark each pipeline run ok or failed; `check(obs, reference)` returns
    the problems of one run.  The first correct run's outputs are the
    reference for the others."""
    reference = None
    for op in result["ops"]:
        if op.get("error"):
            op["problems"] = [f"raised: {op['error']}"]
        else:
            try:
                op["problems"] = check(op["obs"], reference)
            except Exception as e:  # a broken check is a failed operation
                op["problems"] = [f"check raised: {e!r}"]
            if not op["problems"] and reference is None:
                reference = op["obs"]
        op["ok"] = not op["problems"]
        op["attempted"], op["failed"] = 1, int(not op["ok"])


def check_queries(result, oracle):
    """Mark each query execution of each pass ok or failed.  `oracle` maps
    a query to its oracle-comparison problem (None when it matched); every
    later execution must hash equal to the first correct one."""
    reference = {}
    for op in result["ops"]:
        queries = op["obs"].get("queries", [])
        for q in queries:
            n = q["name"]
            if q.get("error"):
                q["problems"] = [f"raised: {q['error']}"]
            elif oracle.get(n, "not compared with the oracle"):
                q["problems"] = [f"oracle: {oracle.get(n, 'not compared')}"]
            elif q.get("hash") != reference.setdefault(n, q.get("hash")):
                q["problems"] = ["result differs from the cold pass"]
            else:
                q["problems"] = []
        bad = [f"{q['name']}: {'; '.join(q['problems'])}" for q in queries if q["problems"]]
        if op.get("error"):
            bad.append(f"raised: {op['error']}")
        op["problems"], op["ok"] = bad, not bad
        op["attempted"] = max(len(queries), 1)
        op["failed"] = min(len(bad), op["attempted"])


def highest_percentile(samples, levels=(50, 75, 90, 95, 99, 99.9)):
    """The highest of `levels` with at least ten samples beyond it, as
    (level, value); None when there are fewer than 20 samples."""
    xs = sorted(samples)
    best = None
    for p in levels:
        k = max(0, math.ceil(len(xs) * p / 100) - 1)  # nearest-rank index
        if len(xs) - k - 1 >= 10:
            best = (p, xs[k])
    return best


def end_to_end(result):
    """End-to-end metrics of one run: medians over the timed operations
    (pipeline runs, or passes over the queries) that checked correct."""
    timed = [op for op in result["ops"] if op["phase"] == "timed" and not op["traced"]]
    good = [op for op in timed if op["ok"]] or timed
    return {
        "setup_s": (result["setup_seconds"], "s"),
        "wall_s": (statistics.median(op["seconds"] for op in good), "s"),
    }
