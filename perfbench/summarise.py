"""Turns one run's operation records into its end-to-end metrics.

An operation record has `pass`, `idx`, `kind`, `ok` and its phase times
`build_s`, `plan_s` and `exec_s`. Pass 0 is the cold pass. The warm
passes are the pass numbers the harness names in the result
(`warm_passes`, from `PerfMain.WarmPasses`); passes beyond them are run
and checked but not timed into the metrics.

A failed operation (it threw, or its rows did not match the oracle or
the model) counts in `failed` and its time is left out of every time
metric. Leaving out an operation that used to pass would still shorten
its pass, so a run with any failed operation, or any failed end-of-pass
check, is reported as not correct: its times are never taken as valid.
"""
import math
import statistics

# operations that are not one query or one statement: timed into the
# pass, but not into the per-operation latencies
BACKGROUND = {"compact"}


def op_time(o):
    return o["build_s"] + o["plan_s"] + o["exec_s"]


def quantile(values, q):
    """The q-quantile by linear interpolation between order statistics."""
    v = sorted(values)
    if not v:
        raise ValueError("no samples")
    pos = q * (len(v) - 1)
    lo = int(pos)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (pos - lo)


def warm_set(ops, warm_passes):
    """The harness's warm pass numbers, among the passes the run made."""
    made = {o["pass"] for o in ops}
    return {p for p in warm_passes if p in made}


def pass_times(ops):
    """pass -> the summed time of its successful operations."""
    out = {}
    for o in ops:
        out.setdefault(o["pass"], 0.0)
        if o["ok"]:
            out[o["pass"]] += op_time(o)
    return out


def warm_latencies_ms(ops, warm_passes, kinds=None):
    warm = warm_set(ops, warm_passes)
    return [op_time(o) * 1e3 for o in ops
            if o["ok"] and o["pass"] in warm and o["kind"] not in BACKGROUND
            and (kinds is None or o["kind"] in kinds)]


def op_gmean_ms(ops, warm_passes):
    """Geometric mean over operations of each one's median warm latency.

    An operation is one position in the pass (`idx`); its samples are
    its successful warm runs. A plain median over a few distinct queries
    jumps between neighbouring queries from run to run; the geometric
    mean moves smoothly and weighs a 2x change in any operation alike.
    """
    per_op, warm = {}, warm_set(ops, warm_passes)
    for o in ops:
        if o["ok"] and o["pass"] in warm and o["kind"] not in BACKGROUND:
            per_op.setdefault(o["idx"], []).append(op_time(o) * 1e3)
    if not per_op:
        raise ValueError("no successful warm operation")
    meds = [statistics.median(v) for v in per_op.values()]
    return math.exp(sum(math.log(m) for m in meds) / len(meds))


def end_to_end(ops, session_s, fixture_s, warm_passes):
    """The end-to-end metrics of one run, plus attempted and failed."""
    passes, warm = pass_times(ops), warm_set(ops, warm_passes)
    metrics = {
        "setup_s": session_s + (statistics.median(fixture_s) if fixture_s else 0.0),
        "cold_pass_s": passes.get(0, 0.0),
        "warm_pass_s": statistics.median(t for p, t in passes.items() if p in warm),
        "op_gmean_ms": op_gmean_ms(ops, warm_passes),
    }
    return metrics, len(ops), sum(1 for o in ops if not o["ok"])


def mark_mismatches(ops, want):
    """Marks failed every successful query whose row digest differs from
    the oracle's answer in `want` (name -> digest, rows, sample)."""
    # the harness samples a query's first rows in the cold pass only
    got = {o["name"]: o["sample"] for o in ops if o["sample"]}
    for o in ops:
        if o["ok"] and o["kind"] == "query":
            w = want[o["name"]]
            if o["digest"] != w["digest"]:
                o["ok"] = False
                o["err"] = (f"rows differ from the oracle ({o['rows']} vs {w['rows']} "
                            f"rows); engine starts {got.get(o['name'], [])[:3]}, "
                            f"oracle starts {w['sample'][:3]}")


def summary(result):
    """(correct, attempted, failed, end-to-end metrics) of one run's
    result. `correct` is false when an end-of-pass check failed or any
    operation failed: a failed operation's time is missing from its
    pass, so the run's times cannot stand."""
    metrics, attempted, failed = end_to_end(
        result["ops"], result["session_s"], result["fixture_s"], result["warm_passes"])
    return not result["checks"] and failed == 0, attempted, failed, metrics
