"""Per-layer numbers from a traced run's span file.

A span file holds one JSON object per line: run id, workload, pass,
name, phase (run/setup/pass/op/build/plan/exec), start and end in
microseconds, parent id, and the listener counts and scan metrics
attached to each operation span. An operation span is named
`<family>/<operation>`. All figures are means per warm pass (the pass
numbers the harness records on the run span, as in `summarise.py`);
an operation's `harness` time is its self time, the part of its span
that none of its build, plan and exec phases covers.

    python3 perfbench/layers.py .bench_out/*.spans.jsonl   # the table
"""
import json
import sys
from collections import defaultdict

import summarise


def load(path):
    with open(path) as fh:
        return [json.loads(line) for line in fh if line.strip()]


def _dur(s):
    return (s["end_us"] - s["start_us"]) / 1e6


def self_times(spans):
    """span id -> its duration minus the time its children cover."""
    kids = defaultdict(float)
    for s in spans:
        if s["parent"] >= 0:
            kids[s["parent"]] += _dur(s)
    return {s["id"]: _dur(s) - kids[s["id"]] for s in spans}


def cores(spans):
    return next(s["attrs"]["cores"] for s in spans if s["phase"] == "run")


def warm_passes(spans):
    """The warm pass numbers the harness recorded on the run span."""
    run = next(s for s in spans if s["phase"] == "run")["attrs"]
    return range(int(run["warm_first"]), int(run["warm_last"]) + 1)


def family(op_name):
    """Analytic operations group by query family; CQL by statement kind."""
    fam = op_name.split("/")[0]
    return op_name if fam == "cql" else fam


def by_family(spans):
    """family -> per-warm-pass sums of each phase and counter."""
    warm = summarise.warm_set([s for s in spans if s["phase"] == "op"],
                              warm_passes(spans))
    ops = {s["id"]: s for s in spans if s["phase"] == "op" and s["pass"] in warm}
    n_warm = len(warm) or 1
    selfs = self_times(spans)
    rows = defaultdict(lambda: defaultdict(float))
    for s in spans:
        op = ops.get(s["parent"])
        if op is not None and s["phase"] in ("build", "plan", "exec"):
            rows[family(op["name"])][s["phase"] + "_s"] += _dur(s)
    for op in ops.values():
        r = rows[family(op["name"])]
        r["ops"] += 1
        r["harness_s"] += selfs[op["id"]]
        for k, v in op["attrs"].items():
            r[k] += v
    out = {}
    for fam, r in rows.items():
        r = {k: v / n_warm for k, v in r.items()}
        wall = r.get("exec_s", 0.0)
        r["busy_ratio"] = (r.get("exec.task_s", 0.0) / (wall * cores(spans))
                           if wall else 0.0)
        out[fam] = r
    return out


def _total(fams, key):
    return sum(r.get(key, 0.0) for r in fams.values())


def per_layer(spans, result):
    """The per-layer metrics of one traced run."""
    fams = by_family(spans)
    warm = summarise.warm_set(result["ops"], result["warm_passes"])
    ops = [o for o in result["ops"] if o["pass"] in warm]
    n_warm = len(warm) or 1
    exec_wall = _total(fams, "exec_s")
    task_s = _total(fams, "exec.task_s")
    cells = _total(fams, "cells_read")
    winners = _total(fams, "winners_emitted")
    fixture = sorted(result["fixture_s"])[len(result["fixture_s"]) // 2]
    layers = result["layers"]
    tbpu = [v for k, v in layers.items()
            if k.startswith("sources.table_bytes_per_user_byte")]

    def lat(kinds, q):
        v = summarise.warm_latencies_ms(result["ops"], result["warm_passes"], kinds)
        return summarise.quantile(v, q) if v else 0.0

    cql_jobs = defaultdict(float)
    cql_n = defaultdict(int)
    for s in spans:
        if s["phase"] == "op" and s["pass"] in warm and s["name"].startswith("cql/"):
            kind = s["name"].split("/", 1)[1]
            cql_jobs[kind] += s["attrs"].get("exec.jobs", 0.0)
            cql_n[kind] += 1

    def per_stmt(kind):
        return cql_jobs[kind] / cql_n[kind] if cql_n[kind] else 0.0

    metrics = {
        "setup.session_s": result["session_s"],
        "setup.fixture_s": fixture,
        "queries.build_s": _total(fams, "build_s"),
        "queries.build_jobs": _total(fams, "build.jobs"),
        "plans.plan_s": _total(fams, "plan_s"),
        "exec.wall_s": exec_wall,
        "exec.jobs": _total(fams, "exec.jobs"),
        "exec.tasks": _total(fams, "exec.tasks"),
        "exec.task_s": task_s,
        "exec.task_cpu_s": _total(fams, "exec.task_cpu_s"),
        "exec.busy_ratio": task_s / (exec_wall * cores(spans)) if exec_wall else 0.0,
        "exec.shuffle_write_bytes": _total(fams, "exec.shuffle_write_bytes"),
        "exec.spill_bytes": _total(fams, "exec.spill_bytes"),
        "sources.cells_read": cells,
        "sources.winners_emitted": winners,
        "sources.merge_fan_in": _total(fams, "merge_fan_in"),
        "sources.input_partitions": _total(fams, "input_partitions"),
        "sources.winners_per_cell": winners / cells if cells else 0.0,
        "sources.bulk_write_s": fixture if result["workload"] == "analytics" else 0.0,
        "sources.bytes_per_cell": layers.get("sources.bytes_per_cell", 0.0),
        "sources.flush_files_peak": layers.get("sources.flush_files_peak", 0.0),
        "sources.table_bytes_per_user_byte": sum(tbpu) / len(tbpu) if tbpu else 0.0,
        "sources.compact_s": sum(summarise.op_time(o) for o in ops
                                 if o["kind"] == "compact" and o["ok"]) / n_warm,
        "cql.jobs_per_read": per_stmt("read"),
        "cql.jobs_per_write": per_stmt("write"),
        "cql.jobs_per_lwt": per_stmt("lwt"),
        "cql.read_p50_ms": lat({"read"}, 0.5),
        "cql.read_p90_ms": lat({"read"}, 0.9),
        "cql.write_p50_ms": lat({"write"}, 0.5),
        "cql.write_p90_ms": lat({"write"}, 0.9),
        "cql.lwt_p50_ms": lat({"lwt"}, 0.5),
    }
    metrics.update(result["jvm"])
    return metrics


COLUMNS = [("ops", "ops", 0), ("build_s", "build s", 3), ("plan_s", "plan s", 3),
           ("exec_s", "exec wall s", 3), ("exec.task_s", "task s", 3),
           ("busy_ratio", "busy", 2), ("harness_s", "harness s", 3),
           ("build.jobs", "build jobs", 1), ("exec.jobs", "exec jobs", 1),
           ("exec.tasks", "tasks", 0), ("cells_read", "cells read", 0),
           ("winners_emitted", "winners", 0), ("merge_fan_in", "fan-in", 0)]


def table(paths):
    """Markdown table: one row per workload and operation family."""
    out = ["| workload | family | " + " | ".join(c[1] for c in COLUMNS) + " |",
           "|---|---|" + "---|" * len(COLUMNS)]
    for p in paths:
        spans = load(p)
        wl = spans[0]["workload"] if spans else "?"
        for fam, r in sorted(by_family(spans).items()):
            cells = [f"{r.get(k, 0.0):.{d}f}" for k, _, d in COLUMNS]
            out.append(f"| {wl} | {fam} | " + " | ".join(cells) + " |")
    return "\n".join(out)


if __name__ == "__main__":
    if len(sys.argv) < 2:
        raise SystemExit("usage: layers.py <spans.jsonl> ...")
    print(table(sys.argv[1:]))
