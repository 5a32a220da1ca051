"""Runs one benchmark workload and prints its metrics as one JSON line.

    python3 perfbench/run.py --workload analytics --seed 1 --seconds 4 --trace 0

Steps: build the engine and the harness if their sources changed;
generate the parquet tables from the seed; run the workload in a fresh
JVM on local[cores]; check every result (analytic rows against DuckDB on
the registry's oracle SQL, CQL statements against the harness's
sequential model); print the end-to-end metrics (`--trace 0`) or the
per-layer metrics of a traced run (`--trace 1`). Everything the run
writes stays under the checkout's `.bench_work/`, `.bench_build/`,
`.bench_cache/` and `.bench_out/` directories.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import layers  # noqa: E402
import oracle  # noqa: E402
import summarise  # noqa: E402

WORKLOADS = ("analytics", "cql-oltp")
# scale factor of the generated tables: lineitem has 6,000,000 x SF rows
SF = 0.005
JVM_TIMEOUT_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io",
             "java.net", "java.nio", "java.util", "java.util.concurrent",
             "java.util.concurrent.atomic", "sun.nio.ch", "sun.nio.cs",
             "sun.security.action", "sun.util.calendar"]


def jvm_command(cp, work, args):
    opens = [x for p in ADD_OPENS for x in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")]
    props = {"java.io.tmpdir": f"{work}/tmp",
             "graft.cell.snapshots": f"{work}/snapshots",
             "graft.serde.dir": f"{work}/serde",
             "graft.multiins.dir": f"{work}/multiins",
             "user.timezone": "UTC",
             "spark.ui.enabled": "false"}
    return (["java"] + opens + ["-XX:ReservedCodeCacheSize=1g", "-XX:+UseCodeCacheFlushing",
                                "-Xmx3g"]
            + [f"-D{k}={v}" for k, v in props.items()]
            + ["-cp", cp, "perfbench.PerfMain"] + args)


def run_jvm(cp, work, args):
    os.makedirs(f"{work}/tmp", exist_ok=True)
    with open(f"{work}/jvm.log", "w") as log:
        p = subprocess.Popen(jvm_command(cp, work, args), stdout=log,
                             stderr=subprocess.STDOUT, cwd=work)
        try:
            rc = p.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            p.kill()
            p.wait()
            raise SystemExit(f"the JVM did not finish within {JVM_TIMEOUT_S} s")
    if rc != 0:
        with open(f"{work}/jvm.log") as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"the JVM exited with {rc}")


def declared(values, section):
    """The values as BENCHMARK.json declares them: every metric of the
    section, each with its unit, and nothing else."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = {m["name"]: m["unit"] for m in json.load(fh)[section]}
    if set(spec) != set(values):
        raise SystemExit(f"metrics {sorted(set(values) ^ set(spec))} are not both "
                         f"measured and declared in BENCHMARK.json {section}")
    return {k: {"value": values[k], "unit": spec[k]} for k in spec}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    cp = build.ensure_built(ROOT)
    cores = len(os.sched_getaffinity(0))
    work = os.path.join(ROOT, ".bench_work", f"{a.workload}-{a.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    data_dir = os.path.join(work, "data", "sf")
    try:
        # the CQL stream reads no tables: the JVM generates it from the seed
        if a.workload == "analytics":
            datagen.write(data_dir, a.seed, SF)
        res_file = os.path.join(work, "result.json")
        launch_ms = int(time.time() * 1000)
        run_jvm(cp, work, [a.workload, str(a.seed), str(a.seconds), str(a.trace),
                           data_dir, work, res_file, str(cores), str(launch_ms)])
        with open(res_file) as fh:
            result = json.load(fh)
        if result["oracle"]:
            summarise.mark_mismatches(
                result["ops"], oracle.answers(data_dir, SF, a.seed, result["oracle"]))
        for o in result["ops"]:
            if not o["ok"]:
                print(f"failed: pass {o['pass']} {o['name']}: {o['err']}", file=sys.stderr)
        for c in result["checks"]:
            print(f"check failed: {c}", file=sys.stderr)
        correct, attempted, failed, e2e = summarise.summary(result)
        # one sample per JVM, paid while the JIT and the code generator
        # warm up: too unsteady between runs to hold a bound
        cold = e2e.pop("cold_pass_s")
        if a.trace:
            spans_src = res_file + ".spans.jsonl"
            out_dir = os.path.join(ROOT, ".bench_out")
            os.makedirs(out_dir, exist_ok=True)
            spans_dst = os.path.join(out_dir, f"{a.workload}-{a.seed}.spans.jsonl")
            shutil.copyfile(spans_src, spans_dst)
            values = layers.per_layer(layers.load(spans_dst), result)
            values["trace.warm_pass_s"] = e2e["warm_pass_s"]
            values["jvm.cold_pass_s"] = cold
            metrics = declared(values, "per_layer")
        else:
            metrics = declared(e2e, "end_to_end")
        print(json.dumps({"correct": correct, "attempted": attempted,
                          "failed": failed, "metrics": metrics}))
    finally:
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    main()
