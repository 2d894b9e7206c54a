"""Benchmark entry point: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Builds the engine from source on first use
(`perfbench/build.py`), generates the fixture tables (`perfbench/datagen.py`),
runs the workload in one JVM (`perfbench/src`), checks its outputs against
DuckDB (`perfbench/oracle.py`), and prints the run record followed, as the
last line, by `{"correct", "attempted", "failed", "metrics"}`. `--trace 0`
reports the end-to-end metrics of BENCHMARK.json, `--trace 1` its per-layer
metrics. `--smoke` runs at scale factor 0.001 for the benchmark's own tests.
Everything the run writes stays under `.bench_build/` in the repository.
"""
import argparse
import json
import os
import shutil
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import build  # noqa: E402
import datagen  # noqa: E402
import oracle  # noqa: E402

OUT = os.environ.get("PERFBENCH_OUT", ".bench_build")
WORKLOADS = ["olap_batch", "llm_pipeline", "interactive_mixed"]
JVM_TIMEOUT_S = 170


def load_meter():
    """/proc/loadavg, the cumulative cpu and steal jiffies, and the time of a
    fixed single-thread calibration loop."""
    with open("/proc/loadavg") as fh:
        load = [float(x) for x in fh.read().split()[:3]]
    with open("/proc/stat") as fh:
        cpu = [int(x) for x in fh.readline().split()[1:]]
    t0 = time.perf_counter()
    acc = 0
    for i in range(1_000_000):
        acc += i * i
    return {"loadavg": load, "steal_jiffies": cpu[7] if len(cpu) > 7 else 0,
            "total_jiffies": sum(cpu[:8]), "calibration_s": time.perf_counter() - t0}


def benchmark_spec():
    with open(os.path.join(HERE, "..", "BENCHMARK.json")) as fh:
        return json.load(fh)


def main():
    p = argparse.ArgumentParser()
    p.add_argument("--workload", required=True, choices=WORKLOADS)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--smoke", action="store_true")
    a = p.parse_args()

    spec = benchmark_spec()
    meter0 = load_meter()
    classes = build.build(OUT)
    sf = 0.001 if a.smoke else 0.1
    data = os.path.abspath(datagen.ensure(os.path.join(OUT, "data", f"sf{sf}"), sf))
    tag = f"{a.workload}-seed{a.seed}-trace{a.trace}" + ("-smoke" if a.smoke else "")
    work = os.path.abspath(os.path.join(OUT, "work", tag))
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    record_path = os.path.join(work, "record.json")

    cmd = build.java_command(classes, "perfbench.Main", work) + [
        "--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
        "--trace", str(a.trace), "--data", data, "--work", work, "--out", record_path,
        "--launch-ms", repr(time.time() * 1000)]
    with open(os.path.join(work, "jvm.log"), "w") as log:
        proc = subprocess.Popen(cmd, cwd=work, stdout=log, stderr=subprocess.STDOUT)
        try:
            rc = proc.wait(timeout=JVM_TIMEOUT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            raise SystemExit(f"{a.workload}: the JVM did not finish within {JVM_TIMEOUT_S}s")
    if rc != 0 or not os.path.exists(record_path):
        with open(os.path.join(work, "jvm.log")) as fh:
            sys.stderr.write(fh.read()[-4000:])
        raise SystemExit(f"{a.workload}: the JVM exited with code {rc}")
    with open(record_path) as fh:
        record = json.load(fh)

    checked, check_failures = oracle.check_run(record, data)
    failures = record["failures"] + check_failures
    attempted = int(record["statements"]) + int(record["checks_attempted"]) + checked
    meter1 = load_meter()
    jiffies = max(meter1["total_jiffies"] - meter0["total_jiffies"], 1)
    e2e = record["end_to_end"]
    detail = record["workload_detail"]
    run = {
        "workload": a.workload, "seed": a.seed, "seconds": a.seconds, "trace": a.trace,
        "stream_sha256": record["stream_sha256"],
        "error_rate": len(failures) / max(attempted, 1), "failures": failures,
        "read_tail_percentile": e2e["read_tail_percentile"], "read_samples": e2e["read_samples"],
        "setup_parts_s": record["setup_parts_s"], "detail": detail,
        "load": {"start": meter0, "end": meter1,
                 "steal_share": (meter1["steal_jiffies"] - meter0["steal_jiffies"]) / jiffies},
    }
    values = {"setup_s": record["setup_s"], **e2e}
    if a.trace:
        values = dict(record["per_layer"], **{"jvm.rss_peak_mb": record["rss_peak_mb"]})
        run["trace_file"] = record["trace_file"]
        run["ledger"] = record["ledger"]
        untraced = os.path.join(OUT, "results", tag.replace("trace1", "trace0") + ".json")
        if os.path.exists(untraced):
            with open(untraced) as fh:
                base = json.load(fh)["metrics"]
            for m in ("read_p50_ms", "read_qps"):
                if m in base and base[m]["value"]:
                    values[f"trace.overhead_{m}_pct"] = \
                        100.0 * (e2e[m] - base[m]["value"]) / base[m]["value"]
        names = spec["per_layer"]
    else:
        names = spec["end_to_end"]
    metrics = {}
    for m in names:
        metrics[m["name"]] = {"value": float(values.get(m["name"], 0.0) or 0.0), "unit": m["unit"]}
    result = {"correct": not failures, "attempted": attempted, "failed": len(failures),
              "metrics": metrics}
    os.makedirs(os.path.join(OUT, "results"), exist_ok=True)
    with open(os.path.join(OUT, "results", tag + ".json"), "w") as fh:
        json.dump({**run, "metrics": metrics}, fh, indent=1)
    print(json.dumps({"run": run}))
    print(json.dumps(result))


if __name__ == "__main__":
    main()
