"""graft benchmark: one command that builds, generates inputs, runs one
workload, checks its outputs and prints every metric.

    python3 perfbench/run.py --workload analyst_sql --seed 1 --seconds 10 --trace 0

The last line of stdout is one JSON object with `correct`, `attempted`,
`failed` and `metrics`: the end-to-end metrics of BENCHMARK.json with
`--trace 0`, its per-layer metrics with `--trace 1`. Everything the run
builds or writes lives under `.perfbench/` in the checkout. See
perfbench/README.md for the workloads and metrics.
"""
import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import build  # noqa: E402

JVM_FLAGS = ["-Xms3g", "-Xmx3g", "-Xmn384m", "-XX:-UsePerfData"]
# the JVM may take this long beyond the measured --seconds: set-up, the
# first pass, the last round or batch started before the deadline, and
# the output checks
JVM_ALLOWANCE_S = 150
ADD_OPENS = ["java.lang", "java.lang.invoke", "java.lang.reflect", "java.io", "java.net",
             "java.nio", "java.util", "java.util.concurrent", "java.util.concurrent.atomic",
             "sun.nio.ch", "sun.nio.cs", "sun.security.action", "sun.util.calendar"]
WORKLOADS = ("analyst_sql", "curation_ops", "lakehouse_etl")
# the repository's sf0.01 test data (TESTDATA.md), committed with the benchmark
DATA = os.path.join(build.BENCH, "data", "sf0.01")


def run_jvm(classes, workload, seed, seconds, trace, data, out):
    """One workload in a fresh JVM; returns its result object."""
    run_dir = os.path.dirname(out)
    tmp = os.path.join(run_dir, "tmp")
    for d in (tmp, os.path.join(build.WORK, "spark-local"), os.path.join(build.WORK, "warehouse"),
              os.path.join(build.WORK, "events_landing"), os.path.join(build.WORK, "events_checkpoint")):
        shutil.rmtree(d, ignore_errors=True)
    os.makedirs(tmp)
    cmd = (["java"] + JVM_FLAGS + [f"-Djava.io.tmpdir={tmp}", "-Dspark.sql.session.timeZone=UTC"] +
           [a for p in ADD_OPENS for a in ("--add-opens", f"java.base/{p}=ALL-UNNAMED")] +
           ["-cp", build.classpath(classes), "perfbench.GraftBench", workload, str(seed),
            str(seconds), "1" if trace else "0", str(len(os.sched_getaffinity(0))), build.WORK,
            data, build.BENCH, out])
    timeout = JVM_ALLOWANCE_S + seconds
    with open(out + ".log", "w") as log:
        try:
            proc = subprocess.run(cmd, stdout=log, stderr=subprocess.STDOUT, timeout=timeout)
        except subprocess.TimeoutExpired:
            raise SystemExit(f"perfbench: {workload} did not finish in {timeout} s (log: {out}.log)")
    if proc.returncode != 0 or not os.path.exists(out):
        raise SystemExit(f"perfbench: {workload} exited {proc.returncode} (log: {out}.log)")
    shutil.rmtree(tmp, ignore_errors=True)
    with open(out) as f:
        return json.load(f)


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args()

    with open(os.path.join(build.REPO, "BENCHMARK.json")) as f:
        spec = json.load(f)
    classes = build.build()
    if a.workload == "lakehouse_etl":
        import gen  # numpy and pyarrow load only when there is input to write
        gen.etl_inputs(build.REPO, build.WORK, DATA, a.seed)

    results = os.path.join(build.WORK, "results", a.workload)
    os.makedirs(results, exist_ok=True)
    mode = "traced" if a.trace else "untraced"
    r = run_jvm(classes, a.workload, a.seed, a.seconds, a.trace, DATA,
                os.path.join(results, f"{mode}_{a.seed}.json"))

    if a.trace:
        # tracing overhead: this traced run minus the median of the
        # untraced runs of the same workload in this checkout
        base = [json.load(open(os.path.join(results, p)))["end_to_end"]
                for p in sorted(os.listdir(results)) if p.startswith("untraced_") and p.endswith(".json")]
        if not base:
            print(f"no untraced {a.workload} run in this checkout: overhead.* reads 0")
        for m, v in r["end_to_end"].items():
            r["per_layer"][f"overhead.{m}"] = v - statistics.median(b[m] for b in base) if base else 0.0
        values, wanted = r["per_layer"], spec["per_layer"]
    else:
        values, wanted = r["end_to_end"], spec["end_to_end"]

    for line in r["failed_ops"]:
        print(f"failed op: {line}")
    for line in r["check_notes"]:
        print(f"check: {line}")
    print(f"client op samples: {r['client_samples']}; {json.dumps(r['extra'])}")
    missing = [m["name"] for m in wanted if m["name"] not in values]
    if missing:
        raise SystemExit(f"perfbench: metrics not produced: {missing}")
    print(json.dumps({
        "correct": r["correct"], "attempted": r["attempted"], "failed": r["failed"],
        "metrics": {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in wanted}}))


if __name__ == "__main__":
    main()
