"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Builds the engine and the benchmark from source (see build.py), runs the
workload in one JVM at local[nproc], prints every metric as
`name = value unit`, and ends with one JSON line:
{"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}.
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones of the traced run (spans go to
.bench_build/perfbench/traces/<workload>-s<seed>.json).

Exit codes: 0 all outputs checked correct; 1 an output check failed;
2 the build failed; 3 the run failed or did not report.

    python3 perfbench/run.py --self-test   # generator/statistics self-test

Workload names, metric names and units come from BENCHMARK.json at the
root of the checkout.
"""

import argparse
import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

sys.dont_write_bytecode = True
sys.path.insert(0, str(Path(__file__).resolve().parent))

import build  # noqa: E402

JVM_TIMEOUT_S = 170
HEAP = "3g"
RESULT_PREFIX = "PERFBENCH_RESULT "


def jvm(main_class: str, args: list, log: Path, work: Path) -> subprocess.CompletedProcess:
    classes = build.build()
    jars = build.spark_jars()
    tmp = work / "tmp"
    tmp.mkdir(parents=True, exist_ok=True)
    cmd = build.java_command(f"{classes}{os.pathsep}{jars / '*'}", HEAP) + [
        f"-Djava.io.tmpdir={tmp}",
        f"-Dlog4j2.configurationFile={build.BENCH_DIR / 'log4j2.properties'}",
        main_class, *args]
    log.parent.mkdir(parents=True, exist_ok=True)
    with open(log, "w") as err:
        return subprocess.run(cmd, cwd=build.ROOT, stdout=subprocess.PIPE, stderr=err, text=True,
                              timeout=JVM_TIMEOUT_S)


def fail(code: int, msg: str, log: Path = None) -> None:
    sys.stderr.write(f"perfbench: {msg}\n")
    if log is not None and log.is_file():
        sys.stderr.write("".join(log.read_text(errors="replace").splitlines(True)[-40:]))
    sys.exit(code)


def contract() -> dict:
    try:
        return json.loads((build.ROOT / "BENCHMARK.json").read_text())
    except (OSError, ValueError) as e:
        fail(3, f"cannot read BENCHMARK.json: {e}")


def run_workload(a, bench: dict) -> None:
    workloads = [w["name"] for w in bench["workloads"]]
    if a.workload not in workloads:
        fail(3, f"unknown workload {a.workload!r}; one of {workloads}")
    try:
        build.build()
    except build.BuildError as e:
        fail(2, f"build failed: {e}")
    tag = f"{a.workload}-s{a.seed}-t{a.trace}"
    work = build.OUT / "work" / f"{tag}-{os.getpid()}"
    log = build.OUT / "logs" / f"{tag}.log"
    trace_file = build.OUT / "traces" / f"{a.workload}-s{a.seed}.json"
    cores = len(os.sched_getaffinity(0))
    try:
        proc = jvm("graft.perfbench.Main",
                   ["--workload", a.workload, "--seed", str(a.seed), "--seconds", str(a.seconds),
                    "--trace", str(a.trace), "--cores", str(cores), "--work", str(work),
                    "--trace-file", str(trace_file)], log, work)
    except subprocess.TimeoutExpired:
        fail(3, f"run exceeded {JVM_TIMEOUT_S} s", log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith(RESULT_PREFIX)]
    if proc.returncode != 0 or not lines:
        fail(3, f"run failed (exit {proc.returncode})", log)
    res = json.loads(lines[-1][len(RESULT_PREFIX):])

    wanted = [(m["name"], m["unit"]) for m in bench["per_layer" if a.trace else "end_to_end"]]
    got = {m["name"]: m for m in res["metrics"]}
    print(f"workload {a.workload}  seed {a.seed}  seconds {a.seconds}  trace {a.trace}  cores {cores}")
    for m in res["metrics"]:
        print(f"  {m['name']} = {m['value']} {m['unit']}")
    for k, v in res["info"].items():
        print(f"  [{k}] {v}")
    for f in res["failures"]:
        print(f"  FAILED CHECK: {f}")
    missing = [w[0] for w in wanted if w[0] not in got or got[w[0]]["value"] is None]
    if missing:
        fail(3, f"metrics not reported: {missing}", log)
    bad_units = [w[0] for w in wanted if got[w[0]]["unit"] != w[1]]
    if bad_units:
        fail(3, f"metrics reported with the wrong unit: {bad_units}", log)
    result = {
        "correct": bool(res["correct"]),
        "attempted": int(res["attempted"]),
        "failed": int(res["failed"]),
        "metrics": {w[0]: {"value": got[w[0]]["value"], "unit": w[1]} for w in wanted},
    }
    print(json.dumps(result))
    sys.exit(0 if result["correct"] else 1)


def self_test() -> None:
    work = build.OUT / "work" / f"self-test-{os.getpid()}"
    log = build.OUT / "logs" / "self-test.log"
    try:
        proc = jvm("graft.perfbench.SelfTest", ["--work", str(work)], log, work)
    except build.BuildError as e:
        fail(2, f"build failed: {e}")
    except subprocess.TimeoutExpired:
        fail(3, f"self-test exceeded {JVM_TIMEOUT_S} s", log)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    sys.stdout.write(proc.stdout)
    if proc.returncode != 0:
        fail(1, "self-test failed", log)


def main() -> None:
    p = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    p.add_argument("--workload")
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=int)
    p.add_argument("--trace", type=int, choices=[0, 1], default=0)
    p.add_argument("--self-test", action="store_true")
    a = p.parse_args()
    if a.self_test:
        self_test()
    elif a.workload:
        bench = contract()
        if a.seconds is None:
            a.seconds = bench["run_seconds"]
        run_workload(a, bench)
    else:
        p.error("--workload is required")


if __name__ == "__main__":
    main()
