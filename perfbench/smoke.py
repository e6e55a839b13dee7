"""Smoke test of the benchmark itself, at sf 0.001.

    python3 perfbench/smoke.py [workload ...]

For each workload (default: all three) it runs the benchmark twice with
one seed, untraced then traced, and checks that

- both runs saw the identical query stream, epoch order and result ids
  (compared over the ops both runs completed);
- every op passed its checks;
- the untraced run prints every end-to-end metric and the traced run
  every per-layer metric, by name and with its unit, and the JSON
  record carries exactly the metrics BENCHMARK.json declares;
- in a directory holding only BENCHMARK.json and perfbench/, the
  benchmark exits non-zero without printing a result.

Exits 0 when everything holds, 1 otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import metrics  # noqa: E402

SEED = 7
SECONDS = "3"
SF = "0.001"
WRITE_ONLY = ("write_p50_ms", "rows_ingested_per_s", "store_bytes_per_input_byte")


def _run(workload: str, trace: int, oplog: str, cwd: str = ROOT):
    cmd = [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--workload", workload,
           "--seed", str(SEED), "--seconds", SECONDS, "--trace", str(trace), "--sf", SF,
           "--oplog", oplog]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def _check_output(workload: str, trace: int, stdout: str, errors: list[str]) -> None:
    lines = stdout.strip().splitlines()
    record = json.loads(lines[-1])
    if set(record) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{workload}: result keys {sorted(record)}")
    if not record["correct"] or record["failed"] or record["attempted"] < 1:
        errors.append(f"{workload}: ops failed: {record['failed']} of {record['attempted']}")
    spec = metrics.PER_LAYER if trace else metrics.END_TO_END
    got = {k: v["unit"] for k, v in record["metrics"].items()}
    if got != spec:
        errors.append(f"{workload} trace={trace}: metrics {got} != {spec}")
    names = dict(spec)
    if not trace:
        names.update(
            (k, u) for k, u in metrics.REPORT_ONLY.items()
            if workload == "ingest_mixed" or k not in WRITE_ONLY
        )
    printed = {}
    for line in lines[:-1]:
        name, sep, rest = line.strip().partition(" = ")
        if sep:
            printed[name] = rest.split("  (")[0].split(" ", 1)[-1]
    for name, unit in names.items():
        if printed.get(name) != unit:
            errors.append(f"{workload} trace={trace}: {name} [{unit}] not printed")


def _check_declared(errors: list[str]) -> None:
    path = os.path.join(ROOT, "BENCHMARK.json")
    with open(path) as fh:
        bench = json.load(fh)
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if e2e != metrics.END_TO_END:
        errors.append(f"BENCHMARK.json end_to_end {e2e} != {metrics.END_TO_END}")
    if layer != metrics.PER_LAYER:
        errors.append(f"BENCHMARK.json per_layer {layer} != {metrics.PER_LAYER}")
    unknown = {w["name"] for w in bench["workloads"]} - set(metrics.WORKLOAD_NAMES)
    if unknown:
        errors.append(f"BENCHMARK.json names unknown workloads {unknown}")


def _check_bare_dir(errors: list[str]) -> None:
    """Without the engine beside it the benchmark must fail, not report."""
    bare = os.path.join(ROOT, ".perfbench", "smoke-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    try:
        p = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", metrics.WORKLOAD_NAMES[0],
             "--seed", "1", "--seconds", "1", "--trace", "0"],
            cwd=bare, capture_output=True, text=True, timeout=180,
        )
        if p.returncode == 0 or p.stdout.strip():
            errors.append(f"bare directory: exit {p.returncode}, stdout {p.stdout[-200:]!r}")
    finally:
        shutil.rmtree(bare, ignore_errors=True)


def main(argv: list[str]) -> int:
    workloads = argv or list(metrics.WORKLOAD_NAMES)
    errors: list[str] = []
    _check_declared(errors)
    _check_bare_dir(errors)
    out_dir = os.path.join(ROOT, ".perfbench", "smoke")
    os.makedirs(out_dir, exist_ok=True)
    for w in workloads:
        logs = []
        for trace in (0, 1):
            oplog = os.path.join(out_dir, f"{w}-trace{trace}.json")
            p = _run(w, trace, oplog)
            if p.returncode != 0:
                errors.append(f"{w} trace={trace}: exit {p.returncode}: {p.stderr[-1500:]}")
                break
            _check_output(w, trace, p.stdout, errors)
            with open(oplog) as fh:
                logs.append(json.load(fh))
        if len(logs) == 2:
            a, b = logs
            n = min(len(a), len(b))
            if n == 0 or a[:n] != b[:n]:
                errors.append(f"{w}: runs of seed {SEED} differ within their first {n} ops")
        print(f"smoke {w}: {'ok' if not errors else 'FAILED'}", flush=True)
    shutil.rmtree(out_dir, ignore_errors=True)
    for e in errors:
        print("  " + e)
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
