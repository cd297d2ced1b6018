"""Self-test of the benchmark at its smallest size (sf0.001 tables, a
two-day ingest of ~40 records a day).

    python3 perfbench/selftest.py            # every workload in BENCHMARK.json
    python3 perfbench/selftest.py olap_llm   # just one

Run from the repository root. Checks three things:

1. every metric named in ``BENCHMARK.json`` is printed with its unit,
   end-to-end metrics untraced and per-layer metrics traced;
2. a deliberately wrong result is counted as failed (one query
   workload and the ingest workload);
3. the traced and untraced runs report the same op list.

Exits 0 when every check passes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
RUN = os.path.join(HERE, "run.py")
sys.path.insert(0, HERE)

import workloads as wl  # noqa: E402


def run(workload: str, trace: int, *extra: str) -> tuple[dict, dict]:
    cmd = [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace), "--tiny", *extra]
    proc = subprocess.run(cmd, capture_output=True, text=True, timeout=600)
    if proc.returncode != 0:
        raise AssertionError(f"{' '.join(cmd)} exited {proc.returncode}:\n{proc.stderr[-3000:]}")
    lines = proc.stdout.strip().splitlines()
    return json.loads(lines[-2]), json.loads(lines[-1])


def check_metrics(line: dict, specs: list[dict], where: str) -> list[str]:
    errors = []
    if set(line) != {"correct", "attempted", "failed", "metrics"}:
        errors.append(f"{where}: summary keys {sorted(line)}")
    got = line.get("metrics", {})
    for spec in specs:
        m = got.get(spec["name"])
        if m is None:
            errors.append(f"{where}: metric {spec['name']} missing")
        elif m.get("unit") != spec["unit"] or not isinstance(m.get("value"), (int, float)):
            errors.append(f"{where}: metric {spec['name']} printed as {m}")
    extra = set(got) - {s["name"] for s in specs}
    if extra:
        errors.append(f"{where}: unexpected metrics {sorted(extra)}")
    return errors


def main(argv: list[str]) -> int:
    with open("BENCHMARK.json") as fh:
        bench = json.load(fh)
    names = argv or [w["name"] for w in bench["workloads"]]
    errors: list[str] = []
    for name in names:
        detail0, line0 = run(name, 0)
        errors += check_metrics(line0, bench["end_to_end"], f"{name} --trace 0")
        if not line0["correct"] or line0["failed"]:
            errors.append(f"{name}: untraced run failed ops: {detail0['failures']}")
        if detail0["metrics"].get("failed_ratio", {}).get("unit") != "ratio":
            errors.append(f"{name}: failed_ratio not printed with its unit")
        detail1, line1 = run(name, 1)
        errors += check_metrics(line1, bench["per_layer"], f"{name} --trace 1")
        ops0 = [o[0] for o in detail0["ops"]]
        ops1 = [o[0] for o in detail1["ops"]]
        if ops0 != ops1:
            errors.append(f"{name}: traced ops {ops1} != untraced ops {ops0}")
        print(f"{name}: metrics and op lists checked", flush=True)
    query_done = False
    for name in names:
        spec = wl.WORKLOADS[name]
        if spec["kind"] == "query" and query_done:
            continue  # one query workload is enough
        query_done = query_done or spec["kind"] == "query"
        wrong = spec["queries"][0] if spec["kind"] == "query" else "day"
        detail, line = run(name, 0, "--inject-wrong", wrong)
        if line["correct"] or line["failed"] < 1:
            errors.append(f"{name}: a wrong result was not counted as failed: {line}")
        print(f"{name}: wrong result counted as failed ({detail['failures']})", flush=True)
    for e in errors:
        print("FAIL", e)
    print("selftest:", "ok" if not errors else f"{len(errors)} failure(s)")
    return 1 if errors else 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
