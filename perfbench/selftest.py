"""Benchmark self-test at tiny input sizes.

    python3 perfbench/selftest.py

Runs every workload once traced at --size tiny, plus one untraced run
whose expected results are deliberately corrupted, and asserts that:
- BENCHMARK.json lists exactly the workloads and metrics emitted;
- every end-to-end metric is printed by name with its unit;
- the traced JSON carries every per-layer metric with its unit;
- every Spark job of the traced passes belongs to an op span, and
  every traced op ran at least one job;
- the Python/Arrow boundary reads 0 where no Python runs;
- a corrupted expected result is reported as a failure.
Exits non-zero on the first failed assertion.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import END_TO_END  # noqa: E402
from spans import LAYER_UNITS  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

SEED = 7


def bench(*args: str) -> tuple[list[str], dict]:
    p = subprocess.run([sys.executable, os.path.join(HERE, "run.py"),
                        "--seed", str(SEED), "--seconds", "1",
                        "--size", "tiny", *args],
                       capture_output=True, text=True, cwd=ROOT,
                       timeout=600)
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines[:-1], json.loads(lines[-1])


def printed(lines: list[str]) -> dict[str, str]:
    """{metric name: unit} from the `metric <name> <value> <unit>` lines."""
    return {ln.split()[1]: ln.split()[3] for ln in lines
            if ln.startswith("metric ")}


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == LAYER_UNITS
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)

    for name in WORKLOADS:
        lines, res = bench("--workload", name, "--trace", "1")
        shown = printed(lines)
        for k, unit in END_TO_END.items():
            assert shown.get(k) == unit, f"{name}: {k} not printed in {unit}"
        assert res["correct"] and res["failed"] == 0, (name, res)
        got = {k: v["unit"] for k, v in res["metrics"].items()}
        assert got == LAYER_UNITS, f"{name}: per-layer metrics {got}"
        m = {k: v["value"] for k, v in res["metrics"].items()}
        assert m["trace.unattributed_jobs"] == 0, (name, m)
        assert m["trace.attributed_jobs"] > 0, (name, m)
        with open(os.path.join(ROOT, ".perfbench",
                               f"trace-{name}-{SEED}.json")) as f:
            ops = json.load(f)["ops"]
        for op in ops:
            jobs = [j for s in op["spans"] for j in s["jobs"]]
            assert jobs, f"{name}: traced op {op['name']} has no jobs"
        if name != "corpus_ops":
            py = [k for k in m if k.startswith("operators.py_") and m[k]]
            assert not py, f"{name}: Python boundary read {py}"
        print(f"ok  {name}: {len(ops)} traced ops, "
              f"{m['trace.attributed_jobs']} jobs attributed")

    _, everything = bench("--workload", "all", "--trace", "0",
                          "--corrupt-check")
    for name, res in everything.items():
        assert not res["correct"] and res["failed"] >= 1, (name, res)
        assert set(res["metrics"]) == set(END_TO_END), res["metrics"]
        print(f"ok  {name}: corrupted expected result reported "
              f"({res['failed']} failed)")
    return 0


if __name__ == "__main__":
    sys.exit(main())
