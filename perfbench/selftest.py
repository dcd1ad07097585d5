"""Smoke self-test of the benchmark at tiny input size.

    python3 perfbench/selftest.py

For every workload in BENCHMARK.json it runs ``run.py`` untraced and
traced, and asserts that the last output line is the result object, that
the output checks passed, and that every metric BENCHMARK.json names is
printed with its unit. It also asserts that the benchmark refuses to run,
printing no result, in a directory that holds only the benchmark. Takes a
few minutes: every run still starts its own JVM.
"""
from __future__ import annotations

import contextlib
import json
import math
import pathlib
import shutil
import subprocess
import sys

ROOT = pathlib.Path(__file__).resolve().parent.parent
SCALE = "0.05"


def run(cwd: pathlib.Path, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def check_result(proc: subprocess.CompletedProcess, metrics: list[dict], what: str) -> None:
    if proc.returncode != 0:
        sys.stderr.write(proc.stderr[-4000:])
        raise AssertionError(f"{what}: exit code {proc.returncode}")
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}, what
    assert result["correct"] is True and result["failed"] == 0, f"{what}: {result}"
    assert isinstance(result["attempted"], int) and result["attempted"] >= 1, what
    want = {m["name"]: m["unit"] for m in metrics}
    got = result["metrics"]
    assert set(got) == set(want), f"{what}: metrics {sorted(set(got) ^ set(want))}"
    for name, m in got.items():
        assert m["unit"] == want[name], f"{what}: {name} unit {m['unit']}"
        v = m["value"]
        assert isinstance(v, (int, float)) and math.isfinite(v), f"{what}: {name}={v!r}"


def main() -> int:
    bench = json.loads((ROOT / "BENCHMARK.json").read_text())
    for w in bench["workloads"]:
        for trace, metrics in (("0", bench["end_to_end"]), ("1", bench["per_layer"])):
            what = f"{w['name']} --trace {trace}"
            proc = run(ROOT, "--workload", w["name"], "--seed", "7", "--seconds", "1",
                       "--trace", trace, "--scale", SCALE)
            check_result(proc, metrics, what)
            print(f"ok   {what}", flush=True)

    bare = ROOT / ".perfbench_work" / "selftest-bare"
    shutil.rmtree(bare, ignore_errors=True)
    try:
        bare.mkdir(parents=True)
        shutil.copy(ROOT / "BENCHMARK.json", bare)
        for p in bench["paths"]:
            shutil.copytree(ROOT / p, bare / p, ignore=shutil.ignore_patterns("__pycache__"))
        w = bench["workloads"][0]["name"]
        proc = run(bare, "--workload", w, "--seed", "7", "--seconds", "1", "--trace", "0")
        assert proc.returncode != 0, "ran without the program"
        assert '"metrics"' not in proc.stdout, "printed a result without the program"
        print("ok   refuses to run without the program", flush=True)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
        with contextlib.suppress(OSError):
            bare.parent.rmdir()
    return 0


if __name__ == "__main__":
    sys.exit(main())
