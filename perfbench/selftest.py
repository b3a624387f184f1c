"""Self-test of the benchmark at toy size (about five minutes on 4 cores).

  python3 perfbench/selftest.py

Checks that:
- an untraced and a traced run each print, as their last line, the result
  object with every end-to-end or per-layer metric BENCHMARK.json names,
  in its unit, and pass the oracle check;
- a run whose first schedule row is altered before the check counts exactly
  that round as failed;
- in a directory holding only BENCHMARK.json and the benchmark, the command
  exits non-zero without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def bench(*extra: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", "toy", "--seed", "1", "--seconds", "1"]
    return subprocess.run([*cmd, *extra], cwd=cwd, capture_output=True, text=True, timeout=300)


def result(p: subprocess.CompletedProcess) -> dict:
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}, out.keys()
    return out


def main() -> None:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    for trace, names in (("0", "end_to_end"), ("1", "per_layer")):
        out = result(bench("--trace", trace))
        want = {m["name"]: m["unit"] for m in spec[names]}
        got = {k: v["unit"] for k, v in out["metrics"].items()}
        assert got == want, set(got) ^ set(want)
        assert all(isinstance(v["value"], (int, float)) for v in out["metrics"].values())
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 2, out
        print(f"trace {trace}: {len(got)} metrics, {out['attempted']} rounds checked")

    out = result(bench("--trace", "0", "--corrupt-schedule"))
    assert not out["correct"] and out["failed"] == 1, out
    print(f"corrupted schedule row: {out['failed']} of {out['attempted']} rounds failed")

    bare = os.path.join(ROOT, ".perfbench-work", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    os.makedirs(bare)
    try:
        shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
        shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                        ignore=shutil.ignore_patterns("__pycache__"))
        p = bench("--trace", "0", cwd=bare)
        assert p.returncode != 0 and not p.stdout.strip(), (p.returncode, p.stdout)
        print(f"bare directory: exit {p.returncode}, nothing on stdout")
    finally:
        shutil.rmtree(bare)
    print("selftest ok")


if __name__ == "__main__":
    main()
