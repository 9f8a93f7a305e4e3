"""Self-test of the benchmark at tiny scale (sf0.001 corpus, 20x16x32 tensor).

    python3 perfbench/selftest.py

Run from the root of a checkout.  It checks that

- every workload runs at tiny scale, untraced and traced, with every
  operation correct, and that the result line carries exactly the metric
  names and units ``BENCHMARK.json`` declares;
- an injected failing operation (one that raises, one whose output is
  wrong) is counted in ``fail_frac`` and ``failed`` and makes the exit
  code 1;
- outside a checkout (a directory with only ``BENCHMARK.json`` and the
  benchmark's files) the command exits nonzero and prints no result.

Exits 0 when every check holds; prints each failed check otherwise.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RESULT_KEYS = {"correct", "attempted", "failed", "metrics"}


def run(args: list[str], cwd: str = ROOT) -> tuple[int, list[dict]]:
    """Run the benchmark; return its exit code and its JSON stdout lines."""
    proc = subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), "--seed", "1",
         "--seconds", "1", *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, timeout=300,
    )
    lines = [json.loads(x) for x in proc.stdout.splitlines() if x.startswith("{")]
    return proc.returncode, lines


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    want = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    problems: list[str] = []

    def expect(ok: bool, what: str) -> None:
        print(("ok   " if ok else "FAIL ") + what, flush=True)
        if not ok:
            problems.append(what)

    for w in bench["workloads"]:
        for trace in (0, 1):
            code, lines = run(["--workload", w["name"], "--scale", "tiny", "--trace", str(trace)])
            tag = f"{w['name']} trace={trace}"
            expect(code == 0 and bool(lines), f"{tag}: exit 0 with a result")
            if not lines:
                continue
            res = lines[-1]
            expect(set(res) == RESULT_KEYS, f"{tag}: result keys {sorted(res)}")
            expect(res.get("correct") is True and res.get("failed") == 0
                   and res.get("attempted", 0) >= 1, f"{tag}: every operation correct")
            got = {k: m["unit"] for k, m in res.get("metrics", {}).items()}
            expect(got == want[trace], f"{tag}: metric names and units")
            expect(all(isinstance(m["value"], float) for m in res.get("metrics", {}).values()),
                   f"{tag}: every metric has a measured value")
            expect(len(lines) > 1 and lines[-2].get("fail_frac") == 0.0, f"{tag}: fail_frac 0")

    workload = bench["workloads"][-1]["name"]
    for kind in ("raise", "wrong"):
        code, lines = run(["--workload", workload, "--scale", "tiny", "--trace", "0",
                           "--inject", kind])
        tag = f"{workload} inject={kind}"
        expect(code == 1, f"{tag}: exit code 1 (got {code})")
        res = lines[-1] if lines else {}
        expect(res.get("correct") is False and res.get("failed", 0) >= 1, f"{tag}: counted as failed")
        expect(len(lines) > 1 and lines[-2].get("fail_frac", 0) > 0, f"{tag}: fail_frac > 0")

    bare = os.path.join(ROOT, ".perfbench_tmp", "selftest-bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, lines = run(["--workload", workload, "--trace", "0"], cwd=bare)
    shutil.rmtree(bare)
    expect(code != 0 and not lines, "outside a checkout: nonzero exit, no result")

    print(f"{len(problems)} failed check(s)")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
