"""One-command full local regression: tests + oracle parity + ANSI sweep
+ bench, with a single PASS/FAIL summary — the pre-commit gate for big
refactors (each stage is also runnable alone; see each tool's docstring).

Usage: python tools/regress.py [--quick]
  --quick replaces the (slow) full pytest suite with its regime module
  (tests/test_regimes.py) and runs the other stages as usual.

Stages (all but pytest run from /tmp to catch closure-serialization bugs):
  1. pytest tests/ -q                        (~25 min)
     --quick: pytest tests/test_regimes.py   (~2 min; connected components,
     label propagation and BPE in both regimes — the sf0.01 inputs of
     parity only reach their driver regime)
  2. tools/parity_full.py at sf0.01          (~4 min, every registered query)
  3. tools/ansi_smoke.py at sf0.001          (~3 min, strict semantics)
  4. bench.py at $SPARK_GRAFT_SF_DIR         (~2 min, one JSON line; its
     record goes to /tmp/hcs_regress_bench_last.json, not the committed
     bench_last.json)
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run(name: str, cmd: list[str], cwd: str = "/tmp", env: dict | None = None) -> bool:
    t0 = time.time()
    proc = subprocess.run(
        cmd, cwd=cwd, capture_output=True, text=True, timeout=1800,
        env={**os.environ, **(env or {})},
    )
    ok = proc.returncode == 0
    tail = "\n".join((proc.stdout or "").strip().splitlines()[-3:])
    print(f"[{'PASS' if ok else 'FAIL'}] {name} ({time.time() - t0:.0f}s)")
    print("       " + tail.replace("\n", "\n       "))
    if not ok:
        print((proc.stderr or "")[-2000:])
    return ok

def main() -> None:
    quick = "--quick" in sys.argv
    results = []
    tests = "tests/test_regimes.py" if quick else "tests/"
    results.append(run("pytest", [sys.executable, "-m", "pytest", tests, "-q"], cwd=REPO))
    results.append(run("lazy-import lint", [sys.executable, f"{REPO}/tools/lint_lazy_imports.py", REPO]))
    # r9 lesson (w_rolling_distinct): a new lazy re-derivation must not
    # land silently — the audit is cheap next to parity
    results.append(run("scan-audit", [sys.executable, f"{REPO}/tools/scan_audit.py", "/root/testdata/sf0.01", "3", "--gate"]))
    results.append(run("parity", [sys.executable, f"{REPO}/tools/parity_full.py", "/root/testdata/sf0.01"]))
    results.append(run("ansi", [sys.executable, f"{REPO}/tools/ansi_smoke.py", "/root/testdata/sf0.001"]))
    # the bench's own record goes to a side file: the committed
    # bench_last.json is the full-scale baseline, not this gate's run
    results.append(run("bench", [sys.executable, f"{REPO}/bench.py"],
                       env={"HCS_BENCH_RECORD": "/tmp/hcs_regress_bench_last.json"}))
    print("=" * 40)
    print("ALL PASS" if all(results) else "FAILURES PRESENT")
    sys.exit(0 if all(results) else 1)


if __name__ == "__main__":
    main()
