#!/usr/bin/env python
"""One-command round-end gate battery.

Runs, in order, every correctness/portability gate the round checklist
requires (the r8 manual sequence, codified):

  1. the numpy-kernel bit-identity pins (``pytest -m pins``, under a
     minute)
  2. oracle result-type portability (DESCRIBE-only, seconds)
  3. ROUND near-tie sweep at sf0.01 and sf0.1
  4. DuckDB thread-count stability at sf0.01 and sf0.1
  5. full oracle parity at sf0.01 and sf0.1
  6. signed-zero/NaN strict audit at sf0.01 (dual-engine, slowest)

Stops at the first failing gate (later gates assume earlier ones).
The rest of the pytest suite and the vanilla-session probe are NOT
included — run them separately (`python -m pytest tests/ -q`,
`python tools/run_vanilla_probe.py /root/testdata/sf0.01 all`); they
have their own runtimes and this script is already ~1 h.

Usage: python tools/run_round_gates.py [--fast]
  --fast: skip the sf0.1 passes and the signed-zero audit (the
  pre-commit loop; the pins still run; the full battery stays the
  round-end requirement).
"""

from __future__ import annotations

import os
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
GATES: list[tuple[str, list[str]]] = [
    ("pins", [sys.executable, "-m", "pytest", "-m", "pins", "-q"]),
    ("oracle-types", [sys.executable, f"{HERE}/sweep_oracle_types.py"]),
    ("round-ties@0.01", [sys.executable, f"{HERE}/sweep_round_ties.py",
                         "/root/testdata/sf0.01"]),
    ("round-ties@0.1", [sys.executable, f"{HERE}/sweep_round_ties.py",
                        "/root/testdata/sf0.1"]),
    ("thread-sums@0.01", [sys.executable, f"{HERE}/sweep_thread_sums.py",
                          "/root/testdata/sf0.01"]),
    ("thread-sums@0.1", [sys.executable, f"{HERE}/sweep_thread_sums.py",
                         "/root/testdata/sf0.1"]),
    ("parity@0.01", [sys.executable, f"{HERE}/check_parity.py",
                     "/root/testdata/sf0.01"]),
    ("parity@0.1", [sys.executable, f"{HERE}/check_parity.py",
                    "/root/testdata/sf0.1"]),
    ("signed-zero@0.01", [sys.executable, f"{HERE}/sweep_signed_zero.py",
                          "/root/testdata/sf0.01"]),
]

_FAST_SKIP = {"round-ties@0.1", "thread-sums@0.1", "parity@0.1",
              "signed-zero@0.01"}


def main() -> int:
    fast = "--fast" in sys.argv
    for name, cmd in GATES:
        if fast and name in _FAST_SKIP:
            print(f"[gates] SKIP {name} (--fast)")
            continue
        t0 = time.perf_counter()
        print(f"[gates] {name} ...", flush=True)
        r = subprocess.run(cmd, capture_output=True, text=True, cwd=ROOT)
        dt = time.perf_counter() - t0
        tail = "\n".join(r.stdout.strip().splitlines()[-3:])
        if r.returncode != 0:
            print(f"[gates] FAIL {name} ({dt:.0f}s)\n{tail}\n{r.stderr[-500:]}")
            return 1
        last = tail.splitlines()[-1] if tail else "(no output)"
        print(f"[gates] ok   {name} ({dt:.0f}s): {last}")
    print("[gates] ALL GATES GREEN")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
