#!/usr/bin/env python3
"""Determinism test of the benchmark's change generator.

The same seed must give a byte-identical ledger (its Debezium frames and
its lake batches hash the same), and a different seed a different one.

    python3 pipebench/test_gen.py
"""
import subprocess
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))
import build  # noqa: E402


def ledger(cp: str, seed: int, events: int = 5000) -> str:
    out = subprocess.run(["java", "-XX:-UsePerfData", "-cp", cp, "graftbench.LedgerHash", str(seed), str(events)],
                         check=True, capture_output=True, text=True).stdout
    return out.strip()


def main() -> int:
    cp = build.build()
    a, b, c = ledger(cp, 7), ledger(cp, 7), ledger(cp, 8)
    ok = a == b and all(x != y for x, y in zip(a.split(), c.split()))
    print(f"seed 7: {a}\nseed 7: {b}\nseed 8: {c}\n{'PASS' if ok else 'FAIL'}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
