#!/usr/bin/env python3
"""Planted-slowdown test: the traced run must put a sleep in the layer
that slept.

    python3 perfbench/test_planted.py [--seconds 6] [--seed 7]

Runs the traced ship_trickle workload three times: plain, with a sleep in
the ship seam of `AuditIngest.startStream` (every micro-batch), and with a
sleep in the wrapped `LockChecker` (every lock probe). The ship sleep must
show up under `ingest.AuditIngest.addBatch_p50_ms`; the lock sleep must
show up under `ingest.SettleGate` and leave the `ingest.AuditIngest`
phases inside their noise band. Exits non-zero on the first miss.
"""
import argparse
import json
import os
import subprocess
import sys

RUN = os.path.join(os.path.dirname(os.path.abspath(__file__)), "run.py")
SHIP_SLEEP_MS = 800
LOCK_SLEEP_MS = 40
PHASES = ["latestOffset", "getBatch", "queryPlanning", "addBatch", "walCommit", "commitOffsets"]


def traced(seed, seconds, ship_ms=0, lock_ms=0):
    cmd = [sys.executable, RUN, "--workload", "ship_trickle", "--seed", str(seed),
           "--seconds", str(seconds), "--trace", "1",
           "--plant-ship-sleep-ms", str(ship_ms), "--plant-lock-sleep-ms", str(lock_ms)]
    r = subprocess.run(cmd, capture_output=True, text=True)
    if r.returncode != 0:
        sys.exit(f"traced run failed ({r.returncode}): {r.stderr[-1000:]}")
    res = json.loads(r.stdout.strip().splitlines()[-1])
    if not res["correct"]:
        sys.exit(f"traced run produced wrong outputs: {r.stderr[-1000:]}")
    return {k: v["value"] for k, v in res["metrics"].items()}


def main():
    ap = argparse.ArgumentParser()
    ap.add_argument("--seconds", type=float, default=6)
    ap.add_argument("--seed", type=int, default=7)
    a = ap.parse_args()
    base = traced(a.seed, a.seconds)
    ship = traced(a.seed, a.seconds, ship_ms=SHIP_SLEEP_MS)
    lock = traced(a.seed, a.seconds, lock_ms=LOCK_SLEEP_MS)
    checks = []

    def expect(ok, what):
        checks.append((ok, what))
        print(("ok   " if ok else "FAIL ") + what)

    ai, sg = "ingest.AuditIngest.", "ingest.SettleGate."
    d = ship[ai + "addBatch_p50_ms"] - base[ai + "addBatch_p50_ms"]
    expect(d >= 0.8 * SHIP_SLEEP_MS,
           f"ship sleep {SHIP_SLEEP_MS} ms -> addBatch p50 +{d:.0f} ms")
    d = ship[sg + "tick_p50_ms"] - base[sg + "tick_p50_ms"]
    expect(d < 0.1 * SHIP_SLEEP_MS, f"ship sleep leaves SettleGate tick p50 (+{d:.1f} ms)")

    d = lock[sg + "lockcheck_p50_us"] - base[sg + "lockcheck_p50_us"]
    expect(d >= 0.9 * LOCK_SLEEP_MS * 1000, f"lock sleep {LOCK_SLEEP_MS} ms -> lockcheck p50 +{d:.0f} us")
    d = lock[sg + "tick_p99_ms"] - base[sg + "tick_p99_ms"]
    expect(d >= LOCK_SLEEP_MS, f"lock sleep -> SettleGate tick p99 +{d:.0f} ms")
    d = lock[sg + "self_s"] - base[sg + "self_s"]
    expect(d > 0, f"lock sleep -> SettleGate self time +{d:.2f} s")
    for ph in PHASES:
        b, l = base[f"{ai}{ph}_p50_ms"], lock[f"{ai}{ph}_p50_ms"]
        expect(l - b < max(LOCK_SLEEP_MS, 0.5 * b),
               f"lock sleep leaves AuditIngest {ph} p50 ({b:.0f} -> {l:.0f} ms)")
    sys.exit(0 if all(ok for ok, _ in checks) else 1)


if __name__ == "__main__":
    main()
