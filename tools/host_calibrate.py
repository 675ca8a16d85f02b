"""Host-speed calibration probe for bench adjudication.

Round-over-round bench ratios assume the HOST is the same speed in both
rounds. Round 10 showed it is not: a full frozen-suite run read 1.35x vs
BENCH_r09 with golden plans byte-identical, untouched modules (TPC-H,
window_*, events_*) rising uniformly, vmstat 100% idle / 0% steal, and
warm best-of-5 re-measures STILL 1.4x high on queries whose code and
plans had not changed since round 5 — while q3's dedicated-session warm
read came in BELOW its r9 number. That pattern is a slower/noisier host
this boot, not a code regression, but without a fixed-work probe there
was no number to prove it.

This tool is that number: a deterministic CPU workload whose ops/sec
depends only on host speed (never on repo code), recorded per round in
PERF.md next to the bench ratio. Adjudication rule: if the calibration
ratio (prev/cur) explains the suite ratio within the established ±30%
noise band, the round is flat; only the residual is worth a code look.

Probes (all fixed work, seeded, no I/O):
- md5 chain       — single-core scalar Python/C throughput (the shape of
                    row-at-a-time costs and JVM-free overheads)
- numpy matmul    — vectorized FP throughput (Arrow/pandas kernel shape)
- numpy int sort  — memory-bandwidth-bound shuffle-ish shape
- spawn32 md5     — 32-way multiprocessing scaling (local[32] shape);
                    catches "idle but throttled" hosts where single-core
                    reads normal but the full socket does not

Usage: python tools/host_calibrate.py          (~20 s, prints one JSON line)
"""

from __future__ import annotations

import hashlib
import json
import multiprocessing as mp
import time


def _md5_chain(n: int = 400_000) -> float:
    h = b"calibrate"
    t = time.perf_counter()
    for _ in range(n):
        h = hashlib.md5(h).digest()
    return n / (time.perf_counter() - t)


def _matmul(reps: int = 8) -> float:
    import numpy as np

    a = np.random.RandomState(0).rand(1024, 1024)
    a @ a  # warm
    t = time.perf_counter()
    for _ in range(reps):
        a @ a
    return reps / (time.perf_counter() - t)


def _int_sort(reps: int = 5) -> float:
    import numpy as np

    x = np.random.RandomState(1).randint(0, 1 << 62, size=4_000_000)
    t = time.perf_counter()
    for _ in range(reps):
        np.sort(x, kind="stable")
    return reps / (time.perf_counter() - t)


def _worker(n: int) -> float:
    return _md5_chain(n)


def _spawn32(n_per: int = 600_000, procs: int = 32) -> float:
    # Warm the pool first and time only the map: process spawn is ~1-2 s of
    # constant overhead that would otherwise swamp the throughput signal.
    ctx = mp.get_context("spawn")
    with ctx.Pool(procs) as p:
        p.map(_worker, [1_000] * procs)
        t = time.perf_counter()
        p.map(_worker, [n_per] * procs)
        return procs * n_per / (time.perf_counter() - t)


def main() -> int:
    best = {
        # best-of-3 per probe: co-tenant spikes are transient, host clock
        # speed is not — best-of isolates the latter.
        "md5_chain_hps": max(_md5_chain() for _ in range(3)),
        "matmul_1024_ps": max(_matmul() for _ in range(3)),
        "int_sort_4m_ps": max(_int_sort() for _ in range(3)),
        "md5_32proc_hps": max(_spawn32() for _ in range(2)),
    }
    try:
        with open("/proc/loadavg") as f:
            best["loadavg_1m"] = float(f.read().split()[0])
    except OSError:
        pass
    print(json.dumps({k: round(v, 1) for k, v in best.items()}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
