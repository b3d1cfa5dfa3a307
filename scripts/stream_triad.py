"""Pinned numpy STREAM-triad bandwidth control (a + 2b -> c), best of 5,
at two pinned core counts — same protocol as BENCH/TRIAD_4_16_R5.json."""
import json
import subprocess
import sys

N = 60_000_000  # 3 arrays x 8B x 60M = 1.44 GB working set


def level(cores: int) -> float:
    # split the arrays across `cores` pinned worker processes, each doing n/cores
    per = N // cores
    worker = (
        "import numpy as np, time, sys\n"
        f"n = {per}\n"
        "a = np.ones(n); b = np.ones(n); c = np.zeros(n)\n"
        "best = None\n"
        "for _ in range(5):\n"
        "    t0 = time.time()\n"
        "    np.add(a, 2.0 * b, out=c)\n"
        "    dt = time.time() - t0\n"
        "    best = dt if best is None else min(best, dt)\n"
        "print(best)\n"
    )
    procs = []
    for i in range(cores):
        procs.append(subprocess.Popen(
            ["taskset", "-c", str(i), sys.executable, "-c", worker],
            stdout=subprocess.PIPE, text=True))
    times = [float(p.communicate()[0].strip()) for p in procs]
    return max(times)  # slowest worker = wall time of the parallel triad


if __name__ == "__main__":
    lo, hi = 4, 16
    t_lo = level(lo)
    t_hi = level(hi)
    # per-worker sizes differ (N/4 vs N/16): normalize to aggregate rate
    rate_lo = N / t_lo
    rate_hi = N / t_hi
    out = {
        "cores": [lo, hi],
        f"t{lo}": round(t_lo, 4),
        f"t{hi}": round(t_hi, 4),
        "speedup": round(rate_hi / rate_lo, 3),
        "eff": round(rate_hi / rate_lo / (hi / lo), 3),
        "note": ("memory-bandwidth control: pinned numpy STREAM-triad "
                 "(a + 2b -> c, 1.44 GB aggregate working set split across "
                 "pinned single-core workers, best of 5 per worker, wall = "
                 "slowest worker) at 4 vs 16 pinned cores, round-6, same "
                 "session as ENVELOPE_4_16_R6"),
    }
    print(json.dumps(out))
