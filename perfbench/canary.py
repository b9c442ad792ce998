"""Host canary: a fixed NumPy matmul load on one thread, then on every core.

Diagnostic only: it says how busy the shared host was when a run was
measured and never gates a result. Run it in its own process with BLAS
pinned to one thread per call (``run.py`` does), so the work per thread is
the same everywhere: ``python3 perfbench/canary.py <threads>``.
"""

from __future__ import annotations

import json
import sys
import threading
import time

import numpy as np

REPS = 40


def main(threads: int) -> None:
    rng = np.random.RandomState(42)
    a, b = rng.rand(384, 384), rng.rand(384, 384)

    def burn(n: int) -> None:
        for _ in range(n):
            a @ b

    burn(5)
    t0 = time.perf_counter()
    burn(REPS)
    t1 = time.perf_counter()
    workers = [threading.Thread(target=burn, args=(REPS,)) for _ in range(threads)]
    for w in workers:
        w.start()
    for w in workers:
        w.join()
    t2 = time.perf_counter()
    print(json.dumps({"host.canary_1t_s": t1 - t0, "host.canary_nt_s": t2 - t1}))


if __name__ == "__main__":
    main(int(sys.argv[1]))
