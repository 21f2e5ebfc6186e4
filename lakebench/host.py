"""Host-side measurements that need no Spark: CPU calibration, peak
resident memory and on-disk sizes."""

from __future__ import annotations

import os
import time

import numpy as np


def host_calibration(runs: int = 3) -> float:
    """Fixed single-process CPU and memory microbenchmark: row sorts and
    elementwise passes over a 1000x1000 float64 array plus a 500k-step
    pure-Python integer-hash loop. Returns the fastest of `runs` timed
    passes after one untimed pass, so a slower host reads higher."""

    def one() -> float:
        t0 = time.perf_counter()
        a = np.random.default_rng(0).random((1000, 1000))
        for _ in range(3):
            a = np.sort(a, axis=1)
            a = (a * 1.0000001 + 0.1) % 1.0
        float(a.sum())
        h = 0
        for i in range(500_000):
            h = (h * 1103515245 + 12345 + i) & 0xFFFFFFFF
        return time.perf_counter() - t0

    one()
    return min(one() for _ in range(runs))


def peak_rss_mb(pid: int | str = "self") -> float:
    """VmHWM of a process from /proc, in MiB (0 when unavailable)."""
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def file_sizes(root: str) -> dict[str, tuple[int, int]]:
    """path -> (size, mtime_ns) of every file under root."""
    out: dict[str, tuple[int, int]] = {}
    for dirpath, _, names in os.walk(root):
        for n in names:
            p = os.path.join(dirpath, n)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[p] = (st.st_size, st.st_mtime_ns)
    return out


def written_since(before: dict[str, tuple[int, int]], root: str) -> tuple[int, int]:
    """(bytes, files) new or rewritten under root since `before`."""
    nbytes = nfiles = 0
    for p, sig in file_sizes(root).items():
        if before.get(p) != sig:
            nbytes += sig[0]
            nfiles += 1
    return nbytes, nfiles


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in file_sizes(root).values())
