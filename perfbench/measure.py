"""Small measurement helpers shared by the workloads."""

from __future__ import annotations

import math
import os


def percentile(values: list[float], q: float) -> float:
    """Nearest-rank percentile of ``values``."""
    s = sorted(values)
    return s[max(0, math.ceil(q * len(s)) - 1)]


def files_since(root: str, since_ns: int) -> tuple[int, int]:
    """(bytes, files) of every file under ``root`` modified at or after
    ``since_ns``; ``since_ns=0`` sizes the whole tree."""
    n_bytes = n_files = 0
    for dirpath, _, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(dirpath, f))
            if st.st_mtime_ns >= since_ns:
                n_bytes += st.st_size
                n_files += 1
    return n_bytes, n_files
