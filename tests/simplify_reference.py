"""Reference implementation the batch Douglas–Peucker kernel
(``mvtspark/kernels/simplify.py::dp_mask_batch``) is cross-checked
against: textbook recursion over one part, integer-exact, ties to the
lowest index."""

from __future__ import annotations

import numpy as np


def dp_mask_naive(xs: np.ndarray, ys: np.ndarray, eps: int) -> np.ndarray:
    """Textbook recursive DP over ONE part — the independent cross-check
    twin for tests (the engine never calls this)."""
    xs = np.asarray(xs, dtype=np.int64)
    ys = np.asarray(ys, dtype=np.int64)
    n = len(xs)
    keep = np.zeros(n, dtype=bool)
    if n == 0:
        return keep
    keep[0] = keep[-1] = True
    eps2 = int(eps) * int(eps)

    def rec(a: int, b: int) -> None:
        if b - a < 2:
            return
        ax, ay, bx, by = int(xs[a]), int(ys[a]), int(xs[b]), int(ys[b])
        dx, dy = bx - ax, by - ay
        best, best_i = -1, -1
        for i in range(a + 1, b):
            cr = dx * (int(ys[i]) - ay) - dy * (int(xs[i]) - ax)
            c2 = cr * cr
            if c2 > best:
                best, best_i = c2, i
        if best > eps2 * (dx * dx + dy * dy):
            keep[best_i] = True
            rec(a, best_i)
            rec(best_i, b)

    rec(0, n - 1)
    return keep
