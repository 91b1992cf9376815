"""Comparison helpers shared by the workloads' output checks."""

from __future__ import annotations

import math


def close(a, b, rel: float = 1e-9, abs_tol: float = 1e-9) -> bool:
    """Floats equal up to summation-order noise."""
    if a is None or b is None:
        return a is b
    return math.isclose(float(a), float(b), rel_tol=rel, abs_tol=abs_tol)


def same_ranking(got: list[tuple], exp: list[tuple], tol: float = 1e-9) -> bool:
    """Two ranked ``(id, score)`` lists agree: scores match position by
    position, and ids match as a set within each run of scores equal up
    to ``tol`` (the two engines sum floats in different orders, so a tie
    broken by id on one side may be a last-bit difference on the other)."""
    if len(got) != len(exp):
        return False
    if not all(close(g[1], e[1], abs_tol=tol) for g, e in zip(got, exp)):
        return False
    i, n = 0, len(exp)
    while i < n:
        j = i
        while j + 1 < n and abs(exp[j + 1][1] - exp[i][1]) <= tol:
            j += 1
        if {g[0] for g in got[i : j + 1]} != {e[0] for e in exp[i : j + 1]}:
            return False
        i = j + 1
    return True
