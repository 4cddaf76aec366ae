"""Pure arithmetic of the benchmark: tail percentile, span self time and
failure counting. No Spark, so it is unit-tested on its own
(``python3 -m pytest perfbench``)."""

from __future__ import annotations

TAIL_BEYOND = 10


def tail(samples: list[float], beyond: int = TAIL_BEYOND):
    """The highest percentile of ``samples`` that still has at least
    ``beyond`` samples above it: with n samples sorted ascending, the
    k-th smallest (k = n - beyond) has exactly ``beyond`` samples
    beyond it. Returns (value, percentile, n), or (None, None, n) when
    fewer than ``beyond + 1`` samples exist."""
    n = len(samples)
    k = n - beyond
    if k < 1:
        return None, None, n
    return sorted(samples)[k - 1], 100.0 * k / n, n


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its
    interval that its children cover (children may overlap each other;
    the covered length is the length of their union, clipped to the
    parent)."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s["parent"] is not None:
            kids.setdefault(s["parent"], []).append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered = 0.0
        cur_lo = cur_hi = None
        for lo, hi in sorted(kids.get(s["id"], [])):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def count_failures(ops: list[dict], wrong: set[str]) -> tuple[int, int]:
    """(attempted, failed) over timed ops. An op fails if it raised or
    timed out (``ok`` false), or if the correctness check found its
    query's result wrong (its name is in ``wrong``): every timed run of
    a wrong query counts as failed."""
    failed = sum(1 for o in ops if not o["ok"] or o["name"] in wrong)
    return len(ops), failed

