"""Measurement helpers shared by the bench tools in this directory
(``bench.py`` at the repo root keeps its own copies: its harness is
frozen)."""

from __future__ import annotations

import time
from typing import Callable, NamedTuple

# the 9 headline registry queries bench.py times
HEADLINE = [
    "kg_triples",
    "kg_canonical_edges",
    "rel_pricing_summary",
    "rel_region_revenue",
    "rel_events_sessionize",
    "sim_topk_cosine",
    "sim_lsh_topk",
    "dedup_exact",
    "dedup_minhash_lsh",
]


class Rep(NamedTuple):
    seconds: float
    # % of ONE core stolen by the hypervisor during the run: high when a
    # co-tenant VM holds the physical cores (the wall then measures the
    # host, not the job)
    steal_pct: float


def steal_ticks() -> int:
    """Cumulative hypervisor CPU steal (column 8 of /proc/stat, in
    USER_HZ ticks); 0 where unavailable."""
    try:
        with open("/proc/stat") as f:
            return int(f.readline().split()[8])
    except (OSError, IndexError, ValueError):
        return 0


def min_of(fn: Callable[[], object], n: int) -> tuple[Rep, list[Rep]]:
    """Run ``fn`` ``n`` times; returns the fastest rep and all reps."""
    reps = []
    for _ in range(n):
        s0 = steal_ticks()
        t0 = time.time()
        fn()
        dt = time.time() - t0
        reps.append(Rep(dt, (steal_ticks() - s0) / dt if dt > 0 else 0.0))
    return min(reps), reps
