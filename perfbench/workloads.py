"""The benchmark's workloads: which operations each one runs, on which data.

The input tables are fixed (see ``datagen.py``); what the workload seed
picks is the reactive block boundaries. bench13 runs the same keys in
the same order for every seed.
"""

from __future__ import annotations

import random
from dataclasses import dataclass

# The 13 keys bench.py times (its BENCH_KEYS values), listed here rather
# than imported because importing bench.py switches on its fixture cache.
BENCH13 = [
    "agg_groupby_multi",
    "join_multiway_star",
    "sort_multikey",
    "win_row_number_topk",
    "win_running_frame",
    "agg_count_distinct",
    "stream_session",
    "agg_rollup",
    "join_anti",
    "str_regexp",
    "similarity_topk",
    "dedup_near_minhash",
    "agg_conditional_pivot",
]


# Blocks fed per reactive pass.
REACTIVE_BLOCKS = 6


@dataclass(frozen=True)
class Workload:
    name: str
    sf: str  # data directory name, e.g. "sf0.1"
    kind: str  # "queries" or "reactive"
    # operation latencies are summarised over the ops of this many warm
    # passes: more than ten samples beyond the tail percentile, and one
    # sample count in every run so the percentile never moves
    warm_passes: int
    keys: tuple[str, ...] = ()


def block_bounds(n_rows: int, n_blocks: int, seed: int, jitter: float = 0.25) -> list[tuple[int, int]]:
    """Split ``range(n_rows)`` into ``n_blocks`` contiguous half-open
    ranges. Each inner cut point moves from its equal-split position by
    a seeded amount of up to ``jitter`` of a block, so blocks differ in
    size from seed to seed without any block becoming empty."""
    if n_rows < 2 * n_blocks:
        raise ValueError(f"{n_rows} rows are too few for {n_blocks} blocks")
    rng = random.Random(seed)
    step = n_rows / n_blocks
    cuts = [round(step * (i + rng.uniform(-jitter, jitter))) for i in range(1, n_blocks)]
    edges = [0] + cuts + [n_rows]
    return list(zip(edges[:-1], edges[1:]))


def resolve(name: str) -> Workload:
    if name == "bench13_sf0.1":
        return Workload(name, "sf0.1", "queries", 2, tuple(BENCH13))
    if name == "reactive_ingest_sf0.1":
        return Workload(name, "sf0.1", "reactive", 3)
    raise KeyError(f"unknown workload {name!r}")


WORKLOADS = ("reactive_ingest_sf0.1", "bench13_sf0.1")
