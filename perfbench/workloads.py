"""The benchmark's workloads: fixed registry key sets over the sf0.1 tables.

The input tables are the read-only seed-42 testdata, so a workload seed can
only choose the order in which a pass runs its keys. README.md records why
each workload exists and which layers it stresses.
"""

from __future__ import annotations

import random
from pathlib import Path

WORKLOADS: dict[str, tuple[str, ...]] = {
    # The six keys the driver grades against BASELINE.md. Each is sub-second
    # to a few seconds, so per-query fixed costs dominate: planning, job
    # launch, scan, codegen, and the final collect.
    "headline": (
        "agg_pricing_summary",
        "join_multiway_star",
        "win_topn_per_group",
        "stream_tumbling",
        "agg_count_distinct",
        "sim_topk_cosine",
    ),
    # One key that chains the candidate family into a driver-side loop:
    # MinHash signatures -> bands -> candidate equi-join -> exact re-rank
    # (shuffle and per-row executor CPU dominate), then min-label propagation
    # that checkpoints and tests convergence on the driver every round
    # (builder time and job count dominate).
    "candidates_iterative": ("dedup_connected_components",),
}


def data_dir() -> str:
    """The driver's sf0.1 tables, beside the smoke-test scale that the driver
    contract (``__spark_entry__.py``) names."""
    from __spark_entry__ import SMOKE_SF_DIR

    return str(Path(SMOKE_SF_DIR).with_name("sf0.1"))


def pass_order(keys: tuple[str, ...], seed: int, pass_index: int) -> list[str]:
    """The order one pass runs ``keys`` in: a permutation fixed by the seed."""
    order = list(keys)
    random.Random(f"{seed}/{pass_index}").shuffle(order)
    return order
