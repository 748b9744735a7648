"""Incremental A/B experiment monitor — the streaming twin of
`stats_two_proportion_z` (operators/stats.py).

The readout ("is treatment conversion different, and is it significant?")
must update as events stream in, but conversion is a PER-USER bit, not a
per-event count: a user who converts in micro-batch 7 must not be
re-counted when they appear again in batch 12.  So the mergeable state is
the (cohort, user_id, conv) bit relation and the merge is grouped MAX —
idempotent, which makes the store robust even to row duplication across
batches (a strictly weaker requirement than the count grids' disjointness
contract).  State is bounded by |users|, not |events| — the user
dimension is the right asymptote for an experiment readout, and the
served z/p is EXACTLY the batch statistic over every event ingested
(shared `two_proportion_from_bits` core).  Store protocol:
``store_compaction.py``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from ..operators.stats import conversion_bits, two_proportion_from_bits
from .store_compaction import MicroBatchStore, PartStore, max_merge

__all__ = ["ExperimentStreamMonitor"]

_GRID_SCHEMA = "cohort bigint, user_id bigint, conv bigint"


class ExperimentStreamMonitor(MicroBatchStore):
    """Accumulates per-user conversion bits per micro-batch and serves the
    exact two-proportion z readout over all events seen."""

    def __init__(self, spark: SparkSession, store_dir: str) -> None:
        self.parts = PartStore(
            spark, store_dir, _GRID_SCHEMA, max_merge(("cohort", "user_id"), ("conv",))
        )

    def batch_grid(self, events_df: DataFrame) -> DataFrame:
        """This batch's (cohort, user_id, conv) bit grid."""
        return conversion_bits(events_df)

    def serve_bits(self) -> DataFrame:
        """Merged per-user bits — identical to `conversion_bits` over all
        ingested events."""
        return self.parts.merged()

    def serve_readout(self) -> DataFrame:
        """(n0, n1, c0, c1, conv0, conv1, z, p_value) over everything
        ingested — bit-identical to `stats_two_proportion_z` on the same
        events (shared `two_proportion_from_bits` core)."""
        return two_proportion_from_bits(self.serve_bits())
