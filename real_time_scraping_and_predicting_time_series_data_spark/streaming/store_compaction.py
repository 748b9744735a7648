"""The micro-batch store protocol shared by every ``foreachBatch`` store
under ``streaming/`` — the one place that names, publishes, guards, folds
and reads store parts.

**Layout.** A store directory holds one part per micro-batch,
``batch_id=<id>``, plus at most one fold, ``compacted_upto=<id>``, which
holds every batch at or below ``<id>``. The live parts are the newest fold
and the batch parts above it; every read sees exactly those. Stores with
several relations (postings beside a df grid, say) keep one store
directory per relation, each with its own parts.

**Publish (the rename-aside swap).** A part is written by one task to a
``_staging_`` directory and renamed into place.
If the part already exists (an at-least-once replay of a batch that is
not folded yet), the old part is first renamed aside, the new one renamed
in, and only then the aside removed — so a replay overwrites its own
earlier attempt instead of double-counting, and no crash ever deletes a
successful publish before its replacement is in place. A crash between
the two renames leaves final absent and the aside present; the next
publish of the same part (the replay) restores the aside first.

**Replay guard.** After a fold, a late replay of a batch at or below the
fold is dropped at publish: its rows are inside the fold already, and a
fresh ``batch_id=<id>`` part would count them twice.

**Fold.** ``compact()`` reads the live parts, applies the store's merge
law (grouped sum for count grids, grouped max for idempotent bits, plain
union for append-only ledgers, or a store's own law), publishes the
result as ``compacted_upto=<max live id>`` through the same swap, and
then sweeps every other part and any staging debris. The merge law is the
one the store's serves apply, so each serve is the same relation before
and after the fold and the directory count stays bounded for a
long-lived stream. A fold with no live batch only sweeps debris.

**Crash windows.** The new fold is renamed in before the folded batch
parts are removed. A crash in between leaves batch parts at or below the
fold, which reads already ignore and the next fold sweeps; two folds can
coexist for the same reason, and reads take the newer one.

**Deployment assumption.** The renames are local ``os.rename`` calls in
the process that runs ``foreachBatch``, correct when the store directory
is a filesystem every Spark process shares (local mode, NFS). On HDFS/S3 the renames would have to
go through the Hadoop ``FileSystem`` API or an atomic-commit table format
(Delta/Iceberg). The merge laws themselves are storage-agnostic.
"""

from __future__ import annotations

import functools
import os
import re
import shutil
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import start_stream

__all__ = ["MicroBatchStore", "PartStore", "max_merge", "publish_dir", "sum_merge"]

_BATCH_RE = re.compile(r"^batch_id=(\d+)$")
_COMPACT_RE = re.compile(r"^compacted_upto=(\d+)$")

Merge = Callable[[DataFrame], DataFrame]


def sum_merge(keys: Sequence[str], cols: Sequence[str]) -> Merge:
    """Count-grid merge law: grouped BIGINT sum — associative and
    commutative, exact over batches that partition the stream."""
    return lambda df: df.groupBy(*keys).agg(
        *[F.sum(c).cast("long").alias(c) for c in cols]
    )


def max_merge(keys: Sequence[str], cols: Sequence[str]) -> Merge:
    """Bit/watermark merge law: grouped BIGINT max — also idempotent, so
    it tolerates rows duplicated across parts."""
    return lambda df: df.groupBy(*keys).agg(
        *[F.max(c).cast("long").alias(c) for c in cols]
    )


def publish_dir(
    df: DataFrame, store_dir: str, dirname: str, partition_by: Sequence[str] = ()
) -> None:
    """Write ``df`` (coalesced to one task) as ``store_dir/dirname`` by the
    rename-aside swap described in the module docstring."""
    final = os.path.join(store_dir, dirname)
    staging = os.path.join(store_dir, f"_staging_{dirname.replace('=', '_')}")
    aside = staging + ".prev"
    if os.path.isdir(aside) and not os.path.exists(final):
        os.rename(aside, final)  # self-heal a crash between the renames
    writer = df.coalesce(1).write.mode("overwrite")
    (writer.partitionBy(*partition_by) if partition_by else writer).parquet(staging)
    shutil.rmtree(aside, ignore_errors=True)
    if os.path.exists(final):
        os.rename(final, aside)
    os.rename(staging, final)
    shutil.rmtree(aside, ignore_errors=True)


class PartStore:
    """One store directory: its parts, its read schema and its merge law.

    ``schema`` types every read and the empty relation served before the
    first publish; ``None`` (the ledger stores, which carry their input
    columns through) reads the parts' own schema and gives ``None`` while
    nothing is published. ``merge`` is the law that folds parts (``None``:
    plain union). ``partition_by`` keeps parts and fold hive-partitioned
    on those columns."""

    def __init__(
        self,
        spark: SparkSession,
        root: str,
        schema: str | None = None,
        merge: Merge | None = None,
        partition_by: Sequence[str] = (),
    ) -> None:
        self.spark = spark
        self.root = root
        self.schema = schema
        self.merge = merge or (lambda df: df)
        self.partition_by = tuple(partition_by)
        os.makedirs(root, exist_ok=True)

    def _ids(self, pattern: re.Pattern) -> list[int]:
        return sorted(
            int(m.group(1)) for m in map(pattern.match, os.listdir(self.root)) if m
        )

    def compacted_upto(self) -> int:
        """Highest batch id inside a fold; -1 before the first fold."""
        return max(self._ids(_COMPACT_RE), default=-1)

    def is_compacted(self, batch_id: int) -> bool:
        """True when ``batch_id``'s rows are inside the fold already."""
        return batch_id <= self.compacted_upto()

    def live_parts(self, exclude_batch_id: int | None = None) -> list[str]:
        """The newest fold plus the batch parts above it; a ledger probe
        passes its own ``batch_id`` so a replay does not see its first
        attempt."""
        upto = self.compacted_upto()
        names = [f"compacted_upto={upto}"] if upto >= 0 else []
        names += [
            f"batch_id={i}"
            for i in self._ids(_BATCH_RE)
            if i > upto and i != exclude_batch_id
        ]
        return [os.path.join(self.root, n) for n in names]

    def publish(self, df: DataFrame, batch_id: int) -> None:
        """Publish ``df`` as this batch's part; a replay of a folded batch
        is dropped."""
        if self.is_compacted(batch_id):
            return
        publish_dir(df, self.root, f"batch_id={batch_id}", self.partition_by)

    def _reader(self):
        r = self.spark.read
        return r if self.schema is None else r.schema(self.schema)

    def read(self, exclude_batch_id: int | None = None) -> DataFrame | None:
        """The union of the live parts, not merged."""
        parts = self.live_parts(exclude_batch_id)
        if not parts:
            return None if self.schema is None else self.spark.createDataFrame([], self.schema)
        if not self.partition_by:
            return self._reader().parquet(*parts)
        # a partitioned part is its own table root: read each, then union
        return functools.reduce(
            DataFrame.unionByName,
            [self._reader().option("basePath", p).parquet(p) for p in parts],
        )

    def merged(self) -> DataFrame | None:
        """The live parts under the merge law."""
        df = self.read()
        return df if df is None else self.merge(df)

    def compact(self) -> dict:
        """Fold the live parts into ``compacted_upto=<max live id>`` and
        sweep everything else."""
        upto = self.compacted_upto()
        live = [i for i in self._ids(_BATCH_RE) if i > upto]
        dirs_before = len(os.listdir(self.root))
        if live:
            merged = self.merged()
            upto = live[-1]
            publish_dir(merged, self.root, f"compacted_upto={upto}", self.partition_by)
        keep = f"compacted_upto={upto}"
        for name in os.listdir(self.root):
            stale = _BATCH_RE.match(name) or _COMPACT_RE.match(name) or name.startswith("_staging_")
            if stale and name != keep:
                shutil.rmtree(os.path.join(self.root, name), ignore_errors=True)
        return {
            "folded_batches": len(live),
            "upto": upto,
            "dirs_before": dirs_before,
            "dirs_after": len(os.listdir(self.root)),
        }


class MicroBatchStore:
    """Base of the ``foreachBatch`` stores. A store sets ``self.parts`` —
    one ``PartStore``, or a dict of them for a store with several
    relations — and either defines ``batch_grid`` (the relation one batch
    publishes) or overrides ``ingest_batch``."""

    parts: PartStore | dict[str, PartStore]

    def batch_grid(self, batch_df: DataFrame) -> DataFrame:
        raise NotImplementedError

    def ingest_batch(self, batch_df: DataFrame, batch_id: int) -> None:
        """foreachBatch hook: publish this batch's relation."""
        self.parts.publish(self.batch_grid(batch_df), batch_id)

    def attach(self, stream_df: DataFrame, checkpoint: str):
        """Wire a streaming DataFrame into the store and start the query
        (``availableNow``)."""
        return start_stream(
            stream_df.writeStream.foreachBatch(self.ingest_batch)
            .option("checkpointLocation", checkpoint)
            .trigger(availableNow=True)
        )

    def compact(self) -> dict:
        """Fold every part store (see the module docstring); a store with
        several relations reports one fold per relation."""
        if isinstance(self.parts, dict):
            return {name: p.compact() for name, p in self.parts.items()}
        return self.parts.compact()
