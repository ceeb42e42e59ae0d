"""The storage contract of the incremental store tier: one owner for the
idempotent ``batch_id=`` layout that every store and index writes.

Every incremental store (the cell stores, the LSH/IVF/PQ/Matryoshka
indexes, the BPE vocabulary, the Gram store) subclasses
:class:`BatchStore` and keeps only its cell transform and its merge.
The layout decisions below live here and nowhere else; the streaming
half of the contract (epoch id → batch id, the checkpoint unit) is
``streaming/store_stream.py::start_store``.

**Layout.** A store is one directory. Each ingested batch is one
parquet partition directory ``<path>/batch_id=<token>``, optionally
partitioned further inside (``partitionBy``, e.g. ``centroid_id=``
for the IVF stores, so search prunes cells across every batch). The
merged read is one ``spark.read.parquet(<path>)`` over all batches,
with the store's schema when it has one; partition discovery adds
``batch_id`` back as a column. Files whose name starts with ``_``
(the identity markers) are invisible to the parquet reader.

**Token rule.** A batch id must be a filesystem-safe token
(``[A-Za-z0-9._-]{1,128}``); :func:`batch_partition_dir` rejects
anything else before any Spark job runs, so a hostile or garbled id
cannot escape the store's directory.

**Idempotent overwrite.** :meth:`BatchStore._write` materializes the
batch's cells (eager ``localCheckpoint``), counts them, and OVERWRITES
the batch's own partition. Replaying a batch under the same id (a
retried epoch, a crash between two writes) converges instead of
duplicating, and other batches' partitions are never touched. The two
LSH indexes compute their candidates/decisions against the history
BEFORE they write, so a retry never collides with its own half-written
partition; they overwrite their already-persisted rows directly.

**Emptiness.** A store is empty unless its directory holds a
``batch_id=`` partition: a missing path, an empty directory and a
marker-only crash remnant are all empty. Every merged read
(:meth:`BatchStore._merged`) raises the typed
``ValueError("<Class> has no ingested batches …")`` on an empty store,
before any Spark job, instead of a Spark ``AnalysisException``.

**Identity markers.** A store whose cells are additive only under one
fixed parameter (``BpeVocab``: the training alphabet; ``GramStore``:
the upper-triangle cell format) names a marker file (``MARKER_FILE``)
and sets the pinned value as its ``marker`` attribute (class-level, or
before ``BatchStore.__init__`` runs). The marker is validated on open,
before every write and on every merged read, and a mismatch raises
instead of merging garbage. It is written only AFTER the first successful
partition write, never before. A directory with partitions but no
marker (a crash between the partition write and the marker write, or a
store from an older format) is refused on open, write and read,
without stamping a fresh marker.

**Overlap.** The overwrite makes a store safe against the SAME batch
replayed, not against the same rows arriving under two DIFFERENT batch
ids: count-additive stores would count them twice and id-keyed stores
would hold two rows for one id (SCALE.md, store-family batch-overlap
contract). The upstream splitter owns disjointness;
:meth:`BatchStore._assert_disjoint` is the opt-in check that
semi-joins an incoming batch's ids against every prior partition and
raises on an overlap.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import DataFrame

_PREFIX = "batch_id="


def batch_partition_dir(root: str, batch_id: str) -> str:
    """``<root>/batch_id=<batch_id>``: the partition directory of one
    batch. Raises if ``batch_id`` is not a filesystem-safe token."""
    if not re.fullmatch(r"[A-Za-z0-9._-]{1,128}", batch_id):
        raise ValueError(
            f"batch_id must be a filesystem-safe token: {batch_id!r}"
        )
    return f"{root}/{_PREFIX}{batch_id}"


class BatchStore:
    """A directory of idempotent ``batch_id=`` partitions (the module
    docstring is the whole contract). Subclasses build each batch's
    cells, hand them to :meth:`_write`, and merge :meth:`_merged`."""

    #: Identity-marker filename, for stores that pin a marker value.
    MARKER_FILE: str | None = None
    #: What the marker pins, as named in the mismatch error.
    MARKER_WHAT = ""
    #: Why partitions without a marker are refused.
    MARKER_REMNANT = ""
    #: The pinned marker value; ``None`` means the store has no marker.
    marker: str | None = None

    def __init__(self, spark, path: str) -> None:
        self.spark = spark
        self.path = path
        self._check_marker(create=False)

    def _batches(self) -> list[str]:
        """Names of the ``batch_id=`` partitions present; empty means
        the store is empty."""
        if not os.path.isdir(self.path):
            return []
        return [e for e in os.listdir(self.path) if e.startswith(_PREFIX)]

    def _check_marker(self, create: bool) -> None:
        """Validate the store's identity marker against ``self.marker``;
        with ``create=True`` (right after a successful partition write),
        write it if absent. No-op for stores without a marker."""
        if self.marker is None:
            return
        name = type(self).__name__
        path = os.path.join(self.path, self.MARKER_FILE)
        if os.path.isfile(path):
            with open(path) as fh:
                stored = fh.read().strip()
            if stored != self.marker:
                raise ValueError(
                    f"{name} {self.path!r} holds {self.MARKER_WHAT}"
                    f" {stored!r}; this handle uses {self.marker!r} —"
                    " refusing to merge cells of a different"
                    f" {self.MARKER_WHAT}"
                )
        elif create:
            # the partitions present were just written under self.marker
            os.makedirs(self.path, exist_ok=True)
            with open(path, "w") as fh:
                fh.write(self.marker)
        elif self._batches():
            # without this refusal a handle pinned to a DIFFERENT value
            # would validate nothing, and its next write would stamp
            # its own marker over cells built under another one
            raise ValueError(
                f"{name} {self.path!r} has batch partitions but no"
                f" {self.MARKER_FILE} marker — {self.MARKER_REMNANT};"
                " refusing to open. Re-ingest the batches with this"
                " engine."
            )

    def _write(
        self,
        cells: DataFrame,
        batch_id: str,
        partition_by: str | None = None,
    ) -> int:
        """Materialize ``cells`` and overwrite the batch's partition
        with them. Returns the rows written."""
        part = batch_partition_dir(self.path, batch_id)
        self._check_marker(create=False)
        cells = cells.localCheckpoint(eager=True)
        n = cells.count()
        self._overwrite(cells, part, partition_by)
        return n

    def _overwrite(
        self, frame: DataFrame, part: str, partition_by: str | None = None
    ) -> None:
        """Overwrite partition directory ``part`` with ``frame``, then
        stamp the identity marker if the store has none yet."""
        writer = frame.write.mode("overwrite")
        if partition_by is not None:
            writer = writer.partitionBy(partition_by)
        writer.parquet(part)
        self._check_marker(create=True)

    def _merged(self, schema: str | None = None) -> DataFrame:
        """Every ingested batch as one frame; raises the typed error on
        an empty store."""
        if not self._batches():
            raise ValueError(
                f"{type(self).__name__} has no ingested batches:"
                f" {self.path!r} — call add_batch() first"
            )
        self._check_marker(create=False)
        reader = self.spark.read
        if schema is not None:
            reader = reader.schema(schema)
        return reader.parquet(self.path)

    def _assert_disjoint(
        self, ids: DataFrame, batch_id: str, key: str
    ) -> None:
        """Raise if a ``key`` of ``ids`` is already stored under a batch
        id other than ``batch_id`` (a replay of ``batch_id`` itself is
        the idempotent path, not an overlap). Scans the history, so it
        runs only when the caller asks for it."""
        own = os.path.basename(batch_partition_dir(self.path, batch_id))
        prior = [e for e in self._batches() if e != own]
        if not prior:
            return
        history = (
            self.spark.read.option("basePath", self.path)
            .parquet(*[f"{self.path}/{e}" for e in prior])
            .select(key)
        )
        dupes = ids.join(history, key, "left_semi").limit(5).collect()
        if dupes:
            raise ValueError(
                f"{type(self).__name__} batch {batch_id!r} overlaps prior"
                f" batches on {key} (sample: {[r[key] for r in dupes]})"
                " — id-keyed stores require doc-disjoint batches"
                " (SCALE.md store-family contract)"
            )
