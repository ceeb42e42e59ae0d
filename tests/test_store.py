"""The store contract shared by every incremental store (``store.py``):
an empty store — a missing path or an empty directory — raises the
one typed error from its merged read, before any Spark job runs; and
the identity marker is a class setting, not a constructor argument."""

from __future__ import annotations

import inspect
import os

import pytest

from vsphere_event_streaming_spark.functions.bpe import BpeVocab
from vsphere_event_streaming_spark.functions.classifier import (
    AucCellStore,
    GramStore,
)
from vsphere_event_streaming_spark.functions.dedup import (
    ExactDedupStore,
    GroupStore,
    ShingleDfStore,
)
from vsphere_event_streaming_spark.functions.sketches import (
    ActivityStore,
    BloomStore,
    CmsStore,
    HllStore,
    QuantileCellStore,
    RateCellStore,
)
from vsphere_event_streaming_spark.functions.text import TermStatsStore
from vsphere_event_streaming_spark.functions.vectors import (
    IvfIndex,
    IvfPqStore,
    MrlStore,
)


def _centroids(spark):
    return spark.createDataFrame(
        [(0, [1.0, 0.0]), (1, [0.0, 1.0])],
        "centroid_id int, cvec array<double>",
    )


def _query(spark):
    return spark.createDataFrame([([1.0, 0.0],)], "q array<double>")


#: (store, merged read) for every store with a merged read.
READS = {
    "ShingleDfStore.df_table": lambda s, p: ShingleDfStore(s, p).df_table(),
    "ExactDedupStore.keepers": lambda s, p: ExactDedupStore(s, p).keepers(),
    "GroupStore.labels": lambda s, p: GroupStore(s, p).labels(),
    "QuantileCellStore.cells": lambda s, p: QuantileCellStore(s, p).cells(),
    "RateCellStore.cells": lambda s, p: RateCellStore(s, p).cells(),
    "CmsStore.cells": lambda s, p: CmsStore(s, p, key_col="k").cells(),
    "ActivityStore.days": lambda s, p: ActivityStore(s, p).days(),
    "BloomStore.bits": lambda s, p: BloomStore(s, p).bits(),
    "HllStore.cells": lambda s, p: HllStore(s, p, key_col="k").cells(),
    "IvfIndex.search": lambda s, p: IvfIndex(s, p, _centroids(s)).search(
        _query(s)
    ),
    "IvfPqStore.search": lambda s, p: IvfPqStore(
        s, p, _centroids(s), [[[1.0], [0.0]], [[1.0], [0.0]]], 2
    ).search(_query(s)),
    "MrlStore.search": lambda s, p: MrlStore(s, p, 1).search(_query(s)),
    "GramStore.gram": lambda s, p: GramStore(s, p).gram(),
    "AucCellStore.cells": lambda s, p: AucCellStore(s, p).cells(),
    "TermStatsStore.df_table": lambda s, p: TermStatsStore(s, p).df_table(),
    "BpeVocab.vocab": lambda s, p: BpeVocab(s, p).vocab(),
}


@pytest.mark.parametrize("empty_dir", [False, True], ids=["missing", "empty"])
@pytest.mark.parametrize("read", sorted(READS))
def test_empty_store_read_raises_typed_error_before_any_job(
    spark, tmp_path, read, empty_dir
):
    path = str(tmp_path / "store")
    if empty_dir:
        os.makedirs(path)
    sc = spark.sparkContext
    group = f"empty-store-{read}-{empty_dir}"
    sc.setJobGroup(group, group)
    try:
        with pytest.raises(ValueError, match="no ingested batches"):
            READS[read](spark, path)
        assert sc.statusTracker().getJobIdsForGroup(group) == []
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)



@pytest.mark.parametrize(
    "cls, params",
    [
        (ShingleDfStore, ["spark", "path"]),
        (ExactDedupStore, ["spark", "path"]),
        (GroupStore, ["spark", "path"]),
        (TermStatsStore, ["spark", "path"]),
        (GramStore, ["spark", "path"]),
        (BpeVocab, ["spark", "path", "word_re"]),
    ],
    ids=lambda v: v.__name__ if isinstance(v, type) else "",
)
def test_marker_is_not_a_constructor_argument(cls, params):
    assert list(inspect.signature(cls).parameters) == params
