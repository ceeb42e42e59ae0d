"""The query-scoped state policy (``vsphere_event_streaming_spark.state``):
the trained-artifact memo is a bounded LRU whose degraded keys never
hit, and running every declared query leaves nothing cached behind."""

from __future__ import annotations

import gc
import time
from collections import OrderedDict

from vsphere_event_streaming_spark import state


def test_trained_memo_policy(tmp_path, monkeypatch):
    """Filling MEMO_CAP + 1 distinct keys evicts the least recently
    used one, a hit refreshes recency, and (ADVICE r8) a corpus key
    whose census raised OSError is a nonce-fresh sentinel — never a
    plausible partial key that could collide with another degraded
    state and serve a stale model."""
    monkeypatch.setattr(state, "_TRAINED", OrderedDict())
    built: list[int] = []

    def get(i):
        return state.trained("t", (i,), lambda: built.append(i) or i)

    for i in range(state.MEMO_CAP):
        assert get(i) == i
    assert get(0) == 0 and built == list(range(state.MEMO_CAP))  # hit
    get(state.MEMO_CAP)  # over the cap: evicts 1, not the refreshed 0
    assert len(state._TRAINED) == state.MEMO_CAP
    get(0)
    assert built[-1] == state.MEMO_CAP, "a hit did not refresh recency"
    get(1)
    assert built[-1] == 1, "the least recently used key was not evicted"

    missing = str(tmp_path / "nope")
    k1 = state.corpus_key(missing)
    k2 = state.corpus_key(missing)
    assert k1 != k2, "degraded keys must never be equal (memo-proof)"
    assert k1[2][0][0] == "__unreadable__"
    n = len(built)
    state.trained("t", k1, lambda: built.append("a"))
    state.trained("t", k2, lambda: built.append("b"))
    assert built[n:] == ["a", "b"]
    # a healthy census stays stable and table-disambiguated
    d = tmp_path / "sf"
    d.mkdir()
    (d / "embeddings.parquet").write_bytes(b"x")
    (d / "documents.parquet").write_bytes(b"x")
    ke = state.corpus_key(str(d))
    kd = state.corpus_key(str(d), table="documents.parquet")
    assert ke == state.corpus_key(str(d))
    assert ke != kd


def _settled_persistent_rdds(spark) -> int:
    """The persistent-RDD count once garbage collection has let
    Spark's ContextCleaner drop unreachable local checkpoints."""
    jsc = spark.sparkContext._jsc
    last = -1
    for _ in range(30):
        gc.collect()
        spark.sparkContext._jvm.System.gc()
        time.sleep(0.5)
        n = jsc.getPersistentRDDs().size()
        if n == last:
            return n
        last = n
    return last


def test_every_query_leaves_no_state_behind(spark, sf_dir):
    """Build and run every declared query, releasing the registered
    intermediates after each: no cached plan may outlive its query,
    and the trained-artifact memo stays within its cap."""
    from vsphere_event_streaming_spark.registry import load_all

    state.release_cached()
    spark.catalog.clearCache()  # earlier tests' own caches
    cache = spark._jsparkSession.sharedState().cacheManager()
    before = _settled_persistent_rdds(spark)
    leaked = []
    for name, qd in sorted(load_all().items()):
        qd.fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
        state.release_cached()
        if not cache.isEmpty():
            leaked.append(name)
            spark.catalog.clearCache()
    assert not leaked, f"queries left cached plans behind: {leaked}"
    assert _settled_persistent_rdds(spark) <= before
    assert len(state._TRAINED) <= state.MEMO_CAP
