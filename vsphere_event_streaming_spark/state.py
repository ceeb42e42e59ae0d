"""Query-scoped state: the one owner of what a query build leaves
behind in the process — persisted intermediates and trained models.

**Persist registry.** Corpus-sized intermediates that feed several
consumers (shingle arrays, minhash signatures, signature projections,
shared tokenizations) are persisted on purpose: higher-order-function
chains run interpreted and must not be re-evaluated per consumer.
Every such persist goes through :func:`persist`, which registers the
frame; :func:`release_cached` unpersists every registered frame, and
:func:`scoped` unpersists only the frames registered inside its
``with`` block. Release contract: a caller releases after the
consuming action (collect, write) — never before, or the action
recomputes the plan — and without touching tables the application
cached itself (``spark.catalog.clearCache()`` would). The registry
holds strong references on purpose: the persisted frames are locals
of the operator functions, so anything weaker is collected the moment
they return while the executor-side cache lives on. Persists whose
lifetime is one function (``try``/``finally`` + ``unpersist``) stay
local to that function.

**Corpus fingerprint.** :func:`corpus_key` keys a trained model by
its corpus: ``sf_dir``, the table name, and the table's file census
(name, mtime_ns, size of every part file), so a corpus rewritten in
place under the same path trains fresh instead of serving a stale
model. An ``OSError`` anywhere in the census yields a degraded
SENTINEL key carrying a fresh nonce, never a partial census: a census
truncated at an arbitrary stat could collide with another degraded
state, so degraded keys never hit the memo and the subsequent read
raises the real error with context.

**Trained-artifact memo.** :func:`trained` gives the model tier its
train-once/apply-many shape: ``build`` runs on a miss, at DataFrame
build time, and its result (plain Python numbers, an index path) is
served to every later query over the same corpus fingerprint. The
memo is ONE least-recently-used map of at most :data:`MEMO_CAP`
entries across all kinds. Every declared query over one corpus fills
eleven entries (ten kinds, BPE under two alphabets), so the cap keeps
every model of five corpora warm, while a stream of new fingerprints
(fuzz corpora, in-place rewrites) evicts the oldest instead of growing
for the life of the process. An evicted model is retrained on its
next use, with the same result — eviction costs time, never
correctness. :data:`BUILDS` counts the builds (memo misses) per kind.
"""

from __future__ import annotations

import itertools
import os
import threading
from collections import Counter, OrderedDict
from contextlib import contextmanager
from typing import Callable, Iterator, TypeVar

from pyspark.sql import DataFrame

T = TypeVar("T")

#: Most trained artifacts the memo holds, across all kinds.
MEMO_CAP = 64

_LOCK = threading.Lock()
_CACHED: list[DataFrame] = []
_TRAINED: OrderedDict[tuple, object] = OrderedDict()
_CORPUS_KEY_NONCE = itertools.count()

#: Builds (memo misses) per kind since the process started.
BUILDS: Counter[str] = Counter()


def persist(df: DataFrame) -> DataFrame:
    """``df.persist()``, registered for :func:`release_cached`."""
    df = df.persist()
    with _LOCK:
        _CACHED.append(df)
    return df


def release_cached() -> int:
    """Unpersist every registered frame; returns the number released."""
    with _LOCK:
        frames = _CACHED[:]
        _CACHED.clear()
    for df in frames:
        df.unpersist()
    return len(frames)


@contextmanager
def scoped() -> Iterator[None]:
    """Unpersist, on exit, exactly the frames registered inside the
    block — for a caller that is the last consumer of its own
    intermediates while other registered frames must stay cached."""
    with _LOCK:
        mark = len(_CACHED)
    try:
        yield
    finally:
        with _LOCK:
            frames = _CACHED[mark:]
            del _CACHED[mark:]
        for df in frames:
            df.unpersist()


def corpus_key(sf_dir: str, table: str = "embeddings.parquet") -> tuple:
    """Fingerprint of ``sf_dir``'s ``table`` (a parquet file or a
    directory of part files): O(#files) stat calls."""
    path = os.path.join(sf_dir, table)
    entries: list[tuple] = []
    try:
        if os.path.isdir(path):
            for name in sorted(os.listdir(path)):
                st = os.stat(os.path.join(path, name))
                entries.append((name, st.st_mtime_ns, st.st_size))
        else:
            st = os.stat(path)
            entries.append(("", st.st_mtime_ns, st.st_size))
    except OSError:
        entries = [("__unreadable__", next(_CORPUS_KEY_NONCE))]
    return (sf_dir, table, tuple(entries))


def trained(kind: str, key: tuple, build: Callable[[], T]) -> T:
    """The memoized ``kind`` artifact for ``key``, built on a miss."""
    k = (kind, key)
    with _LOCK:
        if k in _TRAINED:
            _TRAINED.move_to_end(k)
            return _TRAINED[k]
    value = build()
    with _LOCK:
        _TRAINED[k] = value
        _TRAINED.move_to_end(k)
        while len(_TRAINED) > MEMO_CAP:
            _TRAINED.popitem(last=False)
        BUILDS[kind] += 1
    return value
