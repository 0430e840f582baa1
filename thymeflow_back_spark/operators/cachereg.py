"""Session-scoped registry for operator-built artifacts, with two lifetimes.

**Per-query pins.** Several operators persist load-bearing intermediates
(the distributed prefix sum's range-shuffled relation, Misra-Gries
summaries, triangle orientation tables, the curation-funnel stages):
each intermediate feeds two or more consumers, and without pinning Spark
re-derives the whole upstream subtree per consumer — or, for the prefix
sum, re-draws RangePartitioner boundaries and breaks correctness
outright. The returned DataFrames are lazy, so a caller could never
unpersist a bare ``.persist()``; a long-lived session would accumulate
CacheManager entries forever.

- ``pin(df)``    — persist + register; used by operators instead of a
  bare ``.persist()``.
- ``release_pinned()`` — unpersist everything registered. Harnesses
  call it BETWEEN queries (tools/check.py and bench.py do), after the
  previous query's results are fully materialized.

Contract: release only after every result derived from the pinned
relations has been collected. Unpersisting earlier is safe for queries
re-built from scratch, but re-COLLECTING a previously returned lazy
DataFrame after release would re-derive multi-consumer subtrees
independently — for the prefix sum that re-introduces the
nondeterministic-boundary hazard the persist exists to prevent.

**Opt-in memo.** Some artifacts are build-once: a corpus's shingle sets,
PQ codebooks and code table, a trained BPE merge list. A harness running
several queries over one corpus (bench.py) should not rebuild them per
query. ``memo(kind, df, params, build)`` stores ``build()``'s result
across queries; ``set_memo(enabled)`` is its one switch, OFF by default —
whether corpus-sized state is worth keeping is a per-run capacity
decision. Off, ``memo`` is ``build()`` and touches no JVM state.

- Key: ``(kind, df.semanticHash(), str(df.schema), params)``. The hash is
  32 bits, so a hit must also pass ``sameSemantics`` against the stored
  input frame; otherwise the value is rebuilt and the entry replaced.
  Plan canonicalization erases alias names, so two corpora that differ
  only by a column rename are ``sameSemantics`` — the schema string in
  the key tells them apart.
- DataFrame values are persisted when stored; driver-side values are
  stored as they are. ``release_pinned()`` leaves them alone;
  ``set_memo(False)`` unpersists them and drops the table.
- ``memo_stats()`` reports hits and misses per kind since the memo was
  enabled.
"""

from __future__ import annotations

import threading
from collections import Counter
from collections.abc import Callable, Hashable
from typing import Any

from pyspark.sql import DataFrame

_PINNED: list[DataFrame] = []
# key -> (input frame the value was built from, value); None = memo off
_MEMO: dict[tuple, tuple[DataFrame, Any]] | None = None
_HITS: Counter[str] = Counter()
_MISSES: Counter[str] = Counter()
_MEMO_LOCK = threading.RLock()  # re-entrant: a build may call memo


def pin(df: DataFrame) -> DataFrame:
    """Persist ``df`` and register it for ``release_pinned``."""
    out = df.persist()
    _PINNED.append(out)
    return out


def release_pinned() -> int:
    """Unpersist every registered relation; returns how many were freed."""
    n = len(_PINNED)
    for df in _PINNED:
        _unpersist(df)
    _PINNED.clear()
    return n


def pinned_count() -> int:
    return len(_PINNED)


def _unpersist(value: Any) -> None:
    if isinstance(value, DataFrame):
        try:
            value.unpersist()
        except Exception:
            pass  # session already stopped — nothing to free


def set_memo(enabled: bool) -> None:
    """Turn the cross-query memo on or off; off frees every stored value."""
    global _MEMO
    with _MEMO_LOCK:
        if enabled:
            if _MEMO is None:
                _MEMO = {}
        elif _MEMO is not None:
            for _, value in _MEMO.values():
                _unpersist(value)
            _MEMO = None
            _HITS.clear()
            _MISSES.clear()


def memo(kind: str, df: DataFrame, params: Hashable, build: Callable[[], Any]) -> Any:
    """``build()``, reused across calls for the same ``kind``, input plan
    and ``params`` while the memo is on (see the module docstring)."""
    if _MEMO is None:
        return build()
    # held across build(): while on, concurrent callers of one key build
    # it once (the memo is a harness setting, so builds rarely overlap)
    with _MEMO_LOCK:
        if _MEMO is None:  # disabled since the check above
            return build()
        key = (kind, df.semanticHash(), str(df.schema), params)
        entry = _MEMO.get(key)
        if entry is not None and entry[0].sameSemantics(df):
            _HITS[kind] += 1
            return entry[1]
        _MISSES[kind] += 1
        value = build()
        if isinstance(value, DataFrame):
            value = value.persist()
        if entry is not None:
            _unpersist(entry[1])
        _MEMO[key] = (df, value)
        return value


def memo_stats() -> dict[str, tuple[int, int]]:
    """``{kind: (hits, misses)}`` since the memo was last enabled."""
    with _MEMO_LOCK:
        return {k: (_HITS[k], _MISSES[k]) for k in sorted(_HITS.keys() | _MISSES.keys())}
