"""Session-lifetime memoization of shared artifacts: :class:`Memo`.

Operators share derived artifacts across queries through one memo type:
cached frames (one grams frame, one trained-classifier scored frame per
documents frame), local-checkpoint frames (the MMR pool and pairs),
and driver values (trained centroid rows, truth sets, BPE merges,
corpus counts).  Every entry is keyed by the identity of its key frame
plus ``parts``, the module constants its build reads, so a runtime
override of a shaping constant builds afresh instead of serving a value
built under the old one.

Eviction discipline (round-9 advisor finding): the earlier
``WeakKeyDictionary`` dropped its ENTRY when the key frame was
garbage-collected but left the persisted blocks pinned for the rest of
the session — many distinct input frames (test suites, multi-sf
sessions) accumulated storage pressure on a default-heap driver.  A
finalizer that unpersists on key COLLECTION is not the fix either: a
consumer's derived plan can outlive the key object (``pretrain_pipeline``
builds its grams over a transient gated frame and returns a plan that
still references the cached relation — unpersisting at key GC forced
the downstream plan to re-derive, doubling its scans).

:class:`Memo` therefore bounds storage the other way round: a small
fixed-capacity LRU whose RESIDENT keys are strongly referenced (an
entry can never vanish while it is current, so downstream plans keep
their ``InMemoryRelation``), and whose EVICTED values are released at
replacement time — a frame value is ``.cache()``d when stored and
unpersisted when evicted, so total persisted storage per memo is
≤ capacity copies, regardless of how many distinct input frames a
session touches.  Driver values hold no executor storage and release
nothing; a memo of local-checkpoint frames passes a ``release`` that
calls :func:`release_local_checkpoint` on them.
"""

from __future__ import annotations

import logging
import weakref
from collections import OrderedDict
from collections.abc import Callable
from typing import Any

from pyspark.sql import DataFrame

_log = logging.getLogger(__name__)

# release failures are logged ONCE per process (the release runs per CC
# round in a loop — a broken private surface would otherwise spam), but
# counted unconditionally so tests can assert the failure is visible
_release_failures = 0

# every live Memo: bench.py records per-query DELTAS of the summed
# hit/miss counters so a committed bench artifact shows which queries
# rode a warm shared artifact and which paid the build — the mechanism
# behind order-dependent suite timings (BENCHNOTES.md), now measured
# instead of inferred
_MEMOS: weakref.WeakSet[Memo] = weakref.WeakSet()


def memo_counters() -> tuple[int, int]:
    """(hits, misses) summed over every :class:`Memo` in the process."""
    memos = list(_MEMOS)
    return (sum(m.hits for m in memos), sum(m.misses for m in memos))


def release_local_checkpoint(df: DataFrame) -> None:
    """Free the executor blocks of a frame returned by
    ``localCheckpoint()`` — deterministic storage release for loop
    frames a later round has superseded, instead of waiting on driver
    GC (the iterative CC kernel's round ladder peaked one retained
    frame PER ROUND at the 100× decade probe, the margin that OOMed
    one r10 probe execution at the 8 GiB bench heap).

    The frame must NEVER be evaluated again: a local checkpoint
    replaces lineage with the stored blocks, so releasing them makes
    recompute impossible (Spark raises
    ``CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND``).  Only call on frames whose
    every consumer has already materialized.

    Internal-API note: the handle walks
    ``queryExecution().analyzed().rdd()`` — the ``LogicalRDD`` a
    checkpoint returns — because the public surface has no release
    verb for checkpoints (``DataFrame.unpersist`` only touches
    ``cache()`` relations).  Failure is swallowed for the CALLER (an
    unreleased frame is a GC-eventual leak, never a correctness
    problem) but never silent: a Spark upgrade that changes the
    analyzed-plan shape would otherwise turn the measured OOM fix back
    into a per-round leak with no signal anywhere (r10 advisor
    finding), so the first failure logs at debug and every failure
    bumps ``_release_failures`` — and
    ``tests/test_scale_utils.py::test_release_local_checkpoint_drops_blocks``
    pins against the JVM's actual storage status that the release
    still drops the checkpointed blocks on this Spark version.
    """
    global _release_failures
    try:
        df._jdf.queryExecution().analyzed().rdd().unpersist(False)
    except Exception:
        if _release_failures == 0:
            _log.debug(
                "release_local_checkpoint: private-surface walk failed; "
                "checkpoint blocks will only release at driver GC",
                exc_info=True,
            )
        _release_failures += 1


def _release_value(value: Any) -> None:
    # only a frame holds executor storage; blocking=False: eviction must
    # never stall the caller; a stopped session raises here, and its
    # blocks are already gone with the JVM
    if isinstance(value, DataFrame):
        try:
            value.unpersist(blocking=False)
        except Exception:
            pass


class Memo:
    """Capacity-bounded memo keyed by ``(id(key_frame), *parts)``.

    ``get(key, parts, build)`` returns the value stored for ``key`` and
    ``parts``, building it on first use; ``store(key, parts, value)``
    writes without reading (a producer query that always builds fresh
    shares its result with the consumers).  A frame value is
    ``.cache()``d when stored.  The least-recently-used entry is
    dropped when capacity is exceeded and its value released: by
    ``release`` when given, else a frame is unpersisted and a driver
    value releases nothing.  ``hits``/``misses`` count ``get`` calls.
    """

    def __init__(
        self, capacity: int, release: Callable[[Any], None] = _release_value
    ) -> None:
        self._capacity = capacity
        self._release = release
        # the stored key reference keeps the key frame alive while
        # resident, so its id cannot be reused by a different frame
        self._slots: OrderedDict[tuple, tuple[object, Any]] = OrderedDict()
        self.hits = 0
        self.misses = 0
        _MEMOS.add(self)

    def get(self, key: object, parts: tuple, build: Callable[[], Any]) -> Any:
        k = (id(key), *parts)
        if k in self._slots:
            self.hits += 1
            self._slots.move_to_end(k)
            return self._slots[k][1]
        self.misses += 1
        return self._put(k, key, build())

    def store(self, key: object, parts: tuple, value: Any) -> None:
        self._put((id(key), *parts), key, value)

    def _put(self, k: tuple, key: object, value: Any) -> Any:
        if isinstance(value, DataFrame):
            value = value.cache()
        self._slots[k] = (key, value)
        self._slots.move_to_end(k)
        while len(self._slots) > self._capacity:
            _, (_, evicted) = self._slots.popitem(last=False)
            self._release(evicted)
        return value

    def clear(self) -> None:
        while self._slots:
            _, (_, value) = self._slots.popitem(last=False)
            self._release(value)

    def __len__(self) -> int:
        return len(self._slots)
