"""Continuously-maintained snapshot: a CDC changelog stream folded into
a parquet table (the incremental materialized view / Delta-`MERGE INTO`
loop, and the streaming face of ``operators.relational.cdc_apply``).

Layout: ``root/version=<batch_id>/`` parquet per applied batch, plus a
``_CURRENT`` pointer file whose CONTENT names the committed version.
The pointer is written tmp-then-rename — the single atomic commit
point (the ``streaming/eos.py`` sinks commit the same way):

- crash mid-write → ``_CURRENT`` still names the old version; readers
  never see a torn table; the replayed batch overwrites the orphan dir.
- crash post-rename → the replayed batch sees ``_CURRENT`` already at
  (or past) its batch id and SKIPS — apply-exactly-once without a
  separate ledger.

Correctness rests on ``apply_changelog``'s incremental identity
(``apply(apply(S, D1), D2) == apply(S, D1 ∪ D2)`` for seq-ordered batch
cuts), proven in ``tests/test_streaming.py`` by comparing the drained
stream's final snapshot against the one-shot batch merge.

Scale: each micro-batch costs one delta latest-per-key aggregate + one
co-keyed full-outer join against the current snapshot, and rewrites the
snapshot.  Rewriting is the plain-parquet cost of this pattern — on a
real lakehouse the same loop targets a format with row-level merge
(Delta/Iceberg) and only the join changes owner.  Old versions are
retained for rollback/time-travel; prune with ``prune_versions``.

The commit loop itself is :func:`_fold_committed`, shared with every
persisted index in ``streaming/embindex.py``: run-identity guard and
replay skip, the step's parquet writes under ``<prefix>=<batch_id>/``,
the ``_CURRENT`` commit, the prune of superseded cumulative tables,
the ``on_batch`` hook, and the ``foreachBatch`` → ``availableNow``
drain.  A face supplies only ``step(batch_df, batch_id) -> {sub: frame}``
(``maintain_snapshot``'s step returns ``{"": snapshot}``, so the
snapshot lands in ``version=<id>/`` itself).  Guard, effect and commit
are :func:`_apply_once`, which the ``streaming/eos.py`` sinks call too.

A face reads committed state only through :func:`_read_committed`.
Committed state is never absent: before the first commit the read is
an empty relation that Catalyst folds, so a union with it is the other
side, a left or anti join against it is the left side, and an inner or
semi join against it is empty.  Batch 0 therefore runs the same step
code as every later batch, with no first-batch branch.
"""

from __future__ import annotations

import os
import shutil
from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from ..operators.relational import apply_changelog

_POINTER = "_CURRENT"
_RUN = "_RUN_ID"


def _checkpoint_query_id(checkpoint_dir: str) -> str | None:
    """The streaming query id Spark persists in ``<ckpt>/metadata`` —
    stable across restarts on the SAME checkpoint, fresh when the
    checkpoint is recreated.  That makes it the run identity that ties
    a snapshot to the checkpoint whose batch ids it has applied."""
    import json

    try:
        with open(os.path.join(checkpoint_dir, "metadata")) as fh:
            return json.load(fh).get("id")
    except (FileNotFoundError, ValueError):
        return None


def snapshot_version(root: str) -> int | None:
    """Committed version id, or None if no snapshot exists yet."""
    try:
        with open(os.path.join(root, _POINTER)) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, ValueError):
        return None


def read_snapshot(spark: SparkSession, root: str) -> DataFrame | None:
    """The committed snapshot (key, value), or None before any commit."""
    v = snapshot_version(root)
    if v is None:
        return None
    return spark.read.parquet(os.path.join(root, f"version={v}"))


def prune_versions(root: str, keep: int = 2) -> list[int]:
    """Drop all but the newest ``keep`` version dirs (never the
    committed one, so ``keep=0`` leaves only it); returns the pruned
    ids."""
    current = snapshot_version(root)
    versions = sorted(
        int(d.split("=", 1)[1])
        for d in os.listdir(root)
        if d.startswith("version=")
    )
    victims = [v for v in versions[: max(len(versions) - keep, 0)] if v != current]
    for v in victims:
        shutil.rmtree(os.path.join(root, f"version={v}"))
    return victims


def _write_atomic(path: str, text: str) -> None:
    """``text`` into ``path`` tmp-then-rename: a reader sees the old
    content or the new, never a torn file."""
    tmp = os.path.join(os.path.dirname(path), f".{os.path.basename(path)}.tmp")
    with open(tmp, "w") as fh:
        fh.write(text)
    os.rename(tmp, path)


def _committed_dirs(root: str, sub: str, prefix: str = "batch") -> list[str]:
    """Paths of every committed batch's ``sub`` table (≤ _CURRENT):
    orphan dirs past the pointer (crash between write and commit) are
    excluded and will be overwritten by the replayed batch."""
    cur = snapshot_version(root)
    if cur is None:
        return []
    out = []
    for d in os.listdir(root):
        if d.startswith(f"{prefix}="):
            bid = int(d.split("=", 1)[1])
            if bid <= cur:
                out.append(os.path.join(root, d, sub))
    return sorted(out)


def _latest_committed_dir(
    root: str, sub: str, prefix: str = "batch"
) -> str | None:
    """The committed batch's ``sub`` table, for state kept as a
    cumulative rollup rather than per-batch contributions.  The batch
    that ``_CURRENT`` names wrote every table of its step before the
    pointer moved, and no prune ever removes it, so its dir IS the
    latest committed copy: an orphan dir past the pointer is never
    chosen, and the id never comes from parsing a path (a root that
    itself contains "batch=" cannot select a stale rollup)."""
    cur = snapshot_version(root)
    if cur is None:
        return None
    return os.path.join(root, f"{prefix}={cur}", sub)


def _read_committed(
    spark: SparkSession,
    root: str,
    sub: str,
    schema: str | StructType,
    latest: bool = False,
    prefix: str = "batch",
) -> DataFrame:
    """Every committed batch's ``sub`` table (only the latest one with
    ``latest``, for cumulative rollups).  Before the first commit it is
    an empty relation of ``schema`` that Catalyst folds away — the
    ``where(False)`` turns the unfoldable ``LogicalRDD`` of
    ``createDataFrame([])`` into an empty ``LocalRelation`` — so a
    face's unions and joins with it need no first-batch branch."""
    if latest:
        d = _latest_committed_dir(root, sub, prefix)
        dirs = [] if d is None else [d]
    else:
        dirs = _committed_dirs(root, sub, prefix)
    if not dirs:
        return spark.createDataFrame([], schema).where(F.lit(False))
    return spark.read.schema(schema).parquet(*dirs)


def _prune_superseded(root: str, sub: str) -> None:
    """Delete every committed batch's ``sub`` table BELOW the current
    pointer — for state kept as a CUMULATIVE rollup (each batch
    persists the full fold and only the latest committed copy is ever
    read), where retaining history would grow disk as
    O(n_batches × state).  Idempotent and crash-safe: the pointer's own
    batch is never touched, so :func:`_latest_committed_dir` always
    resolves; a crash mid-prune just leaves superseded dirs the next
    batch's prune removes."""
    cur = snapshot_version(root)
    if cur is None:
        return
    for d in os.listdir(root):
        if d.startswith("batch=") and int(d.split("=", 1)[1]) < cur:
            p = os.path.join(root, d, sub)
            if os.path.isdir(p):
                shutil.rmtree(p)


def _batch_query_id(batch_df: DataFrame) -> str | None:
    """The id of the streaming query running a ``foreachBatch`` call —
    the same id :func:`_checkpoint_query_id` reads from the checkpoint,
    which Spark sets as a local property on the thread that runs the
    batch.  None outside a streaming query."""
    return batch_df.sparkSession.sparkContext.getLocalProperty(
        "sql.streaming.queryId"
    )


def _stored_run(root: str) -> str | None:
    """The query id recorded beside ``_CURRENT``, or None."""
    try:
        with open(os.path.join(root, _RUN)) as fh:
            return fh.read().strip() or None
    except FileNotFoundError:
        return None


def _begin_batch(
    root: str,
    qid: str | None,
    batch_id: int,
    what: str,
    pairing: str,
) -> bool:
    """Run-identity guard + replay skip: False = replayed batch already
    committed; raises when the checkpoint lineage does not match the
    recorded identity.

    Replay-skip is only sound if these batch ids come from the SAME
    checkpoint lineage the committed state was built from: a
    lost/recreated checkpoint restarts batch ids at 0, and silently
    skipping those would freeze the state forever.  The query id
    recorded beside _CURRENT is that lineage; mismatch fails LOUDLY."""
    stored = _stored_run(root)
    current = snapshot_version(root)
    if current is not None and stored is not None and qid != stored:
        raise RuntimeError(
            f"{what} at {root} was built by streaming query {stored} but "
            f"this batch comes from query {qid}: its batch ids do not "
            f"line up with {pairing}"
        )
    if (stored is None or current is None) and qid is not None:
        # adopt this checkpoint's identity: first fold ever, or a root
        # with no committed batch yet (nothing to protect)
        _write_atomic(os.path.join(root, _RUN), qid)
    return not (current is not None and current >= batch_id)


def _commit_batch(root: str, batch_id: int) -> None:
    _write_atomic(os.path.join(root, _POINTER), str(batch_id))


def _apply_once(
    root: str,
    qid: str | None,
    batch_id: int,
    what: str,
    pairing: str,
    effect: Callable[[], None],
) -> bool:
    """Apply micro-batch ``batch_id`` of streaming query ``qid`` to
    ``root`` exactly once: the run-identity guard and replay skip
    (:func:`_begin_batch`), ``effect()``, then the atomic ``_CURRENT``
    commit.  False when the batch is a replay that already committed.
    The one commit protocol of :func:`_fold_committed` and the
    ``streaming/eos.py`` sinks."""
    os.makedirs(root, exist_ok=True)
    if not _begin_batch(root, qid, batch_id, what, pairing):
        return False
    effect()
    _commit_batch(root, batch_id)
    return True


def _fold_committed(
    stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    what: str,
    step: Callable[[DataFrame, int], dict[str, DataFrame]],
    prune: Iterable[str] = (),
    on_batch: Callable[[int], None] | None = None,
    prefix: str = "batch",
    pairing: str = "the committed batches. checkpoint_dir and index root "
    "must live and die as a pair.",
) -> None:
    """Drain ``stream`` with availableNow, folding each micro-batch
    into the committed state at ``root``: guard + replay skip
    (:func:`_begin_batch`), then ``step(batch_df, batch_id)``'s
    ``{sub: frame}`` parquet writes under ``<prefix>=<batch_id>/`` in
    dict order, the atomic ``_CURRENT`` commit, the prune of the
    ``prune`` cumulative tables, and ``on_batch(batch_id)``.  See the
    module doc for the commit/replay contract.  ``what`` and
    ``pairing`` word the lineage-mismatch error."""
    os.makedirs(root, exist_ok=True)

    def fold(batch_df: DataFrame, batch_id: int) -> None:
        def write() -> None:
            out = os.path.join(root, f"{prefix}={batch_id}")
            for sub, frame in step(batch_df, batch_id).items():
                frame.write.mode("overwrite").parquet(os.path.join(out, sub))

        qid = _checkpoint_query_id(checkpoint_dir)
        if not _apply_once(root, qid, batch_id, what, pairing, write):
            return  # replayed batch: every table already committed
        for sub in prune:
            _prune_superseded(root, sub)
        if on_batch is not None:
            on_batch(batch_id)

    (
        stream.writeStream.foreachBatch(fold)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
        .awaitTermination()
    )


def maintain_snapshot(
    spark: SparkSession,
    delta_stream: DataFrame,
    root: str,
    checkpoint_dir: str,
    key: str = "key",
) -> None:
    """Drain ``delta_stream`` (columns: key, seq, op, value) with
    availableNow, folding each micro-batch into the snapshot at
    ``root`` via :func:`apply_changelog`.  See module doc for the
    commit/replay contract."""

    def step(batch_df: DataFrame, batch_id: int) -> dict[str, DataFrame]:
        prev = _read_committed(
            spark, root, "", batch_df.select(key, "value").schema,
            latest=True, prefix="version",
        )
        return {"": apply_changelog(prev, batch_df, key=key).select(key, "value")}

    _fold_committed(
        delta_stream,
        root,
        checkpoint_dir,
        "snapshot",
        step,
        prefix="version",
        pairing="the applied versions. checkpoint_dir and snapshot root "
        "must live and die as a pair — restore the original checkpoint, "
        "or start a fresh snapshot root for the new checkpoint.",
    )
