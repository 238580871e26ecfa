"""Structured Streaming wrappers for the reference topologies.

The reference has NO windows and NO watermarks (SURVEY §2.10): every
aggregation is cumulative over the whole stream and re-emits on every
update (changelog semantics). The Spark-first equivalents:

- cumulative aggregation → streaming ``groupBy().agg()`` with
  ``update`` output mode (per-key changelog to a Kafka sink) or
  ``complete`` mode (memory sink for tests/interactive queries — the
  analog of the reference's interactive store scans,
  ``restore/.../Streams.java:92-116``).
- KTable materialization → ``max_by``-style latest-per-key streaming
  aggregate.
- determinism for tests → file source + ``availableNow`` trigger: the
  whole fixture drains in bounded micro-batches and the final state
  must equal the batch result (SURVEY §5.3's equivalence contract).

State lives in RocksDB (session.py conf), like the reference's stores;
the checkpoint directory is the changelog. At scale, cumulative
per-key state needs the same caveat the reference demonstrates:
``order_ids`` grows forever — TTL or truncate in production.
"""

from __future__ import annotations

import inspect
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def stream_product_stats(lineitems: DataFrame) -> DataFrame:
    """Cumulative per-product stats (A2) as a streaming aggregation.

    Input: a *streaming* DataFrame in the exploded line-item shape.
    Emits the v2-style topline (orders/quantity per sku) plus per-store
    entries; map assembly happens at the sink edge (maps don't stream
    well through update mode).
    """
    src = lineitems.filter(F.col("l_quantity") > 0)
    return src.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("orders"),
        F.sum("l_quantity").alias("quantity"),
        F.collect_set("l_orderkey").alias("order_ids"),
    )


def stream_latest_per_key(
    events: DataFrame, key: str, order_col: str, payload_cols: list[str]
) -> DataFrame:
    """KTable semantics as a streaming aggregate: latest row per key
    via ``max_by`` over a total order (S2/A3).

    All payload columns are selected with ONE ``max_by`` of the whole
    row struct so the emitted record is a single input row (per-column
    ``max_by`` could mix rows when two inputs tie on ``order_col``);
    ties break deterministically on the payload struct itself,
    mirroring batch ``latest_per_key``'s whole-row semantics.
    """
    cols = ", ".join([order_col, *payload_cols])
    row = F.expr(f"max_by(struct({cols}), struct({order_col}, struct({cols})))")
    return events.groupBy(key).agg(row.alias("__row")).select(key, "__row.*")


def run_to_memory_available_now(
    spark: SparkSession, df: DataFrame, mode: str = "complete"
) -> DataFrame:
    """Drain a streaming aggregate with availableNow into a memory
    sink; returns the final table (deterministic test harness)."""
    name = f"mem_{uuid.uuid4().hex[:8]}"
    q = (
        df.writeStream.format("memory")
        .queryName(name)
        .outputMode(mode)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return spark.table(name)


def stream_pickup_orders(
    orders_stream: DataFrame,
    users: DataFrame,
    stores: DataFrame,
    products: DataFrame,
) -> DataFrame:
    """The full pickup-order topology with a *streaming* order source:
    stream-static joins against the dimension tables (J1/J2/J3) + the
    re-nesting aggregate (A1) + the fully-priced filter (R4).

    Stream-static join semantics match the reference's KStream⋈KTable:
    only order arrivals emit, never dim updates. Caveat (SURVEY §7
    "Hard 1"): a parquet static side pins its file listing when the
    plan is built, so a dim refresh lands on the next query RESTART,
    not the next micro-batch (tested in
    ``test_streaming.py::test_dim_refresh_lands_on_restart``) — the
    checkpoint makes restarts cheap. For within-query refresh use a
    table format whose snapshot resolves per batch (e.g. Delta) or a
    ``foreachBatch`` join against a re-read dim.
    Use complete/update output mode: A1 is a streaming aggregation.

    State grows without bound: A1 keeps one RocksDB row per
    ``order_id`` and, with no watermark, never evicts it — the state
    row count is the number of distinct orders ever seen (draining two
    2,500-order files takes ``numRowsTotal`` from 2,500 to 5,000).  An
    order arrives as one record carrying all its items, so no later
    batch updates that row; :func:`stream_pickup_orders_live_dims`
    runs the same topology per micro-batch and keeps no state at all.
    """
    from ..operators.pickup_order import enrich_pickup_orders

    return enrich_pickup_orders(orders_stream, users, stores, products)


def stream_pickup_orders_live_dims(
    spark: SparkSession,
    orders_stream: DataFrame,
    users_path: str,
    stores_path: str,
    products_path: str,
    checkpoint_dir: str,
    on_batch=None,
) -> list:
    """The pickup-order topology with LIVE dimension tables: the
    reference's KStream⋈KTable advances the table state continuously
    while the stream runs (``Streams.java:107-115`` — a user/product
    upsert is visible to the very next polled order).  Spark's
    stream-static join pins a parquet dim's file listing at PLAN time
    (:func:`stream_pickup_orders`'s documented caveat), so here the
    join moves into ``foreachBatch``: each micro-batch RE-RESOLVES the
    dimension snapshot with a fresh ``spark.read.parquet`` — a dim
    update lands on the NEXT batch, no query restart.

    Per-batch enrichment is exact, not an approximation: a purchase
    order arrives as ONE record carrying its full items array, so the
    explode → price → re-nest (A1) never spans batches — the same
    per-record independence the reference topology has.  The dim value
    each order sees is the snapshot current when its batch processes:
    processing-time join semantics, exactly the reference's (which
    joins against whatever RocksDB holds at poll time).

    Scale: the per-batch dim re-read costs one file listing + (for
    stores) a broadcast rebuild per micro-batch; users/products join
    shuffles only the BATCH, not history.  On a lakehouse the same
    loop reads a Delta/Iceberg snapshot instead of a parquet listing.

    Returns the emitted rows (test/driver harness, like
    :func:`run_foreach_batch_available_now`); production replaces the
    collect with a sink write.  ``on_batch(batch_id, rows)`` is an
    observation hook (tests use it to upsert a dim BETWEEN batches).
    """
    from ..operators.pickup_order import enrich_pickup_orders

    emitted: list = []

    def process(batch_df: DataFrame, batch_id: int) -> None:
        users = spark.read.parquet(users_path)  # fresh listing, THIS batch
        stores = spark.read.parquet(stores_path)
        products = spark.read.parquet(products_path)
        rows = enrich_pickup_orders(batch_df, users, stores, products).collect()
        emitted.extend(rows)
        if on_batch is not None:
            on_batch(batch_id, rows)

    q = (
        orders_stream.writeStream.foreachBatch(process)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return emitted


def stream_windowed_counts(
    events: DataFrame,
    watermark: str = "30 minutes",
    window: str = "1 hour",
    slide: str | None = None,
) -> DataFrame:
    """Tumbling event-time aggregation with a watermark — the
    Structured Streaming feature the reference's unused ``WindowType``
    enum (``OptionsUtilTest.java:15``) points at but never builds.

    The watermark bounds state: windows older than
    ``max(event time) - watermark`` are finalized and their state
    evicted, and later-arriving rows for them are DROPPED — this is the
    late-data contract the reference sidesteps by keeping all state
    forever. Input must have an event-time ``ts`` column. Pass
    ``slide`` for hopping windows (each row lands in window/slide
    overlapping windows).

    Scale: one shuffle on (window, event_type); state per open window ×
    key only — bounded, unlike the cumulative A2 aggregation.
    """
    win = (
        F.window("ts", window, slide) if slide else F.window("ts", window)
    )
    return (
        events.withWatermark("ts", watermark)
        .groupBy(win.alias("win"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.unix_millis("win.start").alias("win_start_ms"),
            "event_type",
            "n",
            "total",
        )
    )


def stream_session_counts(
    events: DataFrame,
    gap: str = "30 minutes",
    watermark: str = "30 minutes",
    key: str = "event_type",
) -> DataFrame:
    """Session windows on an infinite stream: ``session_window`` merges
    events within ``gap`` of each other per key; the watermark closes
    sessions once no extension can arrive, evicting their state. The
    batch analog is ``operators/windows.session_events``; this is the
    form that holds state only for OPEN sessions.
    """
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("win"), key)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.round(F.sum("value"), 2).alias("total"),
        )
        .select(
            F.unix_millis("win.start").alias("session_start_ms"),
            F.unix_millis("win.end").alias("session_end_ms"),
            key,
            "n",
            "total",
        )
    )


def stream_dedup_exact(
    events: DataFrame, keys: list[str], watermark: str = "30 minutes"
) -> DataFrame:
    """Streaming exact dedup: first occurrence per key wins, duplicate
    arrivals within the watermark horizon are dropped, and dedup state
    older than the watermark is evicted (bounded state — the scale-safe
    form of ``dropDuplicates`` on an infinite stream)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(keys)


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str = "1 hour",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Watermarked stream-stream interval join — the Structured
    Streaming analog of Kafka Streams' windowed KStream⋈KStream join
    (``JoinWindows.of(...)``), the one join class the reference's DSL
    has that its demo topology never instantiates (SURVEY §2.4): right
    rows join left rows with the same ``key`` whose event time falls in
    ``[left_ts, left_ts + within]`` (the ad-impression→click
    attribution shape).

    Both sides carry a watermark, which is what BOUNDS THE STATE: each
    side buffers only rows newer than (watermark + within) — Spark
    derives the eviction horizon from the join's time condition — so an
    infinite stream joins in finite state, the exact property the
    reference gets from its windowed store retention. Inner joins emit
    in append mode; rows arriving behind the watermark are dropped.

    ``left_ts`` and ``right_ts`` must be distinct names (both survive
    into the output); ``key`` is emitted once. Scale: one shuffle per
    side keyed on ``key`` — co-partitioned state store join, same shape
    as the reference's co-partitioning contract.
    """
    return _interval_join(
        left, right, key, left_ts, right_ts, within, watermark, "inner"
    )


def _interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    within: str,
    watermark: str,
    how: str,
) -> DataFrame:
    """The watermarked interval join both public forms run, ``how``
    being ``"inner"`` or ``"leftOuter"``."""
    l = left.withWatermark(left_ts, watermark)
    r = right.withWatermark(right_ts, watermark)
    cond = (
        (l[key] == r[key])
        & (r[right_ts] >= l[left_ts])
        & (r[right_ts] <= l[left_ts] + F.expr(f"INTERVAL {within}"))
    )
    return l.join(r, cond, how).drop(r[key])


def stream_interval_join_outer(*args, **kwargs) -> DataFrame:
    """LEFT OUTER form of :func:`stream_interval_join` (same arguments)
    — Kafka Streams' ``KStream.leftJoin(KStream, JoinWindows)``: every
    left row emits; unmatched ones emit null-padded ONCE THE WATERMARK
    PASSES its join window's end (only then can "no match" be final — the same
    window-close reasoning Kafka Streams applies via its spurious-
    left-join fix, KIP-633's grace period).

    Emission-timing caveat inherent to the model: a left row whose
    window end is still ahead of the watermark when the query stops has
    not proven unmatched and is NOT emitted — a drained finite stream
    therefore null-pads only rows whose window the final watermark
    passed.  Tests (and bounded replays) append a max-timestamp
    sentinel to advance the watermark over every real row's window.

    State bound and shuffle shape are identical to the inner form; the
    outer side additionally retains matched/unmatched bits until
    eviction.  Inner-join rows stream out immediately; null-padded rows
    trail by up to (watermark + within).
    """
    bound = inspect.signature(stream_interval_join).bind(*args, **kwargs)
    bound.apply_defaults()
    return _interval_join(*bound.args, "leftOuter")


def stream_hll_registers(events: DataFrame) -> DataFrame:
    """Streaming HyperLogLog register build: update/complete-mode
    ``groupBy(bucket).max(rho)`` over an unbounded user stream.

    The state is AT MOST 16 rows — the smallest possible streaming
    aggregation state — and never grows with cardinality: this is the
    streaming face of ``operators/sketches.py``; the same associative
    ``max`` that merges daily sketches in batch merges micro-batches
    here, so final streaming registers equal the batch registers over
    the same rows (tested).
    """
    from ..operators.sketches import _hll_parts, _rho

    return _hll_parts(events).groupBy("bucket").agg(F.max(_rho()).alias("m_j"))


def stream_cms_registers(events: DataFrame) -> DataFrame:
    """Streaming count-min-sketch register build: the frequency
    counterpart of :func:`stream_hll_registers`. State is AT MOST
    D×W = 128 counter rows regardless of stream cardinality; counts
    partial-combine per micro-batch and merge associatively (sum), so
    the final streaming registers equal the batch registers over the
    same rows (tested) — persist them and point queries never touch
    the raw stream again.
    """
    from ..operators.sketches import CMS_D, CMS_W, _md5_mod

    buckets = F.array(
        *[_md5_mod(F.col("user_id"), str(d), CMS_W) for d in range(CMS_D)]
    )
    return (
        events.select(F.posexplode(buckets).alias("d", "bucket"))
        .groupBy("d", "bucket")
        .agg(F.count(F.lit(1)).alias("c"))
    )


def run_foreach_batch_available_now(
    spark: SparkSession, df: DataFrame, checkpoint_dir: str, mode: str = "update"
) -> list:
    """Drain a streaming frame with availableNow through foreachBatch,
    collecting every emitted row (test harness that, unlike the memory
    sink, supports checkpoint recovery across restarts — needed to test
    watermark persistence)."""
    emitted: list = []

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        emitted.extend(batch_df.collect())

    q = (
        df.writeStream.foreachBatch(sink)
        .outputMode(mode)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return emitted


def read_state_store(
    spark: SparkSession, checkpoint_dir: str, batch_id: int | None = None
) -> DataFrame:
    """P2 — the reference's interactive store scan
    (``restore/.../Streams.java:92-116``): read a streaming query's
    state directly from its checkpoint via the statestore reader."""
    reader = spark.read.format("statestore").option("path", checkpoint_dir)
    if batch_id is not None:
        reader = reader.option("batchId", batch_id)
    return reader.load()


def stream_event_transitions(events: DataFrame) -> DataFrame:
    """Streaming form of ``operators.windows.event_transitions``: keyed
    value state holds each user's LAST event, so consecutive-pair
    transitions are emitted correctly even when a user's stream spans
    micro-batches.  Emits per-user per-batch pair counts (update mode);
    the consumer (or a downstream aggregation) sums them — counts are
    associative, so the streaming total equals the batch matrix
    (batch-equivalence tested).

    State per key is ONE (ms, event_id, event_type) triple — bounded
    regardless of stream length, the minimal sequence-mining state.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "user_id long, from_type string, to_type string, n long"
    state_schema = "ms long, event_id long, event_type string"

    def fold(key, batches, state: GroupState):
        last = state.get if state.exists else None
        pairs: list[tuple[str, str]] = []
        for pdf in batches:
            pdf = pdf.sort_values(["ms", "event_id"])
            for row in pdf.itertuples(index=False):
                if last is not None:
                    pairs.append((last[2], row.event_type))
                last = (int(row.ms), int(row.event_id), row.event_type)
        if last is not None:
            state.update(last)
        if pairs:
            counts = (
                pd.DataFrame(pairs, columns=["from_type", "to_type"])
                .value_counts()
                .reset_index(name="n")
            )
            counts.insert(0, "user_id", key[0])
            yield counts

    ev = events.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "event_id",
        "event_type",
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_first_touch_attribution(events: DataFrame) -> DataFrame:
    """Streaming form of ``operators.windows.first_touch_attribution``:
    keyed value state holds each user's most recent click, so a purchase
    attributes correctly even when the click arrived in an earlier
    micro-batch.  Emits one row per qualifying purchase — rows are
    emit-once FACTS, decided at the batch containing the purchase;
    ``outputMode="update"`` is used only because
    ``applyInPandasWithState`` requires it for this pattern, never to
    revise an emitted row.

    State per key is ONE (ms, event_id) pair — bounded regardless of
    stream length, like the reference's KTable-backed enrichments.  Rows
    inside a batch are replayed in (ms, event_id) order, the same total
    order the batch window uses.  Batch equivalence holds for sources
    whose CROSS-batch arrival respects event time (an in-order or
    watermark-reordered feed): within a batch order is restored by the
    sort, the click state only advances (a late-arriving OLDER click
    can't regress it), and a purchase older than the stored click is
    dropped (gap < 0) rather than attributed to a future click.  A
    purchase whose true click arrives in a LATER batch than the
    purchase is missed — decided-once semantics can't revisit it; size
    the upstream watermark with ``out_of_order_stats`` if that matters.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.windows import ATTRIBUTION_WINDOW_MS

    out_schema = (
        "purchase_event_id long, user_id long, click_event_id long, gap_ms long"
    )
    state_schema = "click_ms long, click_event_id long"

    def fold(key, batches, state: GroupState):
        click = state.get if state.exists else None  # (ms, event_id)
        rows: list[tuple[int, int, int, int]] = []
        for pdf in batches:
            pdf = pdf.sort_values(["ms", "event_id"])
            for row in pdf.itertuples(index=False):
                if row.event_type == "purchase" and click is not None:
                    gap = int(row.ms) - click[0]
                    # 0 <= gap: a disordered purchase older than the
                    # stored click must NOT attribute to that (future)
                    # click — drop it instead of emitting a negative gap.
                    if 0 <= gap <= ATTRIBUTION_WINDOW_MS:
                        rows.append(
                            (int(row.event_id), key[0], click[1], gap)
                        )
                elif row.event_type == "click":
                    # monotonic advance: a click arriving late (cross-
                    # batch disorder) never regresses "most recent".
                    cand = (int(row.ms), int(row.event_id))
                    if click is None or cand > click:
                        click = cand
        if click is not None:
            state.update(click)
        if rows:
            yield pd.DataFrame(
                rows,
                columns=[
                    "purchase_event_id",
                    "user_id",
                    "click_event_id",
                    "gap_ms",
                ],
            )

    ev = events.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "event_id",
        "event_type",
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_ewma_user_value(events: DataFrame) -> DataFrame:
    """Streaming form of ``operators.windows.ewma_user_value``: the
    closed-form batch EWMA (latest event weighs most) has an exact
    incremental recurrence when events arrive in time order —

        S ← d·S + v        W ← d·W + 1        ewma = S / W

    so keyed state is TWO doubles and a count per user, bounded
    regardless of stream length.  With d = 0.5 every decay multiply is
    exact in IEEE doubles (exponent decrement), so the streaming fold
    reproduces the batch weights bit-for-bit; remaining float-sum
    ordering differences are absorbed by the same round(4) the batch
    form applies.

    Emits each user's CURRENT (ewma_value, n_events) once per batch
    that touched the user (update mode — downstream keeps the latest
    row per user); after draining, the final emission per user equals
    the batch value (equivalence-tested across a mid-stream cut).
    Batch equivalence needs event-time-ordered CROSS-batch arrival,
    same as ``stream_first_touch_attribution``; within a batch rows
    are replayed in (ms ASC, event_id DESC) order — the exact REVERSE
    of the batch rank order (ts DESC, event_id ASC), so a user with
    two events at the same timestamp gets the same weight-1 slot
    (the LOWER event_id) in both engines.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from ..operators.windows import EWMA_DECAY

    out_schema = "user_id long, ewma_value double, n_events long"
    state_schema = "s double, w double, n long"

    def fold(key, batches, state: GroupState):
        s, w, n = state.get if state.exists else (0.0, 0.0, 0)
        touched = False
        for pdf in batches:
            # The batch form ranks (ts DESC, event_id ASC); the fold must
            # consume rows in the exact reverse of that rank order, which
            # for a ts tie means the HIGHER event_id comes FIRST.
            pdf = pdf.sort_values(["ms", "event_id"], ascending=[True, False])
            for v in pdf["value"]:
                s = EWMA_DECAY * s + float(v)
                w = EWMA_DECAY * w + 1.0
                n += 1
                touched = True
        state.update((s, w, n))
        if touched:
            yield pd.DataFrame(
                {
                    "user_id": [key[0]],
                    "ewma_value": [round(s / w, 4)],
                    "n_events": [n],
                }
            )

    ev = events.select(
        "user_id",
        F.unix_millis("ts").alias("ms"),
        "event_id",
        F.col("value").cast("double").alias("value"),
    )
    return ev.groupBy("user_id").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_cusum_changepoint(events: DataFrame) -> DataFrame:
    """Streaming form of ``operators.windows.cusum_changepoint``: the
    CUSUM statistic needs the series' OVERALL mean, so the keyed state
    carries each event type's per-day (sum, count) pairs — bounded by
    the CALENDAR (one entry per day the type was seen), not by stream
    length; the raw events are never retained.

    Each batch folds its rows into the day registers (commutative —
    within-batch order is irrelevant), then re-derives the full CUSUM
    scan from the registers and emits the type's CURRENT peak (update
    mode — the last emission per type is the answer and equals the
    batch query on the same data; equivalence-tested across a
    mid-stream cut).  This is the register pattern of
    ``stream_hll_registers``: state is a mergeable summary, the
    statistic is recomputed from the summary, never from raw history.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    out_schema = "event_type string, peak_day string, peak_cusum double"
    state_schema = "days array<long>, sums array<double>, counts array<long>"

    def fold(key, batches, state: GroupState):
        if state.exists:
            days, sums, counts = state.get
            regs = {
                d: [s, c] for d, s, c in zip(days, sums, counts)
            }
        else:
            regs = {}
        touched = False
        for pdf in batches:
            for day, v in zip(pdf["epoch_day"], pdf["value"]):
                r = regs.setdefault(int(day), [0.0, 0])
                r[0] += float(v)
                r[1] += 1
                touched = True
        items = sorted(regs.items())
        state.update(
            (
                [d for d, _ in items],
                [s for _, (s, _) in items],
                [c for _, (_, c) in items],
            )
        )
        if not touched:
            return
        day_avg = [s / c for _, (s, c) in items]
        overall = sum(day_avg) / len(day_avg)
        cusum, acc = [], 0.0
        for a in day_avg:
            acc += a - overall
            cusum.append(acc)
        # argmax by (|round(cusum,6)| desc, day asc) — the batch tie rule
        best = max(
            range(len(items)),
            key=lambda i: (abs(round(cusum[i], 6)), -items[i][0]),
        )
        peak_day = (
            pd.Timestamp(items[best][0], unit="D").strftime("%Y-%m-%d")
        )
        yield pd.DataFrame(
            {
                "event_type": [key[0]],
                "peak_day": [peak_day],
                "peak_cusum": [round(cusum[best], 4)],
            }
        )

    ev = events.select(
        "event_type",
        F.datediff(F.to_date("ts"), F.lit("1970-01-01")).cast("long").alias(
            "epoch_day"
        ),
        F.col("value").cast("double").alias("value"),
    )
    return ev.groupBy("event_type").applyInPandasWithState(
        fold,
        outputStructType=out_schema,
        stateStructType=state_schema,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_table_profile(lineitems: DataFrame) -> DataFrame:
    """Streaming data-quality profile: per-column HLL registers over an
    unbounded lineitem feed — ``groupBy(column, bucket).max(rho)`` in
    update mode, state AT MOST |columns|×16 rows whatever the
    cardinality.  The canonical value encoding is SHARED with the
    batch ``analytics.table_profile_approx`` (same ``_profile_canon``),
    so streaming registers equal — and merge associatively with — the
    batch registers over the same rows (tested), and the estimate
    formula (``sketches._hll_estimate``) reads either.  This is the
    continuous monitor whose batch counterpart is the audit-time gate:
    cardinality drift on a 100 TB feed shows up without ever re-
    touching raw history.
    """
    from ..operators.analytics import _profile_buckets, _profile_canon
    from ..operators.sketches import _rho

    return (
        _profile_buckets(_profile_canon(lineitems))
        .groupBy("column_name", "bucket")
        .agg(F.max(_rho()).alias("m_j"))
    )
