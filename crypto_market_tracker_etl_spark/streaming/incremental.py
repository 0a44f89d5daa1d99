"""Incremental load as Structured Streaming (reference §2.9 semantics).

The reference's "streaming" is a daily cron re-fetching the trailing 24 h
and upserting by PK — keyed last-writer-wins absorbs overlap and late data
(reference .github/workflows/etl.yml:5-7, src/db.py:93-97). The exact Spark
equivalent is a file/stream source driven with ``trigger(availableNow=True)``
and ``foreachBatch`` performing the keyed MERGE: each trigger drains
whatever arrived, merges idempotently, and exits — a cron-friendly
incremental job with exactly the reference's late-data story.

``windowed_ohlc_stream`` is the watermarked event-time generalization: the
daily-OHLC aggregate maintained continuously with bounded state.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from ..operators.txn_sink import ManifestParquetSink


def incremental_upsert_stream(
    stream: DataFrame,
    sink: ManifestParquetSink,
    checkpoint_dir: str,
    available_now: bool = True,
) -> StreamingQuery:
    """Drain a stream into a keyed-upsert parquet table.

    foreachBatch gets a normal batch DataFrame per micro-batch; the sink's
    MERGE (dedup-keep-latest over touched partitions) makes replays and
    overlapping fetch windows idempotent — restarting after failure cannot
    duplicate rows, same guarantee as the reference's ON CONFLICT. Each
    micro-batch is one manifest CAS commit, so batch jobs may upsert the
    same table while the stream runs: their commits serialize against the
    stream's, and readers get snapshot isolation during every micro-batch.
    """

    def merge_batch(batch: DataFrame, batch_id: int) -> None:
        if not batch.isEmpty():
            sink.upsert(batch)

    writer = (
        stream.writeStream.foreachBatch(merge_batch)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("update")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


def dedup_stream_within_watermark(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    watermark: str = "1 hour",
) -> DataFrame:
    """Streaming exact-dedup with BOUNDED state: emit the first row per key,
    keeping dedup state only ``watermark`` past the event-time high-water
    mark (``dropDuplicatesWithinWatermark``). The streaming complement to
    batch ``exact_dedup``: content keys older than the watermark are
    forgotten — at 100 TB/day retaining every key forever is not an option,
    and upstream replays land within the watermark anyway (the reference's
    re-fetch window is 24 h, reference src/etl.py:35)."""
    return stream.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        list(keys)
    )


def stream_interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "1 hour",
) -> DataFrame:
    """Stream-stream inner join: each left event pairs with right events of
    the same key whose timestamp falls in ``[left_ts − lookback, left_ts]``
    (e.g. clicks joined to the purchases that preceded them).

    Both sides carry watermarks and the join condition time-bounds BOTH
    event times, which is what lets Spark expire buffered state — without
    the interval bound a stream-stream join must hold every row forever.
    State per key is bounded by lookback + watermark. Works identically
    under ``availableNow`` batch-drain and continuous triggers.
    """
    lw = left.withWatermark(left_ts, watermark).alias("l")
    rw = right.withWatermark(right_ts, watermark).alias("r")
    cond = (
        (F.col(f"l.{key}") == F.col(f"r.{key}"))
        & (F.col(f"r.{right_ts}") >= F.col(f"l.{left_ts}") - F.expr(f"INTERVAL {lookback}"))
        & (F.col(f"r.{right_ts}") <= F.col(f"l.{left_ts}"))
    )
    return lw.join(rw, cond, "inner").select(
        F.col(f"l.{key}").alias(key),
        F.col(f"l.{left_ts}").alias(left_ts),
        *[F.col(f"l.{c}").alias(c) for c in left.columns if c not in (key, left_ts)],
        F.col(f"r.{right_ts}").alias(f"right_{right_ts}"),
        *[
            F.col(f"r.{c}").alias(f"right_{c}")
            for c in right.columns
            if c not in (key, right_ts)
        ],
    )


def stream_asof_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    lookback: str = "1 hour",
    watermark: str = "1 hour",
    finalize: str = "1 hour",
) -> DataFrame:
    """Stream-stream BACKWARD AS-OF join: each left probe is matched with
    the single LATEST right event of the same key at-or-before it (within
    ``lookback``) — the streaming twin of ``operators.asof.asof_join``.

    Spark has no native streaming as-of; this composes two chained
    stateful operators (supported since watermark propagation landed in
    3.5): the time-bounded interval join buffers candidates with state
    bounded by lookback + watermark, then a windowed ``max_by`` reduces
    each probe's candidate set to its as-of row. Probes finalize — and
    emit exactly once, in append mode — when the watermark passes the end
    of their ``finalize`` window.

    Inner semantics: a probe with no right event inside its lookback is
    not emitted (its batch-twin ``_asof`` columns would be null).
    State/scale: both operators key their state by (key ⊕ window); no
    unbounded buffering anywhere, identical shape under availableNow
    drains and continuous triggers.
    """
    joined = stream_interval_join(
        left, right, key, left_ts, right_ts, lookback, watermark
    )
    rts = f"right_{right_ts}"
    # the join output carries TWO watermarked event-time columns; the
    # downstream aggregation allows exactly one. Re-deriving the right
    # timestamp through arithmetic drops its event-time metadata while
    # keeping the value bit-identical.
    joined = joined.withColumn(rts, F.col(rts) + F.expr("INTERVAL 0 SECONDS"))
    # same trick for the probe timestamp used as a PLAIN group key: event
    # time enters the aggregation only through the finalize window.
    joined = joined.withColumn("__lts", F.col(left_ts) + F.expr("INTERVAL 0 SECONDS"))
    left_extras = [c for c in left.columns if c not in (key, left_ts)]
    right_extras = [f"right_{c}" for c in right.columns if c not in (key, right_ts)]
    payload = F.struct(F.col(rts), *[F.col(c) for c in right_extras])
    agg = joined.groupBy(
        F.window(left_ts, finalize).alias("__w"),
        key,
        "__lts",
        *left_extras,
    ).agg(F.max_by(payload, F.col(rts)).alias("__m"))
    return agg.select(
        key,
        F.col("__lts").alias(left_ts),
        *left_extras,
        F.col(f"__m.{rts}").alias(f"asof_{right_ts}"),
        *[F.col(f"__m.{c}").alias(c) for c in right_extras],
    )


def windowed_ohlc_stream(
    stream: DataFrame,
    keys: Sequence[str],
    ts_col: str,
    value: str,
    window_duration: str = "1 day",
    watermark: str = "1 hour",
    tiebreak: Sequence[str] = (),
) -> DataFrame:
    """Continuously-maintained tumbling OHLC with a late-data watermark.

    first/last are ordered by event time (extended to a total order by
    ``tiebreak``) via max_by/min_by so results match the batch
    ohlc_tumbling operator; the watermark bounds state (windows older than
    max(event_time) − watermark are finalized and dropped).
    """
    win = F.window(ts_col, window_duration)
    order_cols = [F.col(ts_col), *(F.col(c) for c in tiebreak)]
    order = order_cols[0] if len(order_cols) == 1 else F.struct(*order_cols)
    agg = (
        stream.withWatermark(ts_col, watermark)
        .groupBy(*keys, win.alias("w"))
        .agg(
            F.min_by(value, order).alias("open"),
            F.max(value).alias("high"),
            F.min(value).alias("low"),
            F.max_by(value, order).alias("close"),
            F.count(value).alias("n_obs"),
        )
    )
    return agg.select(
        *keys,
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        "open",
        "high",
        "low",
        "close",
        "n_obs",
    )


def tokenize_count_stream(
    docs_stream: DataFrame, frozen_vocab: DataFrame, text_col: str = "text"
) -> DataFrame:
    """Frozen-vocabulary token accounting over a DOCUMENT STREAM — the
    production shape of [tokenize_count]: a tokenizer vocabulary is a
    frozen artifact (trained once, then applied to every new crawl
    snapshot), so the streaming side needs NO stateful operator at all —
    the vocabulary arrives as a stream-static cross join of a 1-row
    vocab-array anchor, and the per-document accounting (word count,
    subword count under 1-token-per-vocab-word + per-character OOV
    fallback, OOV rate) is a pure higher-order-function projection over
    each arriving row. Stateless ⇒ append mode, no watermark, identical
    math per row whether the doc arrives in a backfill batch or a
    micro-batch. Zero-token documents emit NO row — the batch
    [tokenize_count] row-set contract, so stream ≡ batch holds per doc
    including WHICH docs appear (tests/test_operators.py).

    ``frozen_vocab`` is a 1-column ('w') bounded DataFrame — at 100 TB the
    vocab anchor is a few KB broadcast to every task; documents never
    shuffle."""
    from ..functions.textstats import normalize_ws

    vocab_arr = frozen_vocab.agg(
        F.array_sort(F.collect_list("w")).alias("vocab_arr")
    )
    toks = F.filter(
        F.split(normalize_ws(F.col(text_col)), " "), lambda t: t != ""
    )
    with_vocab = docs_stream.crossJoin(F.broadcast(vocab_arr))
    in_vocab = lambda t: F.array_contains(F.col("vocab_arr"), t)  # noqa: E731
    return (
        with_vocab.where(F.size(toks) > 0)  # batch row-set contract
        .select(
            "doc_id",
            F.size(toks).cast("long").alias("n_words"),
            F.aggregate(
                toks,
                F.lit(0).cast("long"),
                lambda acc, t: acc
                + F.when(in_vocab(t), F.lit(1)).otherwise(F.length(t)),
            ).alias("n_tokens_sub"),
            F.round(
                F.size(F.filter(toks, lambda t: ~in_vocab(t))) / F.size(toks), 4
            ).alias("oov_rate"),
        )
    )
