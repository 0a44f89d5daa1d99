"""Tests: registrable Python data source + stateful streaming operators."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from tests.conftest import await_drain


def test_coingecko_datasource_synthetic(spark):
    from crypto_market_tracker_etl_spark.sources.datasource import register

    register(spark)
    df = (
        spark.read.format("coingecko")
        .option("assets", "bitcoin,ethereum,solana")
        .option("days", "2")
        .option("transport", "synthetic")
        .load()
    )
    assert df.columns == ["asset_id", "ts", "price", "market_cap", "volume", "source"]
    assert df.count() == 3 * 48
    # filters/projections compose via Catalyst on top of the source
    btc = df.filter(F.col("asset_id") == "bitcoin").select("ts", "price")
    assert btc.count() == 48
    # deterministic across reads (seeded synthetic transport)
    again = (
        spark.read.format("coingecko")
        .option("assets", "bitcoin,ethereum,solana")
        .option("days", "2")
        .option("transport", "synthetic")
        .load()
    )
    assert sorted(map(tuple, df.collect())) == sorted(map(tuple, again.collect()))


def test_coingecko_datasource_partitions(spark):
    from crypto_market_tracker_etl_spark.sources.datasource import CoinGeckoReader

    reader = CoinGeckoReader({"assets": ",".join(f"a{i}" for i in range(120)), "chunk": "50"})
    parts = reader.partitions()
    assert [len(p.assets) for p in parts] == [50, 50, 20]


def test_coingecko_datasource_requires_assets(spark):
    from crypto_market_tracker_etl_spark.sources.datasource import register

    register(spark)
    try:
        spark.read.format("coingecko").option("transport", "synthetic").load().count()
        raised = False
    except Exception as err:
        raised = "assets" in str(err)
    assert raised


def test_coingecko_stream_source(spark, tmp_path):
    """readStream on the registered source: hourly offsets advance per
    micro-batch until the synthetic window is drained."""
    from crypto_market_tracker_etl_spark.sources.datasource import register

    register(spark)
    out = str(tmp_path / "cg_out")

    def drain_once():
        stream = (
            spark.readStream.format("coingecko")
            .option("assets", "bitcoin,ethereum")
            .option("days", "1")
            .option("transport", "synthetic")
            .option("hours_per_batch", "8")
            .load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .outputMode("append")
            .option("checkpointLocation", str(tmp_path / "ck_cg"))
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, 180)
        return spark.read.parquet(out).collect()

    # each cron-style run resumes from the checkpointed offset and pulls
    # the next 8-hour window — the reference's daily incremental rerun as
    # a replayable streaming source
    assert len(drain_once()) == 2 * 8
    assert len(drain_once()) == 2 * 16
    rows = drain_once()
    assert len(rows) == 2 * 24  # fully drained, no duplicates across runs
    assert {r["asset_id"] for r in rows} == {"bitcoin", "ethereum"}
    assert len({(r["asset_id"], r["ts"]) for r in rows}) == 2 * 24
    assert all(r["source"] == "coingecko" for r in rows)


def _write_stream_batch(spark, path, rows):
    spark.createDataFrame(
        rows, "user_id long, ts timestamp, value double"
    ).coalesce(1).write.mode("append").parquet(path)


def _drain_to_parquet(out_stream, out_dir: str, ck_dir: str) -> None:
    """availableNow drain through foreachBatch into parquet — a durable
    sink, so the checkpoint supports restart-with-state (memory sink
    does not allow checkpoint recovery)."""

    def write(batch, batch_id):
        batch.write.mode("append").parquet(out_dir)

    q = (
        out_stream.writeStream.foreachBatch(write)
        .outputMode("update")
        .option("checkpointLocation", ck_dir)
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)


def _batch_feed(sink, v1: int, v2: int, cols) -> list[tuple]:
    """``sink.changes(v1, v2)`` as the cdf stream delivers that window:
    ``cols`` of each change row, stamped ``_commit_version = v2``."""
    return sorted(
        tuple(r[c] for c in cols) + (v2,)
        for r in sink.changes(v1, v2).collect()
    )


def test_running_stats_stream(spark, tmp_path):
    from crypto_market_tracker_etl_spark.streaming.stateful import running_stats_stream

    src = str(tmp_path / "src")
    _write_stream_batch(
        spark,
        src,
        [
            (1, dt.datetime(2024, 1, 1, 1), 10.0),
            (1, dt.datetime(2024, 1, 1, 2), 30.0),
            (2, dt.datetime(2024, 1, 1, 1), 5.0),
        ],
    )
    schema = "user_id long, ts timestamp, value double"
    out1 = str(tmp_path / "out1")
    stream = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        running_stats_stream(stream, "user_id", "ts", "value"),
        out1,
        str(tmp_path / "ck"),
    )
    got = {r["user_id"]: r for r in spark.read.parquet(out1).collect()}
    assert got[1]["n_total"] == 2 and got[1]["sum_total"] == 40.0
    assert got[1]["last_value"] == 30.0 and got[1]["min_total"] == 10.0
    assert got[2]["n_total"] == 1

    # second drain, same checkpoint: state must CARRY ACROSS restarts
    _write_stream_batch(spark, src, [(1, dt.datetime(2024, 1, 1, 3), 2.0)])
    out2 = str(tmp_path / "out2")
    stream2 = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        running_stats_stream(stream2, "user_id", "ts", "value"),
        out2,
        str(tmp_path / "ck"),
    )
    got2 = {r["user_id"]: r for r in spark.read.parquet(out2).collect()}
    assert got2[1]["n_total"] == 3  # 2 from state + 1 new
    assert got2[1]["sum_total"] == 42.0
    assert got2[1]["last_value"] == 2.0


def test_stream_interval_join(spark, tmp_path):
    """Clicks join to same-key purchases within the 1h lookback; outside
    the interval or other keys produce no pair. Result must equal the
    identical batch interval join."""
    from crypto_market_tracker_etl_spark.streaming.incremental import (
        stream_interval_join,
    )

    clicks_dir = str(tmp_path / "clicks")
    buys_dir = str(tmp_path / "buys")
    t = dt.datetime(2024, 1, 1, 12)
    clicks_rows = [
        (1, t, 10.0),
        (2, t, 20.0),  # no purchase for key 2
        (1, dt.datetime(2024, 1, 1, 14), 30.0),  # purchase too old by then
    ]
    buys_rows = [
        (1, dt.datetime(2024, 1, 1, 11, 30), 100.0),  # within 1h of click@12
        (3, dt.datetime(2024, 1, 1, 11, 45), 300.0),  # other key
    ]
    spark.createDataFrame(clicks_rows, "user_id long, ts timestamp, value double").coalesce(1).write.mode("append").parquet(clicks_dir)
    spark.createDataFrame(buys_rows, "user_id long, bts timestamp, amount double").coalesce(1).write.mode("append").parquet(buys_dir)

    clicks = spark.readStream.schema("user_id long, ts timestamp, value double").parquet(clicks_dir)
    buys = spark.readStream.schema("user_id long, bts timestamp, amount double").parquet(buys_dir)
    joined = stream_interval_join(clicks, buys, "user_id", "ts", "bts", "1 hour")
    out = str(tmp_path / "out")

    def write(batch, batch_id):
        batch.write.mode("append").parquet(out)

    q = (
        joined.writeStream.foreachBatch(write)
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)
    rows = spark.read.parquet(out).collect()
    assert [(r["user_id"], r["value"], r["right_amount"]) for r in rows] == [
        (1, 10.0, 100.0)
    ]


def test_dedup_stream_within_watermark(spark, tmp_path):
    """First occurrence per key is emitted once; replays inside the
    watermark are dropped, and state carries across restarts on one
    checkpoint."""
    from crypto_market_tracker_etl_spark.streaming.incremental import (
        dedup_stream_within_watermark,
    )

    src = str(tmp_path / "src")
    _write_stream_batch(
        spark,
        src,
        [
            (1, dt.datetime(2024, 1, 1, 10), 1.0),
            (1, dt.datetime(2024, 1, 1, 10), 1.0),  # in-batch dup
            (2, dt.datetime(2024, 1, 1, 10, 30), 2.0),
        ],
    )
    schema = "user_id long, ts timestamp, value double"
    out1 = str(tmp_path / "out1")
    stream = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        dedup_stream_within_watermark(stream, ["user_id"], "ts", "1 hour"),
        out1,
        str(tmp_path / "ck"),
    )
    got = spark.read.parquet(out1).collect()
    assert sorted(r["user_id"] for r in got) == [1, 2]

    # replay of key 1 within the watermark + one new key, same checkpoint
    _write_stream_batch(
        spark,
        src,
        [
            (1, dt.datetime(2024, 1, 1, 10, 45), 9.0),  # replayed key → dropped
            (3, dt.datetime(2024, 1, 1, 11), 3.0),
        ],
    )
    out2 = str(tmp_path / "out2")
    stream2 = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        dedup_stream_within_watermark(stream2, ["user_id"], "ts", "1 hour"),
        out2,
        str(tmp_path / "ck"),
    )
    got2 = spark.read.parquet(out2).collect()
    assert sorted(r["user_id"] for r in got2) == [3]


def test_running_stats_stream_string_key(spark, tmp_path):
    """Key output type derives from the input schema — string keys work."""
    from crypto_market_tracker_etl_spark.streaming.stateful import running_stats_stream

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [("a", dt.datetime(2024, 1, 1, 1), 10.0), ("a", dt.datetime(2024, 1, 1, 2), 4.0)],
        "asset_id string, ts timestamp, value double",
    ).write.mode("append").parquet(src)
    stream = spark.readStream.schema("asset_id string, ts timestamp, value double").parquet(src)
    out = str(tmp_path / "out")
    _drain_to_parquet(
        running_stats_stream(stream, "asset_id", "ts", "value"),
        out,
        str(tmp_path / "ck"),
    )
    got = {r["asset_id"]: r for r in spark.read.parquet(out).collect()}
    assert got["a"]["n_total"] == 2 and got["a"]["last_value"] == 4.0


def test_ewma_stream_matches_batch_fold(spark, tmp_path):
    """Streaming EWMA across two drains (state carried through the
    checkpoint) must equal the batch sorted-fold over the full history —
    exact float equality, both run the same multiply-add sequence."""
    from crypto_market_tracker_etl_spark.operators.change import ewma_last
    from crypto_market_tracker_etl_spark.streaming.stateful import ewma_stream

    src = str(tmp_path / "src")
    rows1 = [
        (1, dt.datetime(2024, 1, 1, 1), 10.0),
        (1, dt.datetime(2024, 1, 1, 2), 30.0),
        (2, dt.datetime(2024, 1, 1, 1), 5.0),
    ]
    _write_stream_batch(spark, src, rows1)
    schema = "user_id long, ts timestamp, value double"
    out1 = str(tmp_path / "out1")
    stream = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        ewma_stream(stream, "user_id", "ts", "value"), out1, str(tmp_path / "ck")
    )
    got1 = {r["user_id"]: r for r in spark.read.parquet(out1).collect()}
    assert got1[1]["ewma"] == 0.25 * 30.0 + 0.75 * 10.0  # 15.0
    assert got1[2]["ewma"] == 5.0 and not got1[2]["saw_late"]

    # drain 2: state must continue the fold, not restart it
    rows2 = [(1, dt.datetime(2024, 1, 1, 3), 2.0)]
    _write_stream_batch(spark, src, rows2)
    out2 = str(tmp_path / "out2")
    stream2 = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        ewma_stream(stream2, "user_id", "ts", "value"), out2, str(tmp_path / "ck")
    )
    got2 = {r["user_id"]: r for r in spark.read.parquet(out2).collect()}

    batch = spark.createDataFrame(rows1 + rows2, schema)
    want = {
        r["user_id"]: r["ewma"]
        for r in ewma_last(batch, ["user_id"], ["ts"], "value").collect()
    }
    assert got2[1]["ewma"] == want[1] and got2[1]["n_total"] == 3
    assert not got2[1]["saw_late"]


def test_ewma_stream_flags_late_rows(spark, tmp_path):
    from crypto_market_tracker_etl_spark.streaming.stateful import ewma_stream

    src = str(tmp_path / "src")
    _write_stream_batch(spark, src, [(1, dt.datetime(2024, 1, 1, 5), 10.0)])
    schema = "user_id long, ts timestamp, value double"
    stream = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        ewma_stream(stream, "user_id", "ts", "value"),
        str(tmp_path / "o1"),
        str(tmp_path / "ck"),
    )
    # batch 2 delivers a row OLDER than the folded high-water mark
    _write_stream_batch(spark, src, [(1, dt.datetime(2024, 1, 1, 1), 99.0)])
    stream2 = spark.readStream.schema(schema).parquet(src)
    _drain_to_parquet(
        ewma_stream(stream2, "user_id", "ts", "value"),
        str(tmp_path / "o2"),
        str(tmp_path / "ck"),
    )
    got = spark.read.parquet(str(tmp_path / "o2")).collect()[0]
    assert got["saw_late"] is True
    assert got["ewma"] == 0.25 * 99.0 + 0.75 * 10.0  # still folded, flagged


def test_histogram_drift_stream_equals_batch(spark, tmp_path):
    """The streaming drift counts, fed through the SAME metric aggregation
    as the batch operator, must equal the batch result exactly — including
    across multiple micro-batches with carried state."""
    import datetime as dt

    from crypto_market_tracker_etl_spark.operators.drift import (
        drift_metrics_from_counts,
        fixed_bin_histogram_drift,
    )
    from crypto_market_tracker_etl_spark.streaming.stateful import (
        histogram_drift_counts_stream,
    )

    boundary = dt.datetime(2024, 1, 2)
    rows = []
    for i in range(400):
        rows.append(
            (
                "click" if i % 2 == 0 else "view",
                dt.datetime(2024, 1, 1) + dt.timedelta(minutes=7 * i),
                float((i * 37) % 250) - 20.0,  # includes out-of-range values
            )
        )
    # missing-data policy + boundary precision probes (mirrored batch/stream):
    rows += [
        ("click", dt.datetime(2024, 1, 1, 5), None),  # NULL value → NULL bin
        ("view", dt.datetime(2024, 1, 3), float("nan")),  # NaN → NULL bin
        ("click", None, 50.0),  # NULL ts → dropped from both periods
        # 500µs past the boundary: current period at µs precision, but
        # reference period under ms-truncated comparison (the regression)
        ("view", boundary + dt.timedelta(microseconds=500), 50.0),
        ("click", boundary, 50.0),  # exactly ON the boundary → reference
    ]
    schema = "event_type string, ts timestamp, value double"
    batch_df = spark.createDataFrame(rows, schema)
    expected = {
        r.event_type: r
        for r in fixed_bin_histogram_drift(
            batch_df, ["event_type"], "ts", "value", 0.0, 200.0, 10, boundary
        ).collect()
    }

    src = str(tmp_path / "src")
    # two files → maxFilesPerTrigger=1 forces two micro-batches (state carry)
    spark.createDataFrame(rows[:250], schema).write.mode("append").parquet(src)
    spark.createDataFrame(rows[250:], schema).write.mode("append").parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = str(tmp_path / "out")
    _drain_to_parquet(
        histogram_drift_counts_stream(
            stream, "event_type", "ts", "value", 0.0, 200.0, 10, boundary
        ),
        out,
        str(tmp_path / "ck"),
    )
    # counts are cumulative snapshots: the final state per (key, bin) is the max
    final_counts = (
        spark.read.parquet(out)
        .groupBy("event_type", "bin")
        .agg(F.max("n_a").alias("n_a"), F.max("n_b").alias("n_b"))
    )
    got = {
        r.event_type: r
        for r in drift_metrics_from_counts(final_counts, ["event_type"]).collect()
    }
    assert set(got) == set(expected)
    for k in expected:
        e, g = expected[k], got[k]
        assert (g.n_bins, g.total_a, g.total_b) == (e.n_bins, e.total_a, e.total_b), k
        assert g.tvd == e.tvd and g.chi2 == e.chi2 and g.ks == e.ks, (k, g, e)


def test_stream_static_contamination_join(spark, tmp_path):
    """Streaming decontamination: incoming documents join a STATIC
    broadcast eval-shingle table (Spark's stream-static join — no state
    store needed; the static side is re-broadcast per micro-batch).
    Matches the batch contamination semantics on the same rows."""
    from crypto_market_tracker_etl_spark.operators.dedup import word_shingles

    docs = [
        (1, "the quick brown fox jumps over the lazy dog"),
        (2, "lorem ipsum dolor sit amet consectetur adipiscing elit"),
        (3, "the quick brown fox jumps over a sleeping cat"),
        (4, "completely unrelated text with no overlap at all here"),
    ]
    eval_docs = [(100, "the quick brown fox leaps over the lazy dog")]
    ev_static = (
        spark.createDataFrame(eval_docs, "doc_id long, text string")
        .select(
            F.col("doc_id").alias("eval_id"),
            F.explode(word_shingles(F.col("text"))).alias("shingle"),
        )
    )

    src = str(tmp_path / "docs_src")
    spark.createDataFrame(docs[:2], "doc_id long, text string").write.mode(
        "append"
    ).parquet(src)
    spark.createDataFrame(docs[2:], "doc_id long, text string").write.mode(
        "append"
    ).parquet(src)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src)
        .select("doc_id", F.explode(word_shingles(F.col("text"))).alias("shingle"))
        .join(F.broadcast(ev_static), "shingle")
        .groupBy("doc_id", "eval_id")
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    out = str(tmp_path / "cont_out")
    q = (
        stream.writeStream.outputMode("complete")
        .trigger(availableNow=True)
        .format("memory")
        .queryName("cont")
        .start()
    )
    await_drain(q, 180)
    got = {
        (r.doc_id, r.eval_id): r.n_shared
        for r in spark.sql("select * from cont").collect()
    }
    # docs 1 and 3 share shingles with the eval doc; 2 and 4 do not
    assert set(k[0] for k in got) == {1, 3}
    assert got[(1, 100)] >= 2  # shares several trigrams
    assert (4, 100) not in got


def test_cdc_stream_equals_batch(spark, tmp_path):
    """cdc_apply_stream's compacted state must equal cdc_compact exactly —
    across micro-batches, with DELIBERATELY out-of-order delivery (the
    state is a commutative monoid, so disorder must not matter), a delete→
    resurrect sequence, a trailing tombstone, a NULL value on the winning
    op, and NULL-ts rows dropped by both sides."""
    import datetime as dt

    from crypto_market_tracker_etl_spark.operators.cdc import cdc_compact
    from crypto_market_tracker_etl_spark.streaming.stateful import (
        cdc_apply_stream,
    )

    t0 = dt.datetime(2024, 1, 1)

    def r(uid, sec, eid, op, v):
        return (uid, t0 + dt.timedelta(seconds=sec), eid, op, v)

    rows = [
        r(1, 10, 100, "I", 1.0),   # u1: plain insert→update
        r(1, 20, 101, "U", 2.0),
        r(2, 10, 200, "I", 5.0),   # u2: delete then RESURRECT
        r(2, 20, 201, "D", None),
        r(2, 30, 202, "I", 7.0),
        r(3, 10, 300, "I", 9.0),   # u3: trailing tombstone
        r(3, 20, 301, "D", None),
        r(4, 10, 400, "I", None),  # u4: NULL value on the winning op
        (5, None, 500, "I", 3.0),  # u5: only a NULL-ts row → absent
        (1, None, 102, "U", 99.0),  # NULL-ts never wins for u1 either
    ]
    schema = "user_id long, ts timestamp, event_id long, op string, value double"
    batch_df = spark.createDataFrame(rows, schema)
    expected = {
        row["user_id"]: row
        for row in cdc_compact(
            batch_df, "user_id", "ts", "event_id", "op", "value"
        ).collect()
    }
    assert set(expected) == {1, 2, 3, 4}
    assert expected[2]["live"] and expected[2]["final_value"] == 7.0
    assert not expected[3]["live"] and expected[3]["final_value"] is None
    assert expected[4]["live"] and expected[4]["final_value"] is None

    # two micro-batches in REVERSED time order: later ops arrive first
    src = str(tmp_path / "cdc_src")
    later = [x for x in rows if x[1] is not None and x[1].second >= 20]
    earlier = [x for x in rows if x not in later]
    spark.createDataFrame(later, schema).write.mode("append").parquet(src)
    spark.createDataFrame(earlier, schema).coalesce(1).write.mode(
        "append"
    ).parquet(src)
    stream = spark.readStream.schema(schema).option(
        "maxFilesPerTrigger", 1
    ).parquet(src)
    out = str(tmp_path / "cdc_out")
    _drain_to_parquet(
        cdc_apply_stream(stream, "user_id", "ts", "event_id", "op", "value"),
        out,
        str(tmp_path / "cdc_ck"),
    )
    import pandas as pd

    emitted = spark.read.parquet(out).toPandas()
    # latest emission per key (highest n_ops) is the compacted state
    final = emitted.sort_values("n_ops").groupby("user_id").tail(1)
    assert set(final["user_id"]) == set(expected)
    for _, row in final.iterrows():
        exp = expected[row["user_id"]]
        assert row["n_ops"] == exp["n_ops"], row["user_id"]
        assert row["n_deletes"] == exp["n_deletes"]
        assert row["live"] == exp["live"]
        if exp["final_value"] is None:
            assert pd.isna(row["final_value"])
        else:
            assert row["final_value"] == exp["final_value"]
        if exp["final_ts"] is None:
            assert pd.isna(row["final_ts"])
        else:
            assert pd.Timestamp(exp["final_ts"]) == row["final_ts"]


def test_cdc_stream_type_generic(spark, tmp_path):
    """The streaming twin must accept the same column types the batch
    operator does — string values and string ids included (the review
    pass found float()/int() coercions that crashed on them)."""
    import datetime as dt

    from crypto_market_tracker_etl_spark.operators.cdc import cdc_compact
    from crypto_market_tracker_etl_spark.streaming.stateful import (
        cdc_apply_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0 + dt.timedelta(seconds=10), "e1", "I", "hello"),
        (1, t0 + dt.timedelta(seconds=20), "e2", "U", "world"),
        (2, t0 + dt.timedelta(seconds=10), "e3", "I", "bye"),
        (2, t0 + dt.timedelta(seconds=20), "e4", "D", None),
    ]
    schema = "user_id long, ts timestamp, event_id string, op string, value string"
    expected = {
        r["user_id"]: r
        for r in cdc_compact(
            spark.createDataFrame(rows, schema),
            "user_id", "ts", "event_id", "op", "value",
        ).collect()
    }
    src = str(tmp_path / "cdcg_src")
    spark.createDataFrame(rows, schema).write.parquet(src)
    out = str(tmp_path / "cdcg_out")
    _drain_to_parquet(
        cdc_apply_stream(
            spark.readStream.schema(schema).parquet(src),
            "user_id", "ts", "event_id", "op", "value",
        ),
        out,
        str(tmp_path / "cdcg_ck"),
    )
    got = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == set(expected) == {1, 2}
    for uid in got:
        assert got[uid]["live"] == expected[uid]["live"]
        assert got[uid]["final_value"] == expected[uid]["final_value"]
    assert got[1]["final_value"] == "world" and got[2]["final_value"] is None


def test_manifest_cdf_streaming_source(spark, tmp_path):
    """The table's change feed as a genuine Structured Streaming source:
    version offsets, checkpointed resume across separate availableNow
    drains, I/U/D with delete pre-images, and a no-change drain emitting
    nothing. (Mirrors changes() semantics through the DataSource API.)"""
    import datetime as dtm

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import (
        register_cdf,
    )

    register_cdf(spark)
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    S = "k string, ts timestamp, ver int, v double"
    d1, d2 = dtm.datetime(2024, 1, 1, 10), dtm.datetime(2024, 1, 2, 10)
    sink.upsert(spark.createDataFrame([("a", d1, 1, 1.0), ("b", d2, 1, 2.0)], S))

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
        stream = (
            spark.readStream.format("manifest_cdf")
            .option("path", str(tmp_path / "tbl"))
            .option("keys", "k")
            .load()
        )
        _drain_to_parquet(stream, out, ck)
        return sorted(
            (r["k"], r["_op"], r["v"], r["ver"])
            for r in spark.read.parquet(out).collect()
        )

    assert drain() == [("a", "I", 1.0, 1), ("b", "I", 2.0, 1)]
    sink.upsert(spark.createDataFrame([("b", d2 + dtm.timedelta(hours=1), 2, 20.0)], S))
    sink.delete(spark.createDataFrame([("a", d1, 1, 0.0)], S))
    # resumed from the checkpointed version offset: only the new diff
    assert drain() == [
        ("a", "D", 1.0, 1),  # pre-image values on the delete
        ("a", "I", 1.0, 1),
        ("b", "I", 2.0, 1),
        ("b", "U", 20.0, 2),
    ]
    # nothing-new drain appends nothing
    assert drain() == [
        ("a", "D", 1.0, 1),
        ("a", "I", 1.0, 1),
        ("b", "I", 2.0, 1),
        ("b", "U", 20.0, 2),
    ]


def test_cdf_stream_feeds_stateful_cdc_consumer(spark, tmp_path):
    """End-to-end composition: table commits → manifest_cdf stream →
    cdc_apply_stream (stateful compaction keyed on the feed's ops). The
    consumer's final live-set must equal the table's current contents —
    the round-trip the table format + streaming tier exist for."""
    import datetime as dtm

    from pyspark.sql import functions as F

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import register_cdf
    from crypto_market_tracker_etl_spark.streaming.stateful import (
        cdc_apply_stream,
    )

    register_cdf(spark)
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    S = "k string, ts timestamp, ver int, v double"
    d1, d2 = dtm.datetime(2024, 1, 1, 10), dtm.datetime(2024, 1, 2, 10)
    out = str(tmp_path / "state_out")

    def drain():
        feed = (
            spark.readStream.format("manifest_cdf")
            .option("path", str(tmp_path / "tbl"))
            .option("keys", "k")
            .load()
            # adapt the feed's columns to the CDC consumer's contract:
            # op from _op, and _commit_version as the tie-break id — the
            # D pre-image's own ts/ver predate the insert it deletes, so
            # only the commit version can order them correctly
            .select(
                "k", "ts", F.col("_commit_version").alias("cv"), "v",
                F.col("_op").alias("op"),
            )
        )
        _drain_to_parquet(
            cdc_apply_stream(feed, "k", "ts", "cv", "op", "v"),
            out,
            str(tmp_path / "state_ck"),
        )

    sink.upsert(spark.createDataFrame([("a", d1, 1, 1.0), ("b", d2, 1, 2.0)], S))
    drain()  # the delete must land in a LATER offset window than a's
    # insert: the feed diffs snapshots (netting intermediate history), so
    # an insert+delete inside one window would cancel to nothing
    sink.upsert(spark.createDataFrame([("b", d2 + dtm.timedelta(hours=1), 2, 20.0)], S))
    sink.delete(spark.createDataFrame([("a", d1, 1, 0.0)], S))
    drain()
    emitted = spark.read.parquet(out).toPandas()
    final = emitted.sort_values("n_ops").groupby("k").tail(1)
    live = {r["k"]: r["final_value"] for _, r in final.iterrows() if r["live"]}
    table_now = {r["k"]: r["v"] for r in sink.read().collect()}
    assert live == table_now == {"b": 20.0}
    dead = {r["k"] for _, r in final.iterrows() if not r["live"]}
    assert dead == {"a"}


def test_cdf_source_schema_evolution_and_bigint_exactness(spark, tmp_path):
    """Two review-pass repros: (a) additive schema evolution must not
    poison the stream (one diff side predates the column; the union
    schema carries it, old rows read NULL); (b) int64 values beyond 2^53
    must survive exactly AND a +1 update on such a value must still be
    detected (float64 NaN-promotion would corrupt the value and compare
    2^60 == 2^60+1 equal, suppressing the update)."""
    import datetime as dtm

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import register_cdf

    register_cdf(spark)
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    d1, d2 = dtm.datetime(2024, 1, 1, 10), dtm.datetime(2024, 1, 2, 10)
    big = 2**60
    sink.upsert(spark.createDataFrame(
        [("a", d1, 1, big)], "k string, ts timestamp, ver int, big long"))
    sink.upsert(spark.createDataFrame(
        [("b", d2, 1, big, 7.0)],
        "k string, ts timestamp, ver int, big long, extra double"))
    sink.upsert(spark.createDataFrame(
        [("a", d1, 2, big + 1)], "k string, ts timestamp, ver int, big long"))

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    stream = (
        spark.readStream.format("manifest_cdf")
        .option("path", str(tmp_path / "tbl"))
        .option("keys", "k")
        .load()
    )
    assert "extra" in stream.columns  # union schema, not an arbitrary file
    _drain_to_parquet(stream, out, ck)
    got = {r["k"]: r for r in spark.read.parquet(out).collect()}
    assert got["a"]["big"] == big + 1 and got["a"]["_op"] == "I"
    assert got["a"]["extra"] is None  # predates the column: NULL, no crash
    assert got["b"]["big"] == big and got["b"]["extra"] == 7.0
    # the update path: bump the big value by 1 — must surface as U exactly
    sink.upsert(spark.createDataFrame(
        [("b", d2 + dtm.timedelta(hours=1), 2, big + 1, 7.0)],
        "k string, ts timestamp, ver int, big long, extra double"))
    _drain_to_parquet(
        spark.readStream.format("manifest_cdf")
        .option("path", str(tmp_path / "tbl"))
        .option("keys", "k")
        .load(),
        out,
        ck,
    )
    rows = [r for r in spark.read.parquet(out).collect() if r["_op"] == "U"]
    assert [(r["k"], r["big"]) for r in rows] == [("b", big + 1)]


def test_cdf_null_to_value_flip_on_int_column(spark, tmp_path):
    """Regression (ADVICE r4, high): a nullable Int64 column NULL on
    exactly one diff side made the update-detection compare yield pd.NA,
    and bool(pd.NA) raised — failing the micro-batch AND every checkpoint
    replay identically (a poison-pill wedge). Both flip directions must
    surface as U rows instead."""
    import datetime as dtm

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import register_cdf

    register_cdf(spark)
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    S = "k string, ts timestamp, ver int, n long"
    d1 = dtm.datetime(2024, 1, 1, 10)
    sink.upsert(spark.createDataFrame([("a", d1, 1, None), ("b", d1, 1, 5)], S))

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")

    def drain():
        _drain_to_parquet(
            spark.readStream.format("manifest_cdf")
            .option("path", str(tmp_path / "tbl"))
            .option("keys", "k")
            .load(),
            out,
            ck,
        )

    drain()
    # NULL→value on a, value→NULL on b — the exact NA-compare shapes
    sink.upsert(spark.createDataFrame([("a", d1, 2, 7), ("b", d1, 2, None)], S))
    drain()
    ups = sorted(
        (r["k"], r["n"])
        for r in spark.read.parquet(out).collect()
        if r["_op"] == "U"
    )
    assert ups == [("a", 7), ("b", None)]


def test_cdf_schema_widening_across_commits(spark, tmp_path):
    """Regression (r3 verdict watch-list c): a column whose type WIDENED
    across commits (int→long) used to keep the stale first-appearance
    type silently. The union schema must resolve to the wider type and
    deliver exact values from both vintages; a non-widenable change
    (long→string) must raise loudly instead of misreading files."""
    import datetime as dtm

    import pytest

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import (
        _table_schema,
        register_cdf,
    )

    register_cdf(spark)
    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    d1, d2 = dtm.datetime(2024, 1, 1, 10), dtm.datetime(2024, 1, 2, 10)
    sink.upsert(spark.createDataFrame(
        [("a", d1, 1, 3)], "k string, ts timestamp, ver int, n int"))
    big = 2**60
    sink.upsert(spark.createDataFrame(
        [("b", d2, 1, big)], "k string, ts timestamp, ver int, n long"))

    schema = _table_schema(str(tmp_path / "tbl"))
    assert schema["n"].dataType.typeName() == "long"  # widened, not stale

    out, ck = str(tmp_path / "out"), str(tmp_path / "ck")
    _drain_to_parquet(
        spark.readStream.format("manifest_cdf")
        .option("path", str(tmp_path / "tbl"))
        .option("keys", "k")
        .load(),
        out,
        ck,
    )
    got = {r["k"]: r["n"] for r in spark.read.parquet(out).collect()}
    assert got == {"a": 3, "b": big}  # both vintages exact under long

    # non-widenable rewrite: loud, not silent misread
    sink2 = ManifestParquetSink(
        spark, str(tmp_path / "tbl2"), keys=["k"], ts_col="ts", order=["ver"]
    )
    sink2.upsert(spark.createDataFrame(
        [("a", d1, 1, 3)], "k string, ts timestamp, ver int, n long"))
    sink2.upsert(spark.createDataFrame(
        [("b", d2, 1, "x")], "k string, ts timestamp, ver int, n string"))
    with pytest.raises(ValueError, match="changes type across commits"):
        _table_schema(str(tmp_path / "tbl2"))


def test_cdc_stream_null_id_on_ts_tie(spark, tmp_path):
    """Regression (ADVICE r4, low): a NULL tie-break id on a ts tie used
    to raise TypeError (None vs int unorderable) inside the stateful
    update fn. The streaming twin must instead mirror the batch window's
    nulls-last desc argmax: the non-NULL id wins the tie."""
    import datetime as dt

    from crypto_market_tracker_etl_spark.operators.cdc import cdc_compact
    from crypto_market_tracker_etl_spark.streaming.stateful import (
        cdc_apply_stream,
    )

    t0 = dt.datetime(2024, 1, 1)
    rows = [
        (1, t0, None, "I", 1.0),   # NULL id arrives FIRST on the tie
        (1, t0, 101, "U", 2.0),    # same ts, non-NULL id: must win
        (2, t0, 200, "I", 5.0),
        (2, t0, None, "U", 6.0),   # NULL id arrives second: must lose
    ]
    schema = "user_id long, ts timestamp, event_id long, op string, value double"
    expected = {
        r["user_id"]: r
        for r in cdc_compact(
            spark.createDataFrame(rows, schema),
            "user_id", "ts", "event_id", "op", "value",
        ).collect()
    }
    src = str(tmp_path / "cdcn_src")
    spark.createDataFrame(rows, schema).write.parquet(src)
    out = str(tmp_path / "cdcn_out")
    _drain_to_parquet(
        cdc_apply_stream(
            spark.readStream.schema(schema).parquet(src),
            "user_id", "ts", "event_id", "op", "value",
        ),
        out,
        str(tmp_path / "cdcn_ck"),
    )
    got = {r["user_id"]: r for r in spark.read.parquet(out).collect()}
    assert set(got) == {1, 2}
    for uid in got:
        assert got[uid]["final_value"] == expected[uid]["final_value"]
    assert got[1]["final_value"] == 2.0 and got[2]["final_value"] == 5.0


def test_cdf_partitioned_reader_plans_per_day_and_matches_changes(spark, tmp_path):
    """The cdf reader is the executor-side partitioned one:
    partitions(start, end) must plan exactly one InputPartition per
    CHANGED day (the driver reads only the two ~KB manifests), and a
    streamed drain must produce exactly the batch ``changes()`` rows."""
    import datetime as dtm

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import (
        ManifestCdfDataSource,
        ManifestCdfPartitionedReader,
        register_cdf,
    )

    register_cdf(spark)
    tbl = str(tmp_path / "tbl")
    sink = ManifestParquetSink(
        spark, tbl, keys=["k"], ts_col="ts", order=["ver"]
    )
    S = "k string, ts timestamp, ver int, v double"
    days = [dtm.datetime(2024, 1, d, 10) for d in (1, 2, 3)]
    sink.upsert(spark.createDataFrame(
        [(f"k{d}", days[d], 1, float(d)) for d in range(3)], S))
    # second commit touches only days 0 and 2
    sink.upsert(spark.createDataFrame(
        [("k0", days[0], 2, 10.0), ("x2", days[2], 1, 20.0)], S))

    src = ManifestCdfDataSource({"path": tbl, "keys": "k"})
    reader = src.streamReader(src.schema())
    assert isinstance(reader, ManifestCdfPartitionedReader)
    parts = reader.partitions({"version": 1}, {"version": 2})
    assert sorted(p.day for p in parts) == ["2024-01-01", "2024-01-03"]
    # full-history window: all three days changed vs the empty v0
    assert len(reader.partitions({"version": 0}, {"version": 2})) == 3
    # executor task body: one day's diff as ARROW batches, computable
    # without any Spark job (no per-row pickling on the scale path)
    batches = list(reader.read([p for p in parts if p.day == "2024-01-01"][0]))
    rows = [d for b in batches for d in b.to_pylist()]
    assert [(d["k"], d["_op"], d["v"]) for d in rows] == [("k0", "U", 10.0)]

    out = str(tmp_path / "out")
    _drain_to_parquet(
        spark.readStream.format("manifest_cdf")
        .option("path", tbl).option("keys", "k").load(),
        out, str(tmp_path / "ck"),
    )
    drained = sorted(
        # ts included: the reader emits through an arrow cast, and a
        # tz-interpretation skew there would shift instants on non-UTC
        # hosts
        (r["k"], r["_op"], r["v"], r["ts"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    )
    assert drained == _batch_feed(sink, 0, 2, ["k", "_op", "v", "ts"])


def test_cdf_within_day_split_slices_match_whole_diff(spark, tmp_path):
    """A changed day whose recorded rows exceed maxRowsPerTask plans as
    MULTIPLE key-hash slices (the r4 weak mark: one huge re-ingested day
    used to be a single task holding 2x the day in pandas). The slices
    must be disjoint, their union must equal the unsplit diff exactly,
    and a full streamed drain must match the batch ``changes()`` rows
    exactly — the deletion-vector D rows included in the sliced reads."""
    import datetime as dtm

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import (
        ManifestCdfDataSource,
        register_cdf,
    )

    register_cdf(spark)
    tbl = str(tmp_path / "tbl")
    # stats_cols non-empty => manifests record per-day row counts, which
    # is what the split planner sizes from
    sink = ManifestParquetSink(
        spark, tbl, keys=["k"], ts_col="ts", order=["ver"], stats_cols=["v"]
    )
    S = "k string, ts timestamp, ver int, v double"
    d1 = dtm.datetime(2024, 1, 1, 10)
    n = 800
    sink.upsert(spark.createDataFrame(
        [(f"k{i:04d}", d1, 1, float(i)) for i in range(n)], S))
    # v2: update 40 keys, insert 10, and DV-delete 5 — one changed day
    sink.upsert(spark.createDataFrame(
        [(f"k{i:04d}", d1, 2, float(i) + 0.5) for i in range(40)]
        + [(f"new{i}", d1, 1, 100.0 + i) for i in range(10)], S))
    sink.delete_fast(spark.createDataFrame(
        [(f"k{i:04d}", d1, 1, 0.0) for i in range(100, 105)], S))

    src = ManifestCdfDataSource(
        {"path": tbl, "keys": "k", "maxrowspertask": "200"}
    )
    reader = src.streamReader(src.schema())
    v = sink.current_version()
    parts = reader.partitions({"version": 1}, {"version": v})
    # ceil(810/200): 800 base + 10 inserted rows recorded; the 5 DV'd
    # keys suppress rows at read time but remove none physically
    assert len(parts) == 5
    assert {p.day for p in parts} == {"2024-01-01"}
    assert sorted(p.slice_idx for p in parts) == list(range(5))
    assert all(p.slice_n == 5 for p in parts)

    per_slice = [
        {(d["k"], d["_op"], d["v"]) for b in reader.read(p) for d in b.to_pylist()}
        for p in parts
    ]
    union = set().union(*per_slice)
    assert sum(len(s) for s in per_slice) == len(union)  # disjoint
    # unsplit reference: same reader, threshold high enough for one task
    whole_src = ManifestCdfDataSource({"path": tbl, "keys": "k"})
    whole = whole_src.streamReader(whole_src.schema())
    [wp] = whole.partitions({"version": 1}, {"version": v})
    assert wp.slice_n == 1
    ref = {(d["k"], d["_op"], d["v"]) for b in whole.read(wp) for d in b.to_pylist()}
    assert union == ref
    assert {op for (_, op, _) in ref} == {"U", "I", "D"}

    out = str(tmp_path / "out")
    _drain_to_parquet(
        spark.readStream.format("manifest_cdf")
        .option("path", tbl).option("keys", "k")
        .option("maxRowsPerTask", "200").load(),
        out, str(tmp_path / "ck"),
    )
    drained = sorted(
        (r["k"], r["_op"], r["v"], r["ts"], r["_commit_version"])
        for r in spark.read.parquet(out).collect()
    )
    assert drained == _batch_feed(sink, 0, v, ["k", "_op", "v", "ts"])


def test_key_slice_hash_null_batch_dtype_stable(tmp_path):
    """Regression (review r5): an INT key column NaN-promotes to float64
    in any Arrow batch containing a null key, which would render '5.0'
    where a null-free batch renders '5' — same key, different hash,
    different slice, so a changed key's old/new pair could split across
    tasks (spurious D in one, spurious I in another, ordering-dependent
    downstream). The sliced read converts with integer_object_nulls so a
    key's slice is identical whether or not its batch carries a null."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from crypto_market_tracker_etl_spark.sources.cdf_source import (
        _read_days_slice,
    )

    ids = list(range(200))
    old = pa.table({"k": ids + [None], "v": [float(i) for i in ids] + [0.0]})
    new = pa.table({"k": ids, "v": [float(i) + 1 for i in ids]})
    (tmp_path / "old").mkdir()
    (tmp_path / "new").mkdir()
    pq.write_table(old, str(tmp_path / "old" / "part-0.parquet"))
    pq.write_table(new, str(tmp_path / "new" / "part-0.parquet"))

    n = 4
    slices_of = {}
    for side in ("old", "new"):
        for i in range(n):
            got = _read_days_slice(
                str(tmp_path), {"d": side}, ["d"], ["k"], i, n
            )
            for k in got["k"].dropna():
                key = int(k)
                slices_of.setdefault(key, {})[side] = i
    # every non-null key: same slice on the null-carrying old side as on
    # the null-free new side, and all keys covered exactly once per side
    assert len(slices_of) == 200
    for k, sides in slices_of.items():
        assert sides["old"] == sides["new"], (k, sides)


def test_cdf_partitioned_reader_vacuumed_offset_fails_loudly(spark, tmp_path):
    """Replaying a window whose manifest vacuum removed must raise the
    documented resync error in the reader's planning step — same
    contract as changes_since_checkpoint."""
    import datetime as dtm

    import pytest

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import (
        ManifestCdfDataSource,
    )

    sink = ManifestParquetSink(
        spark, str(tmp_path / "tbl"), keys=["k"], ts_col="ts", order=["ver"]
    )
    S = "k string, ts timestamp, ver int, v double"
    d1 = dtm.datetime(2024, 1, 1, 10)
    for ver in (1, 2, 3):
        sink.upsert(spark.createDataFrame([("a", d1, ver, float(ver))], S))
    sink.vacuum(keep_versions=1, min_age_seconds=0.0)

    src = ManifestCdfDataSource({"path": str(tmp_path / "tbl"), "keys": "k"})
    reader = src.streamReader(src.schema())
    with pytest.raises(ValueError, match="vacuum retention"):
        reader.partitions({"version": 1}, {"version": 3})
    # the CURRENT window still plans fine
    assert reader.partitions({"version": 3}, {"version": 3}) == []


def test_cdf_stream_surfaces_delete_fast(spark, tmp_path):
    """A delete_fast commit repoints only the manifest's dvs section — the
    cdf stream must still surface the suppressed keys as _op='D' with
    pre-images, in a LATER offset window than the insert, and agree with
    the batch ``changes()`` of each window exactly."""
    import datetime as dtm

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.sources.cdf_source import register_cdf

    register_cdf(spark)
    tbl = str(tmp_path / "tbl")
    sink = ManifestParquetSink(
        spark, tbl, keys=["k"], ts_col="ts", order=["ver"]
    )
    S = "k string, ts timestamp, ver int, v double"
    d1 = dtm.datetime(2024, 1, 1, 10)

    def drain():
        out = str(tmp_path / "out")
        _drain_to_parquet(
            spark.readStream.format("manifest_cdf")
            .option("path", tbl).option("keys", "k").load(),
            out, str(tmp_path / "ck"),
        )
        return sorted(
            (r["k"], r["_op"], r["v"], r["_commit_version"])
            for r in spark.read.parquet(out).collect()
        )

    sink.upsert(spark.createDataFrame(
        [("a", d1, 1, 1.0), ("b", d1, 1, 2.0)], S))
    cols = ["k", "_op", "v"]
    first = _batch_feed(sink, 0, 1, cols)
    assert drain() == first == [("a", "I", 1.0, 1), ("b", "I", 2.0, 1)]

    sink.delete_fast(spark.createDataFrame([("a", d1, 1, 0.0)], S))
    want = [
        ("a", "D", 1.0, 2),  # pre-image from the still-unrewritten data
        ("a", "I", 1.0, 1),
        ("b", "I", 2.0, 1),
    ]
    assert drain() == sorted(first + _batch_feed(sink, 1, 2, cols)) == want
