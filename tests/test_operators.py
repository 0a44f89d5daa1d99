"""Unit tests for operators without a SQL oracle: generalized as-of join,
keyed merge, streaming, multimodal plumbing, market-view plans, LSH recall."""

from __future__ import annotations

import datetime as dt

import pytest
from pyspark.sql import functions as F

from crypto_market_tracker_etl_spark.catalog import load_table
from crypto_market_tracker_etl_spark.operators.asof import asof_join
from crypto_market_tracker_etl_spark.operators.upsert import merge_upsert
from crypto_market_tracker_etl_spark.multimodal.binary import (
    decode_media,
    documents_as_media,
    fake_decoder,
    frame_sample,
    real_decoder,
)
from crypto_market_tracker_etl_spark.plans.market_views import (
    v_daily_ohlc,
    v_latest_prices,
    v_price_change_24h,
    v_sparkline_7d,
)
from tests.conftest import SF_DIR, await_drain


def ts(h: int, m: int = 0) -> dt.datetime:
    return dt.datetime(2024, 1, 1, h, m)


def test_asof_join_directional_matches_pandas(spark):
    """forward/nearest as-of vs the pandas merge_asof model on the
    events data: clicks probed against purchases per user."""
    import pandas as pd

    from crypto_market_tracker_etl_spark.operators.asof import asof_join_directional

    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value", "event_type"
    )
    clicks = ev.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = ev.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    lp = clicks.toPandas().sort_values("ts")
    rp = buys.toPandas().sort_values("ts")
    for direction in ("backward", "forward", "nearest"):
        got = {
            (r.user_id, r.ts): r.value_asof
            for r in asof_join_directional(
                clicks, buys, ["user_id"], "ts", "ts", ["value"],
                direction=direction,
            ).collect()
        }
        model = pd.merge_asof(
            lp, rp, on="ts", by="user_id", direction=direction
        )
        want = {
            (r.user_id, r.ts): (None if pd.isna(r.value) else r.value)
            for r in model.itertuples()
        }
        assert got == want, direction


# ---------------------------------------------------------------- as-of join


@pytest.fixture(scope="module")
def quotes(spark):
    return spark.createDataFrame(
        [
            ("a", ts(9), 100.0),
            ("a", ts(11), 110.0),
            ("b", ts(10), 50.0),
        ],
        "key string, qts timestamp, quote double",
    )


def test_asof_join_backward(spark, quotes):
    probes = spark.createDataFrame(
        [("a", ts(8)), ("a", ts(9)), ("a", ts(10)), ("a", ts(12)), ("b", ts(10, 30)), ("c", ts(10))],
        "key string, pts timestamp",
    )
    out = {
        (r["key"], r["pts"]): r["quote_asof"]
        for r in asof_join(
            probes, quotes, ["key"], "pts", "qts", ["quote"]
        ).collect()
    }
    assert out[("a", ts(8))] is None  # before first quote
    assert out[("a", ts(9))] == 100.0  # exact-timestamp quote visible
    assert out[("a", ts(10))] == 100.0  # most recent prior
    assert out[("a", ts(12))] == 110.0
    assert out[("b", ts(10, 30))] == 50.0
    assert out[("c", ts(10))] is None  # key with no quotes at all


def test_asof_join_tolerance(spark, quotes):
    probes = spark.createDataFrame(
        [("a", ts(10)), ("a", ts(13))], "key string, pts timestamp"
    )
    out = {
        r["pts"]: r["quote_asof"]
        for r in asof_join(
            probes,
            quotes,
            ["key"],
            "pts",
            "qts",
            ["quote"],
            tolerance=F.expr("INTERVAL 90 MINUTES"),
        ).collect()
    }
    assert out[ts(10)] == 100.0  # 1h old, inside tolerance
    assert out[ts(13)] is None  # 2h old quote, outside tolerance


# ------------------------------------------------------------- keyed merge


def test_merge_upsert_tie_prefers_new(spark):
    old = spark.createDataFrame([("k1", 1, "old")], "k string, v int, who string")
    new = spark.createDataFrame([("k1", 1, "new")], "k string, v int, who string")
    out = merge_upsert(old, new, ["k"], ["v"]).collect()
    assert len(out) == 1 and out[0]["who"] == "new"


def test_connected_components_multihop(spark):
    """Min-label must propagate across chains (diameter > 1), handle
    disjoint components, and converge before max_iter."""
    from crypto_market_tracker_etl_spark.operators.dedup import connected_components

    pairs = spark.createDataFrame(
        # chain 5-4-3-2-1 (diameter 4), pair (10,11), triangle (20,21,22)
        [(4, 5), (3, 4), (2, 3), (1, 2), (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long",
    )
    got = {r["node"]: r["component"] for r in connected_components(pairs).collect()}
    assert got == {
        1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
        10: 10, 11: 10,
        20: 20, 21: 20, 22: 20,
    }


def test_simhash_pairs_bucket_cap_bounds_degenerate_corpus(spark):
    """A duplicate-heavy corpus (one distinct text per 50 docs) explodes
    the banded pair space; the bucket cap bounds it deterministically."""
    from crypto_market_tracker_etl_spark.operators.dedup import (
        simhash,
        simhash_near_dups,
    )

    docs = spark.range(500).select(
        F.col("id").alias("doc_id"),
        F.lit("s").alias("source"),
        F.concat(F.lit("repeated text block number "), (F.col("id") % 10).cast("string")).alias("text"),
    )
    hashed = simhash(docs, bits=32)
    capped = simhash_near_dups(
        hashed, docs, max_hamming=4, bucket_cap=8
    ).count()
    uncapped = simhash_near_dups(hashed, docs, max_hamming=4).count()
    # uncapped: at least the full quadratic pair set within each clone-set
    # (plus cross-set pairs whose fingerprints are also close)
    assert uncapped >= 10 * (50 * 49) // 2
    assert 0 < capped < uncapped  # the cap bounds degenerate buckets


def test_keep_cluster_representatives(spark):
    from crypto_market_tracker_etl_spark.operators.dedup import (
        connected_components,
        keep_cluster_representatives,
    )

    docs = spark.createDataFrame(
        [(i, f"d{i}") for i in range(1, 7)], "doc_id long, text string"
    )
    pairs = spark.createDataFrame([(1, 2), (2, 3), (5, 6)], "id_a long, id_b long")
    comps = connected_components(pairs)
    kept = sorted(
        r["doc_id"] for r in keep_cluster_representatives(docs, comps).collect()
    )
    assert kept == [1, 4, 5]  # cluster minima {1,5} + unclustered {4}


def test_connected_components_random_model(spark):
    """Random pair graphs vs a plain-Python union-find (seeded, 30 cases)."""
    import random

    from crypto_market_tracker_etl_spark.operators.dedup import connected_components

    rng = random.Random(42)
    for _ in range(6):
        n_nodes = rng.randint(2, 30)
        edges = sorted(
            {
                tuple(sorted(rng.sample(range(n_nodes), 2)))
                for _ in range(rng.randint(1, 40))
            }
        )
        parent = list(range(n_nodes))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in edges:
            parent[find(a)] = find(b)
        touched = {x for e in edges for x in e}
        expect = {}
        for x in touched:
            root = find(x)
            expect.setdefault(root, []).append(x)
        want = {
            x: min(members)
            for members in expect.values()
            for x in members
        }
        pairs = spark.createDataFrame(edges, "id_a long, id_b long")
        got = {
            r["node"]: r["component"] for r in connected_components(pairs).collect()
        }
        assert got == want, (edges, got, want)


def test_moving_avg_matches_pandas_rolling(spark):
    """Window-frame moving average vs the pandas rolling model."""
    from crypto_market_tracker_etl_spark.queries import q_moving_avg

    got = (
        q_moving_avg(spark, SF_DIR)
        .toPandas()
        .sort_values(["user_id", "event_id"])
        .reset_index(drop=True)
    )
    ev = (
        load_table(spark, SF_DIR, "events")
        .select("user_id", "event_id", "ts", "value")
        .toPandas()
        .sort_values(["user_id", "ts", "event_id"])
    )
    model = (
        ev.groupby("user_id")["value"]
        .rolling(7, min_periods=1)
        .mean()
        .round(4)
        .reset_index(level=0, drop=True)
    )
    ev = ev.assign(model=model).sort_values(["user_id", "event_id"]).reset_index(drop=True)
    assert (got["mavg_7"] - ev["model"]).abs().max() < 1e-9


def _near_dup_corpus(spark):
    """documents ∪ near-dup copies (first two words dropped, id+100000) so
    the LSH pair set is non-empty — the augmented-corpus model from
    queries_ext."""
    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.concat_ws(
            " ",
            F.expr("slice(split(text, ' '), 3, greatest(size(split(text, ' ')) - 2, 0))"),
        ).alias("text"),
    )
    return docs.unionByName(mutated)


def _assert_store_pairs_equal_full(spark, tmp_path, corpus):
    from crypto_market_tracker_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from crypto_market_tracker_etl_spark.operators.incremental_dedup import (
        MinHashSignatureStore,
    )

    a = corpus.filter(F.col("doc_id") % 2 == 0)
    b = corpus.filter(F.col("doc_id") % 2 == 1)
    store = MinHashSignatureStore(spark, str(tmp_path / "sigs"))
    got = set()
    for batch in (a, b):
        new_sigs = store.upsert_batch(batch)
        got |= {
            (r.id_a, r.id_b) for r in store.incremental_pairs(new_sigs).collect()
        }
    full = lsh_candidate_pairs(minhash_signatures(corpus))
    want = {(r.id_a, r.id_b) for r in full.collect()}
    assert want, "augmented corpus must produce candidate pairs"
    assert got == want


def test_minhash_store_incremental_equals_full(spark, tmp_path):
    """Two incremental batches through the signature store must emit, in
    union, exactly the from-scratch banded candidate-pair set."""
    _assert_store_pairs_equal_full(spark, tmp_path, _near_dup_corpus(spark))


def test_minhash_store_incremental_equals_full_small(spark, tmp_path):
    """The same equality over the first 60 documents and their near-dup
    copies: the default tier's seconds-scale case."""
    corpus = _near_dup_corpus(spark).filter(F.col("doc_id") % 100000 < 60)
    _assert_store_pairs_equal_full(spark, tmp_path, corpus)


def test_minhash_store_signs_only_new_or_changed(spark, tmp_path):
    """Re-delivering an unchanged batch signs nothing; a changed doc is
    re-signed and its new signature shadows the old one on read."""
    from crypto_market_tracker_etl_spark.operators.incremental_dedup import (
        MinHashSignatureStore,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    n = docs.count()
    store = MinHashSignatureStore(spark, str(tmp_path / "sigs"))
    assert store.upsert_batch(docs).count() == n
    assert store.upsert_batch(docs).count() == 0  # unchanged → no work
    changed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 1, F.concat(F.col("text"), F.lit(" edited")))
        .otherwise(F.col("text")),
    )
    resigned = store.upsert_batch(changed)
    assert resigned.count() == 1
    assert store.read().count() == n  # latest-per-doc view, no duplicates
    fp = {r.doc_id: r.content_fp for r in store.read().collect()}
    assert fp[1] == resigned.collect()[0].content_fp


def test_minhash_store_delete_docs_rewrites_only_victim_dirs(spark, tmp_path):
    """delete_docs over three batch directories, one holding no victim:
    it rewrites exactly the two that do (the third keeps its directory),
    returns 2, and leaves every other signature row in place."""
    import os

    from crypto_market_tracker_etl_spark.operators.incremental_dedup import (
        MinHashSignatureStore,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    store = MinHashSignatureStore(spark, str(tmp_path / "sigs"))
    for r in range(3):
        store.upsert_batch(docs.filter(F.col("doc_id") % 3 == r))
    dirs = store.manifest.dirs(store.STORE)
    assert len(dirs) == 3
    ids = sorted(r.doc_id for r in docs.select("doc_id").collect())
    victims = [i for i in ids if i % 3 == 0][:2]
    victims += [i for i in ids if i % 3 == 1][:1]
    before = {(r.doc_id, tuple(r.minhash)) for r in store.read().collect()}

    assert store.delete_docs(victims + [-1]) == 2
    after = store.manifest.dirs(store.STORE)
    assert len(after) == 3 and [d for d in dirs if d in after] == [dirs[2]]
    assert {(r.doc_id, tuple(r.minhash)) for r in store.read().collect()} == {
        x for x in before if x[0] not in victims
    }
    assert store.delete_docs(victims) == 0
    assert sorted(os.listdir(tmp_path / "sigs" / "data")) == sorted(
        os.path.basename(d) for d in after
    )


def test_chunk_documents_invariants(spark):
    """Chunking must tile the token stream: chunk 0 starts the doc, full
    chunks are exactly chunk_tokens long, consecutive chunks overlap by
    exactly `overlap` tokens, the tail reaches the last token, and a
    short doc yields one whole-doc chunk. Bad params raise."""
    import pytest as _pytest

    from crypto_market_tracker_etl_spark.operators.chunking import chunk_documents

    rows = [
        (1, " ".join(f"t{i}" for i in range(100))),  # multi-chunk
        (2, " ".join(f"s{i}" for i in range(64))),   # exactly one chunk
        (3, "a b c"),                                 # short doc
    ]
    docs = spark.createDataFrame(rows, "doc_id int, text string")
    out = chunk_documents(docs, chunk_tokens=64, overlap=16)
    by_doc: dict[int, list] = {}
    for r in out.collect():
        by_doc.setdefault(r.doc_id, []).append(r)
    for rs in by_doc.values():
        rs.sort(key=lambda r: r.chunk_id)

    assert [r.n_chunk_toks for r in by_doc[1]] == [64, 52]
    c0, c1 = (r.chunk_text.split(" ") for r in by_doc[1])
    assert c0[0] == "t0" and c1[-1] == "t99"
    assert c0[-16:] == c1[:16]  # exact overlap
    assert [r.n_chunk_toks for r in by_doc[2]] == [64]
    assert [r.chunk_text for r in by_doc[3]] == ["a b c"]
    with _pytest.raises(ValueError):
        chunk_documents(docs, chunk_tokens=16, overlap=16)


def test_ivf_training_descends_and_beats_chance(spark):
    """Learned-centroid IVF (no bit-exact oracle — parallel double sums):
    Lloyd's objective must strictly descend from the seeds, and trained
    nprobe=2 recall vs brute-force top-3 must beat the chance baseline
    (nprobe/k = 25% of the corpus scanned) with recall monotone in nprobe.
    The sf0.001 embeddings are near-uniform random — the IVF worst case —
    so the bounds are deliberately conservative; all inputs deterministic."""
    from crypto_market_tracker_etl_spark.operators.ivf import (
        ivf_knn,
        kmeans_objective,
        seed_centroids,
        train_centroids,
    )
    from crypto_market_tracker_etl_spark.operators.similarity import brute_knn

    emb = load_table(spark, SF_DIR, "embeddings")
    seeds = seed_centroids(emb, 8)
    trained = train_centroids(emb, 8, iters=3)
    assert kmeans_objective(emb, trained) < kmeans_objective(emb, seeds) - 0.01

    q = emb.filter(F.col("vec_id") % 50 == 0)
    exact = {(r.query_id, r.neighbor_id) for r in brute_knn(emb, q, 3).collect()}
    recalls = {}
    for nprobe in (1, 2, 3):
        got = {
            (r.query_id, r.neighbor_id)
            for r in ivf_knn(emb, q, trained, 3, nprobe=nprobe).collect()
        }
        recalls[nprobe] = len(exact & got) / len(exact)
    assert recalls[2] >= 0.3, recalls
    assert recalls[1] <= recalls[2] <= recalls[3], recalls


def test_quantized_vectors_bound_error_and_preserve_neighbors(spark):
    """Int8 quantization invariants: per-element reconstruction error is
    bounded by one code unit (scale/127 — floor error), and brute-force
    top-3 over DEQUANTIZED vectors largely agrees with full precision
    (random near-orthogonal vectors are the hardest case: neighbor gaps
    are tiny, so the bound is deliberately loose)."""
    from crypto_market_tracker_etl_spark.functions.vector import (
        as_double,
        dequantize,
        quantize_int8,
        quantize_scale,
    )
    from crypto_market_tracker_etl_spark.operators.similarity import brute_knn

    emb = load_table(spark, SF_DIR, "embeddings").select(
        "vec_id", as_double(F.col("embedding")).alias("v")
    )
    q = emb.withColumn("scale", quantize_scale(F.col("v")))
    q = q.withColumn("codes", quantize_int8(F.col("v"), F.col("scale")))
    worst = q.select(
        F.array_max(
            F.zip_with(
                F.col("v"),
                dequantize(F.col("codes"), F.col("scale")),
                lambda x, y: F.abs(x - y) - F.col("scale") / 127.0,
            )
        ).alias("excess")
    ).agg(F.max("excess").alias("m")).collect()[0]["m"]
    assert worst <= 1e-12, worst

    deq = q.select("vec_id", dequantize(F.col("codes"), F.col("scale")).alias("embedding"))
    queries = emb.filter(F.col("vec_id") % 50 == 0).select(
        "vec_id", F.col("v").alias("embedding")
    )
    exact = {(r.query_id, r.neighbor_id) for r in brute_knn(
        emb.select("vec_id", F.col("v").alias("embedding")), queries, 3).collect()}
    approx = {(r.query_id, r.neighbor_id) for r in brute_knn(deq, queries, 3).collect()}
    overlap = len(exact & approx) / len(exact)
    assert overlap >= 0.5, overlap


def test_ivf_index_is_shuffle_free(spark):
    """List assignment is a per-row Arrow UDF: the index build plan must
    be a single narrow scan stage — no Exchange anywhere (at 100 TB this
    is what makes indexing a one-pass write)."""
    from crypto_market_tracker_etl_spark.operators.ivf import ivf_index, seed_centroids

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = seed_centroids(emb, 8)
    plan = ivf_index(emb, cents)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_approx_percentile_within_tolerance(spark):
    """approx_percentile (GK sketch) is the scale path for quantiles —
    mergeable, bounded memory, one pass — with no cross-engine oracle
    (sketch internals differ). Bound it against the exact percentile:
    with accuracy A, rank error ≤ n/A."""
    ev = load_table(spark, SF_DIR, "events")
    acc = 100
    got = ev.agg(
        F.percentile_approx("value", [0.25, 0.5, 0.9], acc).alias("ap"),
        F.expr("percentile(value, array(0.25, 0.5, 0.9))").alias("ex"),
        F.count("value").alias("n"),
    ).collect()[0]
    values = sorted(r["value"] for r in ev.select("value").collect())
    n = got["n"]
    for q, approx in zip((0.25, 0.5, 0.9), got["ap"]):
        # rank of the approximate answer must be within n/acc of target
        import bisect

        rank = bisect.bisect_left(values, approx)
        assert abs(rank - q * n) <= n / acc + 1, (q, approx, rank, q * n)


def test_freq_items_contains_true_heavy_hitters(spark):
    """freqItems (misra-gries style) at support s must return a superset
    of the items with true frequency > s — the one guarantee the sketch
    makes; the complement (no false negatives) is what heavy-hitter
    detection at 100 TB relies on."""
    ev = load_table(spark, SF_DIR, "events")
    support = 0.15
    found = set(ev.freqItems(["event_type"], support).collect()[0][0])
    n = ev.count()
    true_heavy = {
        r["event_type"]
        for r in ev.groupBy("event_type").count().collect()
        if r["count"] > support * n
    }
    assert true_heavy <= found, (true_heavy, found)


def test_approx_distinct_within_tolerance(spark):
    """approx_count_distinct (HLL++) has no cross-engine oracle; the query
    self-attests by emitting a within_tolerance boolean (|approx - exact|
    <= 5% * exact, rsd=0.01) alongside the SQL-reproducible exact count."""
    from crypto_market_tracker_etl_spark.queries import q_approx_distinct

    rows = q_approx_distinct(spark, SF_DIR).collect()
    ev = load_table(spark, SF_DIR, "events")
    exact = {
        r["event_type"]: r["n"]
        for r in ev.groupBy("event_type")
        .agg(F.countDistinct("user_id").alias("n"))
        .collect()
    }
    assert {r["event_type"] for r in rows} == set(exact)
    for r in rows:
        assert r["exact_users"] == exact[r["event_type"]]
        assert r["within_tolerance"] is True, r


def test_drift_report_null_policy_cross_engine(spark, tmp_path):
    """drift_report's missing-data policy on data the shipped testdata
    cannot exercise: NULL and NaN values must land in a dedicated NULL bin
    (not silently clamp into bin 9 via null-skipping least()), NULL-ts rows
    must be dropped, and Spark and DuckDB must still agree bit-for-bit —
    including the KS cumulative order over the NULL bin."""
    import duckdb

    from crypto_market_tracker_etl_spark.queries_ext2 import (
        SQL_DRIFT_REPORT,
        q_drift_report,
    )
    from tests.conftest import assert_frames_match

    rows = []
    for i in range(200):
        rows.append(
            (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), i % 7,
             "click" if i % 2 == 0 else "view", float(i % 50))
        )
    rows += [
        (900, dt.datetime(2024, 1, 2), 1, "click", None),
        (901, dt.datetime(2024, 1, 9), 1, "click", None),
        (902, dt.datetime(2024, 1, 3), 2, "view", float("nan")),
        (903, None, 3, "view", 10.0),  # dropped: no period
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    pq = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(pq)

    got = q_drift_report(spark, str(tmp_path)).toPandas()
    # the NULL bin exists: 11 bins for click (2 null values), 11 for view (NaN)
    n_bins = {r["event_type"]: r["n_bins"] for _, r in got.iterrows()}
    assert n_bins == {"click": 11, "view": 11}

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    oracle = con.execute(SQL_DRIFT_REPORT).arrow().to_pandas()
    assert_frames_match(got, oracle, "drift_report_nulls")


def test_histogram_null_policy_cross_engine(spark, tmp_path):
    """q_histogram's NULL-bin policy on data the shipped testdata cannot
    exercise: NULL/NaN values in the NULL bin (not silently clamped into
    bin 9 by null-skipping least()), NaN masked from the min/max anchors,
    Spark and DuckDB bit-for-bit."""
    import duckdb

    from crypto_market_tracker_etl_spark.queries import SQL_HISTOGRAM, q_histogram
    from tests.conftest import assert_frames_match

    rows = [
        (i, dt.datetime(2024, 1, 1) + dt.timedelta(hours=i), i % 5,
         "click" if i % 2 == 0 else "view", float(i % 40))
        for i in range(120)
    ]
    rows += [
        (900, dt.datetime(2024, 1, 2), 1, "click", None),
        (901, dt.datetime(2024, 1, 3), 2, "view", float("nan")),
        # without anchor masking this NaN would have poisoned mx for ALL rows
    ]
    schema = "event_id long, ts timestamp, user_id long, event_type string, value double"
    pq = str(tmp_path / "events.parquet")
    spark.createDataFrame(rows, schema).coalesce(1).write.parquet(pq)

    got = q_histogram(spark, str(tmp_path)).toPandas()
    null_bins = got[got["bin"].isna()]
    assert set(null_bins["event_type"]) == {"click", "view"}
    assert float(got["v_max"].max()) == 39.0  # NaN kept out of the anchors

    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{pq}/*.parquet')")
    oracle = con.execute(SQL_HISTOGRAM).arrow().to_pandas()
    assert_frames_match(got, oracle, "histogram_nulls")


def test_ttl_cache_expires_and_rebuilds(spark):
    """S11 (reference app.py:33-51): cached view persists within TTL, is
    rebuilt after expiry, and invalidate releases storage."""
    from crypto_market_tracker_etl_spark.operators.cache import TTLCache

    clock = {"t": 0.0}
    builds = {"n": 0}

    def build():
        builds["n"] += 1
        return spark.range(10).withColumn("v", F.col("id") * 2)

    cache = TTLCache(ttl_s=60, clock=lambda: clock["t"])
    a = cache.get("view", build)
    assert a.count() == 10 and builds["n"] == 1
    assert a.storageLevel.useMemory  # actually persisted
    clock["t"] = 30.0
    assert cache.get("view", build) is a and builds["n"] == 1  # warm hit
    clock["t"] = 90.0
    b = cache.get("view", build)
    assert builds["n"] == 2 and b is not a  # expired → rebuilt
    cache.invalidate()
    assert not b.storageLevel.useMemory  # storage released


# -------------------------------------------------------------- streaming


def test_incremental_upsert_stream_available_now(spark, tmp_path):
    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.streaming.incremental import (
        incremental_upsert_stream,
    )

    src_dir = str(tmp_path / "incoming")
    batch = spark.createDataFrame(
        [
            ("a", dt.datetime(2024, 1, 1, 1), 1.0),
            ("a", dt.datetime(2024, 1, 1, 1), 9.0),  # same key: latest wins
            ("b", dt.datetime(2024, 1, 1, 2), 2.0),
        ],
        "k string, ts timestamp, v double",
    )
    batch.write.mode("overwrite").parquet(src_dir)
    stream = spark.readStream.schema(batch.schema).parquet(src_dir)
    sink = ManifestParquetSink(spark, str(tmp_path / "out"), keys=["k", "ts"], ts_col="ts")
    q = incremental_upsert_stream(stream, sink, str(tmp_path / "ckpt"))
    await_drain(q, 120)
    got = {(r["k"], r["ts"]): r["v"] for r in sink.read().collect()}
    assert got[("b", dt.datetime(2024, 1, 1, 2))] == 2.0
    assert len(got) == 2  # duplicate key collapsed


def test_windowed_ohlc_stream_matches_batch(spark, tmp_path):
    from crypto_market_tracker_etl_spark.streaming.incremental import (
        windowed_ohlc_stream,
    )
    from crypto_market_tracker_etl_spark.operators.ohlc import ohlc_tumbling

    events = load_table(spark, SF_DIR, "events").select("user_id", "ts", "value")
    # streaming requires LTZ timestamps for watermarks; cast once here
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    src = str(tmp_path / "ev")
    events.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(events.schema).parquet(src)
    agg = windowed_ohlc_stream(stream, ["user_id"], "ts", "value", "1 day")
    q = (
        agg.writeStream.format("memory")
        .queryName("ohlc_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)
    got = {
        (r["user_id"], r["window_start"]): (r["open"], r["high"], r["low"], r["close"], r["n_obs"])
        for r in spark.sql("select * from ohlc_stream").collect()
    }
    want = {
        (r["user_id"], r["window_start"]): (r["open"], r["high"], r["low"], r["close"], r["n_obs"])
        for r in ohlc_tumbling(events, ["user_id"], "ts", "value", "1 day").collect()
    }
    assert got == want


def test_tokenize_count_stream_matches_batch(spark, tmp_path):
    """Frozen-vocab token accounting over a document stream must equal the
    batch [tokenize_count] per doc: the vocabulary is a frozen artifact,
    so the stream side is a stateless HOF projection (append mode, no
    watermark) — a backfill and a micro-batch produce identical math."""
    from crypto_market_tracker_etl_spark.queries_ext import (
        TOKENIZER_VOCAB_K,
        _documents,
        q_tokenize_count,
    )
    from crypto_market_tracker_etl_spark.streaming.incremental import (
        tokenize_count_stream,
    )
    from crypto_market_tracker_etl_spark.functions.textstats import normalize_ws

    docs = _documents(spark, SF_DIR).select("doc_id", "text")
    # the same top-K vocabulary q_tokenize_count derives
    vocab = (
        docs.select(
            F.explode(F.split(normalize_ws(F.col("text")), " ")).alias("w")
        )
        .filter(F.col("w") != "")
        .groupBy("w")
        .agg(F.count(F.lit(1)).alias("freq"))
        .orderBy(F.desc("freq"), F.col("w"))
        .limit(TOKENIZER_VOCAB_K)
        .select("w")
    )
    src = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(docs.schema).parquet(src)
    out = tokenize_count_stream(stream, vocab)
    q = (
        out.writeStream.format("memory")
        .queryName("tok_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)
    # NO row filter: the stream must reproduce batch's exact row SET too
    # (zero-token docs appear in neither side)
    got = {
        r["doc_id"]: (r["n_words"], r["n_tokens_sub"], r["oov_rate"])
        for r in spark.sql("select * from tok_stream").collect()
    }
    want = {
        r["doc_id"]: (r["n_words"], r["n_tokens_sub"], r["oov_rate"])
        for r in q_tokenize_count(spark, SF_DIR).collect()
    }
    assert got == want


def test_stream_asof_join_matches_batch(spark, tmp_path):
    """Streaming as-of join (interval join + windowed max_by, two chained
    stateful ops) must equal the batch asof_join restricted to matched
    probes. Two availableNow drains: the second delivers only a far-future
    sentinel pair that advances the watermark past every real window, so
    all real probes are finalized and emitted."""
    from crypto_market_tracker_etl_spark.streaming.incremental import (
        stream_asof_join,
    )

    ev_t = load_table(spark, SF_DIR, "events").select(
        "user_id", F.col("ts").cast("timestamp").alias("ts"), "value", "event_type"
    )
    clicks = ev_t.filter(F.col("event_type") == "click").select("user_id", "ts")
    buys = ev_t.filter(F.col("event_type") == "purchase").select(
        "user_id", "ts", "value"
    )
    lsrc, rsrc, osink = (str(tmp_path / d) for d in ("l", "r", "out"))
    clicks.write.mode("overwrite").parquet(lsrc)
    buys.write.mode("overwrite").parquet(rsrc)

    def drain() -> None:
        ls = spark.readStream.schema(clicks.schema).parquet(lsrc)
        rs = spark.readStream.schema(buys.schema).parquet(rsrc)
        out = stream_asof_join(
            ls, rs, "user_id", "ts", "ts",
            lookback="2 days", watermark="1 hour", finalize="1 day",
        )
        q = (
            out.writeStream.foreachBatch(
                lambda b, _id: b.write.mode("append").parquet(osink)
            )
            .option("checkpointLocation", str(tmp_path / "ckpt"))
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        await_drain(q, 300)

    drain()
    far = F.expr("timestamp'2099-01-01 00:00:00'")
    sent_l = clicks.limit(1).select(F.lit(-1).alias("user_id"), far.alias("ts"))
    sent_r = buys.limit(1).select(
        F.lit(-1).alias("user_id"), far.alias("ts"), F.lit(0.0).alias("value")
    )
    sent_l.write.mode("append").parquet(lsrc)
    sent_r.write.mode("append").parquet(rsrc)
    drain()

    got = {
        (r["user_id"], r["ts"], r["asof_ts"], r["right_value"])
        for r in spark.read.parquet(osink).filter(F.col("user_id") >= 0).collect()
    }
    # thread the quote timestamp through the batch twin as a value column
    # so the compare covers WHICH right row matched, not just its value
    want = {
        (r["user_id"], r["ts"], r["qts"], r["value_asof"])
        for r in asof_join(
            clicks,
            buys.withColumn("qts", F.col("ts")),
            ["user_id"], "ts", "ts", ["value", "qts"],
            tolerance=F.expr("INTERVAL 2 days"),
        )
        .filter(F.col("value_asof").isNotNull())
        .select("user_id", "ts", F.col("qts_asof").alias("qts"), "value_asof")
        .collect()
    }
    assert want, "batch as-of twin must match some probes"
    assert got == want


# -------------------------------------------------------------- multimodal


def test_decode_media_pipeline(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(20)
    media = documents_as_media(docs)
    decoded = decode_media(media, fake_decoder)
    rows = decoded.collect()
    assert len(rows) == 20
    r = rows[0]
    assert r["n_bytes"] > 0 and 1 <= r["width"] <= 64 and len(r["feature"]) == 8
    # determinism: same payload → same features
    again = decode_media(media, fake_decoder).collect()
    assert {x["media_id"]: x["feature"] for x in again} == {
        x["media_id"]: x["feature"] for x in rows
    }


def test_real_decoder_is_stub(spark):
    docs = load_table(spark, SF_DIR, "documents").limit(1)
    with pytest.raises(Exception) as err:
        decode_media(documents_as_media(docs)).collect()
    assert "NotImplementedError" in str(err.value) or isinstance(
        err.value, NotImplementedError
    )


def test_image_meta_parses_real_headers():
    """The parser must decode genuine container bytes — a real 161×81
    PNG header (as any PNG encoder writes it), a real GIF89a header,
    and an unknown format (graceful NULLs, never an error)."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
    )

    real_png = bytes.fromhex(
        "89504e470d0a1a0a0000000d49484452000000a1000000510806000000"
    )
    real_gif = b"GIF89a" + bytes([0x40, 0x01, 0xF0, 0x00]) + b"\xf7\x00\x00"
    junk = b"\x00\x01\x02not an image"
    got = {k: parse_image_meta(p)
           for k, p in ((1, real_png), (2, real_gif), (3, junk))}
    assert got[1] == ("image/png", 161, 81)
    assert got[2] == ("image/gif", 320, 240)  # 0x0140 LE, 0x00F0 LE
    assert got[3] == ("application/octet-stream", None, None)


def test_synth_headers_roundtrip():
    """synth_png/synth_gif emit bytes the parser reads back exactly —
    including the endianness flip between the two formats."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        synth_gif,
        synth_png,
    )

    for i in range(1, 50):
        w, h = i * 37 % 4096 + 1, i * 11 % 4096 + 1
        assert parse_image_meta(synth_png(w, h)) == ("image/png", w, h)
        assert parse_image_meta(synth_gif(w, h)) == ("image/gif", w, h)


def test_cache_scope_releases_on_exit_and_on_error(spark):
    """A held frame is cached inside the block and released on exit, also
    when the body raises; the join reads the same pairs through it."""
    from crypto_market_tracker_etl_spark.operators.cache import (
        cache_scope,
        live_caches,
    )
    from crypto_market_tracker_etl_spark.operators.dedup import (
        set_similarity_join,
        word_shingles,
    )

    docs = load_table(spark, SF_DIR, "documents").limit(60)
    tokens = docs.select(
        "doc_id", F.explode(word_shingles(F.col("text"))).alias("w")
    ).distinct()
    want = {(r.doc_a, r.doc_b) for r in set_similarity_join(tokens, 0.5).collect()}
    before = live_caches(spark)
    with cache_scope() as hold:
        pairs = set_similarity_join(hold(tokens), 0.5)
        got = {(r.doc_a, r.doc_b) for r in pairs.collect()}
        inside = live_caches(spark)
        assert inside[0] > before[0] and inside[1] > before[1]
    assert got == want
    assert live_caches(spark) == before
    with pytest.raises(RuntimeError, match="body failed"):
        with cache_scope() as hold:
            hold(tokens).count()
            assert live_caches(spark) != before
            raise RuntimeError("body failed")
    assert live_caches(spark) == before


def test_operators_leave_no_cache_behind(spark):
    """set_similarity_join, embedding_near_dup_pairs and the eager pagerank
    return with every table they cached released."""
    from crypto_market_tracker_etl_spark.operators.cache import live_caches
    from crypto_market_tracker_etl_spark.operators.dedup import (
        set_similarity_join,
    )
    from crypto_market_tracker_etl_spark.operators.graph import pagerank
    from crypto_market_tracker_etl_spark.operators.similarity import (
        embedding_near_dup_pairs,
    )

    tokens = spark.createDataFrame(
        [(d, f"e{e}") for d in range(6) for e in range(d, d + 4)],
        "doc_id long, w string",
    )
    vecs = spark.createDataFrame(
        [(i, [1.0, 0.1 * i, 0.5]) for i in range(8)], "vec_id long, v array<double>"
    )
    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 2.0), (2, 1, 2.0)], ["src", "dst", "w"]
    )
    before = live_caches(spark)
    assert set_similarity_join(tokens, 0.5).count() > 0
    assert live_caches(spark) == before
    assert embedding_near_dup_pairs(vecs, dim=3, num_planes=2).count() > 0
    assert live_caches(spark) == before
    assert pagerank(edges, iterations=3, persist=True).count() == 3
    assert live_caches(spark) == before


def test_pagerank_releases_caches_when_the_loop_fails(spark):
    """A task failure inside the eager power loop still releases the
    held node set and edge list."""
    from crypto_market_tracker_etl_spark.operators.cache import live_caches
    from crypto_market_tracker_etl_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [(0, 1, 1.0), (1, 0, 1.0), (1, 2, 2.0), (2, 1, 2.0)], ["src", "dst", "w"]
    ).withColumn(
        "w",
        F.when(F.col("src") == 2, F.raise_error(F.lit("edge weight failed")))
        .otherwise(F.col("w"))
        .cast("double"),
    )
    before = live_caches(spark)
    with pytest.raises(Exception, match="edge weight failed"):
        pagerank(edges, iterations=3, persist=True)
    assert live_caches(spark) == before


def _py_jpeg_dims(b: bytes):
    """Independent pure-Python JPEG marker walk (the synth_mp4 pattern):
    SOI, then segments of (FF marker, BE16 length); dims sit in the
    SOF0/1/2 frame header. Returns (width, height) or None."""
    if b[0:2] != b"\xff\xd8":
        return None
    i = 2
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            return None
        marker = b[i + 1]
        if marker in (0xC0, 0xC1, 0xC2):
            h = int.from_bytes(b[i + 5 : i + 7], "big")
            w = int.from_bytes(b[i + 7 : i + 9], "big")
            return (w, h)
        if marker in (0xD9, 0xDA):
            return None
        i += 2 + int.from_bytes(b[i + 2 : i + 4], "big")
    return None


def test_jpeg_meta_segment_walk():
    """The JPEG SOF walk must be a real segment walk, not a fixed offset:
    dims parse with SOF0 after a deep APPn stack, with progressive SOF2,
    and degenerate streams (SOS before any SOF; desynced bytes) yield
    NULL dims — mime stays image/jpeg on a valid signature."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
    )

    def seg(marker, payload=b""):
        return bytes([0xFF, marker]) + (len(payload) + 2).to_bytes(2, "big") + payload

    sof0 = seg(0xC0, b"\x08" + (81).to_bytes(2, "big") + (161).to_bytes(2, "big") + b"\x01\x01\x11\x00")
    sof2 = seg(0xC2, b"\x08" + (240).to_bytes(2, "big") + (320).to_bytes(2, "big") + b"\x03" + b"\x00" * 9)
    app1 = seg(0xE1, b"Exif\x00\x00" + b"\x00" * 40)
    dqt = seg(0xDB, b"\x00" + bytes(range(64)))
    soi = b"\xff\xd8"
    cases = {
        # baseline after APP1+DQT stack (SOF is the 4th segment)
        1: (soi + app1 + app1 + dqt + sof0, 161, 81),
        # progressive
        2: (soi + dqt + sof2, 320, 240),
        # SOS before SOF: walk must STOP (entropy data would false-match)
        3: (soi + seg(0xDA, b"\x01\x01\x00") + b"\xff\xc0\x99\x99", None, None),
        # desync after a valid APP1: next segment not starting with FF
        4: (soi + app1 + b"\x00\x01\x02\x03", None, None),
        # 17 APP segments: past the 16-step bound → NULLs, not an error
        5: (soi + app1 * 17 + sof0, None, None),
    }
    got = {k: parse_image_meta(v[0]) for k, v in cases.items()}
    for k, (_, w, h) in cases.items():
        assert got[k] == ("image/jpeg", w, h), (k, got[k])
    # the independent parser agrees on every parseable case
    assert _py_jpeg_dims(cases[1][0]) == (161, 81)
    assert _py_jpeg_dims(cases[2][0]) == (320, 240)
    assert _py_jpeg_dims(cases[3][0]) is None
    assert _py_jpeg_dims(cases[4][0]) is None


def test_synth_jpeg_roundtrip_and_independent_parser():
    """synth_jpeg emits bytes BOTH parsers read back exactly: the
    engine's segment walk and the pure-Python reference — so the
    analytic oracle of [image_meta]/[media_catalog] rests on
    independently verified bytes, not the parser grading its own
    homework."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        synth_jpeg,
    )

    for i in range(1, 50):
        w, h = i * 37 % 4096 + 1, i * 11 % 4096 + 1
        payload = synth_jpeg(w, h)
        assert parse_image_meta(payload) == ("image/jpeg", w, h)
        assert _py_jpeg_dims(payload) == (w, h)


def _py_webp_dims(b: bytes):
    """Independent pure-Python WebP parser (the _py_jpeg_dims pattern):
    RIFF + 'WEBP', then dims per first-chunk variant — VP8 LE16 low-14
    after the 9D 01 2A start code, VP8L LE32 bitfield behind 0x2F,
    VP8X LE24 canvas fields + 1. Returns (width, height) or None."""
    if b[0:4] != b"RIFF" or b[8:12] != b"WEBP":
        return None
    cc = b[12:16]
    if cc == b"VP8 ":
        if b[23:26] != b"\x9d\x01\x2a":
            return None
        w = int.from_bytes(b[26:28], "little") & 0x3FFF
        h = int.from_bytes(b[28:30], "little") & 0x3FFF
        return (w, h)
    if cc == b"VP8L":
        if b[20] != 0x2F:
            return None
        bits = int.from_bytes(b[21:25], "little")
        return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
    if cc == b"VP8X":
        # r10: the actual image dims come from the bitstream chunk in
        # the VP8X chunk list; canvas is the fallback (animations)
        pos = 30
        for _ in range(8):
            if pos + 8 > len(b):
                break
            sub, size = b[pos : pos + 4], int.from_bytes(
                b[pos + 4 : pos + 8], "little"
            )
            if sub == b"VP8L" and pos + 13 <= len(b) and b[pos + 8] == 0x2F:
                bits = int.from_bytes(b[pos + 9 : pos + 13], "little")
                return ((bits & 0x3FFF) + 1, ((bits >> 14) & 0x3FFF) + 1)
            if sub == b"VP8 " and b[pos + 11 : pos + 14] == b"\x9d\x01\x2a":
                return (
                    int.from_bytes(b[pos + 14 : pos + 16], "little") & 0x3FFF,
                    int.from_bytes(b[pos + 16 : pos + 18], "little") & 0x3FFF,
                )
            if sub in (b"VP8L", b"VP8 "):
                break
            pos += 8 + size + size % 2
        w = int.from_bytes(b[24:27], "little") + 1
        h = int.from_bytes(b[27:30], "little") + 1
        return (w, h)
    return None


def test_synth_webp_roundtrip_and_independent_parser():
    """All three synth_webp variants emit bytes BOTH parsers read back
    exactly — the engine's fixed-offset parse and the pure-Python
    reference — including at the 14-bit boundary dims (16383/16384)
    where the VP8 scale bits and the VP8L bitfield packing would first
    betray an off-by-one."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        synth_webp_vp8,
        synth_webp_vp8l,
        synth_webp_vp8x,
    )

    for i in range(1, 50):
        w, h = i * 37 % 16383 + 1, i * 11 % 16383 + 1  # VP8 max 16383
        for synth in (synth_webp_vp8, synth_webp_vp8l, synth_webp_vp8x):
            payload = synth(w, h)
            assert parse_image_meta(payload) == ("image/webp", w, h), (
                synth.__name__, i,
            )
            assert _py_webp_dims(payload) == (w, h), (synth.__name__, i)


def test_webp_malformed_and_routing():
    """Malformed WebP yields NULL dims (never an error) with mime still
    image/webp on a valid RIFF+WEBP shell; sniff_mime routes WebP to the
    image pipeline and keeps WAV (the other RIFF tenant) on audio."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        sniff_mime,
    )

    def shell(fourcc: bytes, payload: bytes) -> bytes:
        body = b"WEBP" + fourcc + len(payload).to_bytes(4, "little") + payload
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    cases = {
        # VP8 without the 9D012A start code (interframe / corrupt)
        1: shell(b"VP8 ", b"\x90\x02\x00" + b"\x00\x01\x2a" + b"\x10\x00\x10\x00"),
        # VP8L without the 0x2F signature byte
        2: shell(b"VP8L", b"\x00\x0f\x00\xc0\x03"),
        # unknown first chunk (ALPH before VP8X — out of spec order)
        3: shell(b"ALPH", b"\x00\x00\x00\x00"),
        # truncated: RIFF+WEBP only, no chunk at all
        4: b"RIFF\x04\x00\x00\x00WEBP",
    }
    for k, payload in cases.items():
        mime, w, h = parse_image_meta(payload)
        assert mime == "image/webp", k
        assert w is None and h is None, k
        assert sniff_mime(payload) == "image/webp", k
        assert _py_webp_dims(payload) is None, k


def _py_tiff_dims(b: bytes):
    """Independent pure-Python TIFF IFD walk (the _py_jpeg_dims pattern):
    endian header, first-IFD offset, 12-byte entries; dims are tags
    256/257 inline as SHORT(3)/LONG(4) count 1. r10: follows the
    next-IFD offset ONCE into IFD1 when IFD0 lacks both dims (the
    multi-IFD scanner/EXIF layout). Returns (w, h) or None."""
    if b[0:4] == b"II\x2a\x00":
        order = "little"
    elif b[0:4] == b"MM\x00\x2a":
        order = "big"
    else:
        return None
    num = lambda s: int.from_bytes(s, order)  # noqa: E731
    ifd = num(b[4:8])
    w = h = None
    for _hop in range(2):  # IFD0, then at most one next-IFD hop
        n = num(b[ifd : ifd + 2])
        for i in range(min(n, 32)):
            at = ifd + 2 + i * 12
            tag, typ, cnt = num(b[at : at + 2]), num(b[at + 2 : at + 4]), num(
                b[at + 4 : at + 8]
            )
            if cnt != 1 or typ not in (3, 4):
                continue
            val = (
                num(b[at + 8 : at + 10]) if typ == 3 else num(b[at + 8 : at + 12])
            )
            if tag == 256 and w is None:
                w = val
            if tag == 257 and h is None:
                h = val
        if w is not None and h is not None:
            break
        nxt = num(b[ifd + 2 + n * 12 : ifd + 2 + n * 12 + 4])
        if nxt == 0:
            break
        ifd = nxt
    return (w, h) if (w is not None and h is not None) else None


def test_synth_tiff_roundtrip_and_independent_parser():
    """synth_tiff in BOTH byte orders emits bytes BOTH parsers read back
    exactly — the engine's bounded IFD walk and the pure-Python
    reference — so the analytic oracle of [image_meta]/[media_catalog]
    rests on independently verified bytes."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        synth_tiff,
    )

    for i in range(1, 50):
        w, h = i * 37 % 4096 + 1, i * 11 % 4096 + 1
        for le in (True, False):
            payload = synth_tiff(w, h, little_endian=le)
            assert parse_image_meta(payload) == ("image/tiff", w, h), (le, i)
            assert _py_tiff_dims(payload) == (w, h), (le, i)


def test_tiff_walk_is_a_real_walk_and_malformed_never_errors():
    """The IFD walk must handle displaced IFDs, preceding decoy entries,
    LONG-typed dims, offset-valued (non-inline) dims → NULL, and entry
    counts past the 32 bound → NULL; mime stays image/tiff on a valid
    endian header."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
    )

    def tiff(entries, ifd_at=8, order="little", count=None, pad=b""):
        hdr = (b"II\x2a\x00" if order == "little" else b"MM\x00\x2a") + (
            ifd_at
        ).to_bytes(4, order)
        n = count if count is not None else len(entries)
        body = n.to_bytes(2, order)
        for tag, typ, cnt, val in entries:
            vf = (
                val.to_bytes(2, order) + b"\x00\x00"
                if typ == 3
                else val.to_bytes(4, order)
            )
            body += (
                tag.to_bytes(2, order)
                + typ.to_bytes(2, order)
                + cnt.to_bytes(4, order)
                + vf
            )
        return hdr + pad + body + b"\x00\x00\x00\x00"

    cases = {
        # IFD displaced past 8 bytes of junk; decoy entries before dims;
        # LONG-typed width, SHORT height
        1: (
            tiff(
                [(254, 4, 1, 0), (259, 3, 1, 1), (256, 4, 1, 70000),
                 (257, 3, 1, 81)],
                ifd_at=16,
                pad=b"\xde\xad\xbe\xef\xde\xad\xbe\xef",
            ),
            70000, 81,
        ),
        # big-endian with decoys
        2: (
            tiff([(259, 3, 1, 1), (256, 3, 1, 320), (257, 3, 1, 240)],
                 order="big"),
            320, 240,
        ),
        # dims present but count=2 (offset-valued): NOT inline -> NULL
        3: (tiff([(256, 3, 2, 99), (257, 3, 2, 99)]), None, None),
        # RATIONAL-typed dims (type 5): not inline -> NULL
        4: (tiff([(256, 5, 1, 12), (257, 5, 1, 12)]), None, None),
        # claimed 40 entries (past the 32 bound) but dims sit at 35/36:
        # truncated walk -> NULL, never an error
        5: (
            tiff(
                [(254, 4, 1, 0)] * 34 + [(256, 3, 1, 50), (257, 3, 1, 60)],
            ),
            None, None,
        ),
        # truncated file: header says IFD at 8, nothing there
        6: (b"II\x2a\x00\x08\x00\x00\x00", None, None),
        # hostile LONG dims past 2^31: must be NULL, never a wrapped
        # negative int
        7: (tiff([(256, 4, 1, 2**31), (257, 4, 1, 2**32 - 1)]), None, None),
    }
    got = {k: parse_image_meta(v[0]) for k, v in cases.items()}
    for k, (_, w, h) in cases.items():
        assert got[k] == ("image/tiff", w, h), (k, got[k])
    assert _py_tiff_dims(cases[1][0]) == (70000, 81)
    assert _py_tiff_dims(cases[2][0]) == (320, 240)
    assert _py_tiff_dims(cases[3][0]) is None


def test_tiff_multi_ifd_and_vp8x_wrapped_roundtrip():
    """The r10 exotic layouts: a TIFF whose dims sit in IFD1 behind a
    metadata-only IFD0 (both byte orders), and an extended WebP whose
    bitstream chunk (VP8L and VP8) sits behind the VP8X chunk list with
    canvas dims that DISAGREE — the parse must return the bitstream
    dims (what a decoder renders), not the canvas. Both parsers and the
    independent pure-Python references agree."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        synth_tiff,
        synth_webp_vp8x_wrapped,
    )

    def vp8x_wrapped_lossy(cw, ch, w, h):
        """The same VP8X + ICCP chunk list with a lossy VP8 bitstream."""
        chunks = synth_webp_vp8x_wrapped(cw, ch, w, h)[12:42]
        stream = (b"VP8 " + (10).to_bytes(4, "little") + b"\x90\x02\x00"
                  + b"\x9d\x01\x2a" + w.to_bytes(2, "little")
                  + h.to_bytes(2, "little"))
        body = b"WEBP" + chunks + stream
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    for i in range(1, 40):
        w, h = i * 37 % 4096 + 1, i * 11 % 4096 + 1
        cw, ch = i * 5 % 1000 + 2, i * 3 % 1000 + 2  # mismatched canvas
        payloads = {
            "t1l": synth_tiff(w, h, little_endian=True, dims_in_ifd1=True),
            "t1b": synth_tiff(w, h, little_endian=False, dims_in_ifd1=True),
            "xl": synth_webp_vp8x_wrapped(cw, ch, w, h),
            "x8": vp8x_wrapped_lossy(cw, ch, w, h),
        }
        for p, payload in payloads.items():
            mime = "image/webp" if p.startswith("x") else "image/tiff"
            assert parse_image_meta(payload) == (mime, w, h), (p, i)
            assert _py_webp_dims(payload) == (w, h) if p.startswith(
                "x"
            ) else _py_tiff_dims(payload) == (w, h), (p, i)


def test_tiff_hop_and_webp_walk_malformed_never_error():
    """Hostile inputs against the r10 dereferences: a next-IFD offset
    past the payload, a self-referential IFD loop (the single-hop
    budget must end it), a VP8X whose chunk list dead-ends, a hostile
    chunk size walking past the end, and an ANMF-only animation
    (canvas fallback). NULL or canvas dims, never an error."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
    )

    def tiff_le(entries, nxt, ifd_at=8):
        hdr = b"II\x2a\x00" + ifd_at.to_bytes(4, "little")
        body = len(entries).to_bytes(2, "little")
        for tag, typ, cnt, val in entries:
            vf = (
                val.to_bytes(2, "little") + b"\x00\x00"
                if typ == 3
                else val.to_bytes(4, "little")
            )
            body += (
                tag.to_bytes(2, "little") + typ.to_bytes(2, "little")
                + cnt.to_bytes(4, "little") + vf
            )
        return hdr + body + nxt.to_bytes(4, "little")

    def webp(chunks):
        body = b"WEBP" + b"".join(
            cc + len(p).to_bytes(4, "little") + p + b"\x00" * (len(p) % 2)
            for cc, p in chunks
        )
        return b"RIFF" + len(body).to_bytes(4, "little") + body

    vp8x = (b"VP8X", b"\x00" * 4 + (9).to_bytes(3, "little") + (19).to_bytes(3, "little"))
    cases = {
        # next-IFD offset far past the payload end
        1: (tiff_le([(259, 3, 1, 1)], nxt=5000), "image/tiff", None, None),
        # IFD0 points back at itself: one hop re-reads it, then ends
        2: (tiff_le([(259, 3, 1, 1)], nxt=8), "image/tiff", None, None),
        # dims split across IFDs (w in IFD0, h in IFD1 at offset 26)
        3: (
            tiff_le([(256, 3, 1, 640)], nxt=26)
            + tiff_le([(257, 3, 1, 480)], nxt=0)[8:],
            "image/tiff", 640, 480,
        ),
        # VP8X then end-of-file: canvas fallback
        4: (webp([vp8x]), "image/webp", 10, 20),
        # VP8X + chunk whose size runs past the end: canvas fallback
        5: (webp([vp8x, (b"ICCP", b"\x00" * 4)])[:-6], "image/webp", 10, 20),
        # VP8X + ANMF only (animation): canvas fallback
        6: (webp([vp8x, (b"ANMF", b"\x00" * 16)]), "image/webp", 10, 20),
        # VP8X + malformed VP8L (no 0x2F signature): canvas fallback
        7: (webp([vp8x, (b"VP8L", b"\x00\x0f\x00\xc0\x03")]), "image/webp",
            10, 20),
    }
    got = {k: parse_image_meta(v[0]) for k, v in cases.items()}
    for k, (_, mime, w, h) in cases.items():
        assert got[k] == (mime, w, h), (k, got[k])


def test_parser_random_roundtrip_sweep():
    """Seeded random sweep over ALL image synth/parse pairs: 500 random
    dim pairs (plus the corner dims pinned separately) must round-trip
    bit-exactly through every format's parse AND its independent
    pure-Python reference."""
    import random

    rng = random.Random(0xC0FFEE)
    dims = [(rng.randint(1, 16383), rng.randint(1, 16383)) for _ in range(500)]
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        synth_gif,
        synth_jpeg,
        synth_png,
        synth_tiff,
        synth_webp_vp8,
        synth_webp_vp8l,
        synth_webp_vp8x,
    )

    synths = {
        "png": synth_png,
        "gif": lambda w, h: synth_gif(w, h),
        "jpeg": synth_jpeg,
        "vp8": synth_webp_vp8,
        "vp8l": synth_webp_vp8l,
        "vp8x": synth_webp_vp8x,
        "tiff_le": lambda w, h: synth_tiff(w, h, little_endian=True),
        "tiff_be": lambda w, h: synth_tiff(w, h, little_endian=False),
    }
    refs = {"jpeg": _py_jpeg_dims, "vp8": _py_webp_dims, "vp8l": _py_webp_dims,
            "vp8x": _py_webp_dims, "tiff_le": _py_tiff_dims,
            "tiff_be": _py_tiff_dims}
    for w, h in dims:
        for name, fn in synths.items():
            if name == "gif":
                continue  # GIF dims are u16: separate bounded sweep below
            payload = fn(w, h)
            m = parse_image_meta(payload)
            assert (m[1], m[2]) == (w, h), (name, w, h, m)
            if name in refs:
                assert refs[name](payload) == (w, h), (name, w, h)
    for w, h in dims:
        w, h = w % 65535 + 1, h % 65535 + 1
        m = parse_image_meta(synth_gif(w, h))
        assert (m[1], m[2]) == (w, h)


def test_parsers_never_error_on_random_bytes():
    """Fuzz: 2000 seeded random blobs (1-64 bytes, plus truncated
    prefixes of every real signature) through image_meta, audio_meta,
    video_meta, the EBML walks and sniff_mime — parsers must never
    raise, any parsed dims/rates must be non-negative, and every int
    field must fit its column type in the query's DDL (one value that
    does not would fail the whole Arrow batch)."""
    import random

    from crypto_market_tracker_etl_spark.multimodal import pymedia as pm

    def ddl_bits(ddl):
        """Bit width per field after doc_id and n_bytes (0: not an int)."""
        return [{"int": 32, "bigint": 64}.get(col.split()[1], 0)
                for col in ddl.split(", ")[2:]]

    def fits(values, bits):
        return all(
            v is None or not n or -(2 ** (n - 1)) <= v < 2 ** (n - 1)
            for v, n in zip(values, bits)
        )

    image_bits = ddl_bits(pm.IMAGE_META_DDL)
    audio_bits = ddl_bits(pm.AUDIO_META_DDL)
    video_bits = ddl_bits(pm.VIDEO_META_DDL)  # mime, brand, ts, dur, n, w, h
    rng = random.Random(0xBEEF)
    sigs = [
        b"\x89PNG\r\n\x1a\n", b"GIF89a", b"\xff\xd8\xff", b"RIFF",
        b"RIFF1234WEBP", b"RIFF1234WAVE", b"II\x2a\x00", b"MM\x00\x2a",
        b"fLaC", b"ID3", b"\xff\xfb", b"%PDF", b"PK\x03\x04", b"\x1f\x8b",
        b"\x00\x00\x00\x14ftyp", bytes.fromhex("1A45DFA3"),
    ]
    blobs = [bytes(rng.randrange(256) for _ in range(rng.randint(1, 64)))
             for _ in range(2000)]
    for s in sigs:  # signature + random tail, and every truncation
        blobs.append(s + bytes(rng.randrange(256) for _ in range(32)))
        for i in range(len(s)):
            blobs.append(s[:i])
    for b in blobs:
        assert pm.sniff_mime(b)  # routing always lands somewhere
        im, am, vm = (pm.parse_image_meta(b), pm.parse_audio_meta(b),
                      pm.parse_video_mp4(b))
        ei, ed = pm.ebml_info(b), pm.ebml_video_dims(b)
        for m, vals, fields in (
            ("im", im[1:], (0, 1)),  # width, height
            ("am", am[1:4], (0, 1, 2)),  # channels, rate, bits
            ("vm", (vm[2], vm[4]), (0, 1)),  # timescale, n_tracks
        ):
            for f in fields:
                v = vals[f]
                assert v is None or v >= 0, (m, f, v)
        assert fits(im, image_bits), (b.hex(), im)
        assert fits(am, audio_bits), (b.hex(), am)
        assert fits(vm, video_bits), (b.hex(), vm)
        assert fits(ei, video_bits[2:4]), (b.hex(), ei)
        assert fits(ed, video_bits[5:7]), (b.hex(), ed)


def test_frame_sample_deterministic(spark):
    docs = documents_as_media(load_table(spark, SF_DIR, "documents"))
    a = {r["media_id"] for r in frame_sample(docs, 4).collect()}
    b = {r["media_id"] for r in frame_sample(docs, 4).collect()}
    assert a == b and 0 < len(a) < docs.count()


# ------------------------------------------------------------ market views


@pytest.fixture(scope="module")
def ref_model(spark):
    """Tiny reference-model fixture: 2 assets, hourly prices over 3 days,
    nulls in market_cap, a 24h-stale asset."""
    assets = spark.createDataFrame(
        [("btc", "btc", "Bitcoin", ts(0)), ("eth", "eth", "Ethereum", ts(0))],
        "asset_id string, symbol string, name string, first_seen_at timestamp",
    )
    rows = []
    for d in range(3):
        for h in range(24):
            t = dt.datetime(2024, 1, 1 + d, h)
            rows.append(("btc", t, 100.0 + d * 24 + h, 1e9 if h % 2 else None, 1e6))
            if d < 2:  # eth stops a day early → exercises as-of/null paths
                rows.append(("eth", t, 50.0 + d * 24 + h, 5e8, None))
    prices = spark.createDataFrame(
        rows, "asset_id string, ts timestamp, price double, market_cap double, volume double"
    )
    return assets, prices


def test_v_latest_prices(spark, ref_model):
    assets, prices = ref_model
    rows = v_latest_prices(prices, assets).collect()
    assert [r["asset_id"] for r in rows] == ["btc", "eth"]  # null mc last
    btc = rows[0]
    assert btc["price"] == 100.0 + 2 * 24 + 23 and btc["symbol"] == "btc"


def test_v_price_change_24h(spark, ref_model):
    assets, prices = ref_model
    as_of = F.lit(dt.datetime(2024, 1, 3, 23)).cast("timestamp")
    out = {r["asset_id"]: r for r in v_price_change_24h(prices, assets, as_of).collect()}
    # btc: now=171 (d2 h23), 24h-ago point = d1 h23 = 147 → +16.3265%
    assert out["btc"]["price_now"] == 171.0
    assert out["btc"]["price_24h"] == 147.0
    assert out["btc"]["pct_change_24h"] == round((171 - 147) / 147 * 100, 4)
    assert out["btc"]["name"] == "Bitcoin"  # dim columns (views.sql:23)


def test_v_daily_ohlc_and_sparkline(spark, ref_model):
    assets, prices = ref_model
    daily = v_daily_ohlc(prices, assets).collect()
    btc_d0 = next(
        r for r in daily if r["asset_id"] == "btc" and str(r["date"]) == "2024-01-01"
    )
    assert (btc_d0["open"], btc_d0["high"], btc_d0["low"], btc_d0["close"]) == (
        100.0,
        123.0,
        100.0,
        123.0,
    )
    # daily_metrics columns are served, not dropped (views.sql:31-32):
    # market_cap at day end = value at max ts with non-null → h23 is odd → 1e9
    assert btc_d0["name"] == "Bitcoin" and btc_d0["volume"] == 1e6
    assert btc_d0["market_cap"] == 1e9
    spark_7d = v_sparkline_7d(
        prices, assets, F.lit(dt.datetime(2024, 1, 3, 23)).cast("timestamp")
    )
    assert spark_7d.count() == prices.count()  # everything within 7 days


# ------------------------------------------------------------------- ewma


def test_ewma_last_hand_computed(spark):
    from crypto_market_tracker_etl_spark.operators.change import ewma_last

    df = spark.createDataFrame(
        [("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 30.0), ("b", 1, 5.0)],
        "k string, seq int, v double",
    )
    got = {
        r["k"]: r["ewma"]
        for r in ewma_last(df, ["k"], ["seq"], "v", alpha=0.25).collect()
    }
    # a: 10 → .25*20+.75*10 = 12.5 → .25*30+.75*12.5 = 16.875
    assert got["a"] == 16.875
    assert got["b"] == 5.0  # single element: seed only


def test_ewma_last_order_matters(spark):
    from crypto_market_tracker_etl_spark.operators.change import ewma_last

    df = spark.createDataFrame(
        [("a", 2, 20.0), ("a", 1, 10.0)], "k string, seq int, v double"
    )
    rev = spark.createDataFrame(
        [("a", 1, 20.0), ("a", 2, 10.0)], "k string, seq int, v double"
    )
    # input row order must not matter (sort key does): both frames hold the
    # sequence 10-then-20 vs 20-then-10 by seq, regardless of insert order
    fwd = ewma_last(df, ["k"], ["seq"], "v").collect()[0]["ewma"]
    bwd = ewma_last(rev, ["k"], ["seq"], "v").collect()[0]["ewma"]
    assert fwd == 12.5  # seed 10, then 0.25*20 + 0.75*10
    assert bwd == 17.5  # seed 20, then 0.25*10 + 0.75*20


def test_ewma_alpha_validated(spark):
    from crypto_market_tracker_etl_spark.operators.change import ewma_last

    df = spark.createDataFrame([("a", 1, 1.0)], "k string, seq int, v double")
    with pytest.raises(ValueError):
        ewma_last(df, ["k"], ["seq"], "v", alpha=0.0)
    with pytest.raises(ValueError):
        ewma_last(df, ["k"], ["seq"], "v", alpha=1.5)


def test_sketch_state_merges_without_rescan(spark):
    """The scale property behind [distinct_bitmap]: per-partition sketch
    state merged later must equal the single-pass answer — bitmaps exactly,
    HLL sketches to the same estimate (same algorithm, deterministic)."""
    ev = load_table(spark, SF_DIR, "events").select(
        "user_id", F.to_date("ts").alias("day")
    )
    direct = (
        ev.groupBy(F.bitmap_bucket_number("user_id").alias("b"))
        .agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("n"))
        .collect()[0]["n"]
    )
    # split by day, merge bitmaps, never touching rows again
    per_day = ev.groupBy(
        "day", F.bitmap_bucket_number("user_id").alias("b")
    ).agg(F.bitmap_construct_agg(F.bitmap_bit_position("user_id")).alias("bm"))
    merged = (
        per_day.groupBy("b")
        .agg(F.bitmap_or_agg("bm").alias("bm"))
        .agg(F.sum(F.bitmap_count("bm")).alias("n"))
        .collect()[0]["n"]
    )
    exact = ev.select("user_id").distinct().count()
    assert direct == merged == exact

    hll_full = ev.agg(
        F.hll_sketch_estimate(F.hll_sketch_agg("user_id")).alias("n")
    ).collect()[0]["n"]
    hll_merged = (
        ev.groupBy("day")
        .agg(F.hll_sketch_agg("user_id").alias("sk"))
        .agg(F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("n"))
        .collect()[0]["n"]
    )
    assert hll_full == hll_merged  # same sketch state either route


# --- graph: co-occurrence edges + PageRank (operators/graph.py) ---


def test_co_occurrence_edges_hand_case(spark):
    from crypto_market_tracker_etl_spark.operators.graph import co_occurrence_edges

    df = spark.createDataFrame(
        [(1, "a"), (1, "b"), (1, "b"), (2, "a"), (2, "b"), (3, "c")],
        ["g", "item"],
    )
    edges = {
        (r.src, r.dst): r.w for r in co_occurrence_edges(df, "g", "item").collect()
    }
    # duplicate (1,"b") collapses; "c" shares no group → no edges
    assert edges == {("a", "b"): 2.0, ("b", "a"): 2.0}


def test_pagerank_uniform_on_regular_graph(spark):
    """On a vertex-transitive graph (ring), the stationary distribution is
    uniform, so every power step must preserve exactly 1/N per node."""
    from crypto_market_tracker_etl_spark.operators.graph import pagerank

    n = 4
    ring = [(i, (i + 1) % n, 1.0) for i in range(n)]
    edges = spark.createDataFrame(
        ring + [(d, s, w) for s, d, w in ring], ["src", "dst", "w"]
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=5).collect()}
    assert len(ranks) == n
    for v in ranks.values():
        assert abs(v - 1.0 / n) < 1e-12


def test_pagerank_mass_conserved_and_hub_dominates(spark):
    """Symmetric star: total rank mass stays 1 (no dangling leak on a
    symmetric graph) and the hub outranks the identically-ranked leaves."""
    from crypto_market_tracker_etl_spark.operators.graph import pagerank

    star = [(0, i, 1.0) for i in (1, 2, 3)]
    edges = spark.createDataFrame(
        star + [(d, s, w) for s, d, w in star], ["src", "dst", "w"]
    )
    ranks = {r.node: r.rank for r in pagerank(edges, iterations=10).collect()}
    assert abs(sum(ranks.values()) - 1.0) < 1e-9
    leaf_ranks = [ranks[i] for i in (1, 2, 3)]
    assert max(leaf_ranks) - min(leaf_ranks) < 1e-12
    assert ranks[0] > leaf_ranks[0]


def test_pagerank_unweighted_default(spark):
    """weight=None treats every edge as 1; on an asymmetric-degree graph it
    must differ from a weighted run that skews the same topology."""
    from crypto_market_tracker_etl_spark.operators.graph import pagerank

    topo = [(0, 1, 9.0), (1, 0, 9.0), (1, 2, 1.0), (2, 1, 1.0)]
    edges = spark.createDataFrame(topo, ["src", "dst", "w"])
    unw = {r.node: r.rank for r in pagerank(edges, 3, weight=None).collect()}
    wtd = {r.node: r.rank for r in pagerank(edges, 3).collect()}
    assert abs(sum(unw.values()) - 1.0) < 1e-9
    assert unw[0] != pytest.approx(wtd[0], abs=1e-9)


def test_drift_report_zero_on_identical_halves(spark, tmp_path):
    """A stream whose two time-halves have identical per-type value
    distributions must report tvd=0 and chi2=0 for every type."""
    import pandas as pd

    from crypto_market_tracker_etl_spark.queries_ext2 import q_drift_report

    rows = []
    eid = 0
    for half_start in ("2024-01-01", "2024-01-02"):
        base = pd.Timestamp(half_start)
        for i in range(200):
            rows.append(
                (
                    eid,
                    base + pd.Timedelta(minutes=i),
                    i % 7,
                    "click" if i % 2 == 0 else "view",
                    float(i % 50),
                    "{}",
                )
            )
            eid += 1
    pdf = pd.DataFrame(
        rows, columns=["event_id", "ts", "user_id", "event_type", "value", "props"]
    )
    path = str(tmp_path / "events.parquet")
    pdf.to_parquet(path)
    out = q_drift_report(spark, str(tmp_path)).collect()
    assert len(out) == 2
    for r in out:
        assert r.tvd == 0.0 and r.chi2 == 0.0 and r.ks == 0.0, r


def test_pq_seed_vectors_encode_to_own_codes(spark):
    """Each codebook-seed vector's subspace slices are its own codewords,
    so encoding a seed must return exactly its seed index in every
    subspace (distance 0; deterministic (d, sid) tiebreak)."""
    from crypto_market_tracker_etl_spark.operators.ivf import seed_centroids
    from crypto_market_tracker_etl_spark.operators.pq import (
        pq_encode,
        seed_codebooks,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cbs = seed_codebooks(emb, ks=8, m=8)
    seeds = seed_centroids(emb, 8)
    coded = {r.vec_id: r.codes for r in pq_encode(emb, cbs).collect()}
    id_of = {tuple(v): None for v in seeds}
    # recover which vec_ids the seeds were (seed_centroids returns vectors,
    # not ids): match on the double-cast vector values
    vecs = {
        r.vec_id: tuple(float(x) for x in r.embedding)
        for r in emb.selectExpr(
            "vec_id", "CAST(embedding AS array<double>) AS embedding"
        ).collect()
    }
    for sid, seed in enumerate(seeds):
        matches = [vid for vid, v in vecs.items() if v == tuple(seed)]
        assert matches, "seed vector not found in corpus"
        assert coded[matches[0]] == [sid] * 8


def test_pq_rerank_recovers_recall(spark):
    """ADC alone on near-uniform random vectors (quantization's worst
    case) has weak recall; exact re-ranking of the ADC top-50 must lift
    recall@3 to ≥0.6 here and strictly beat the no-rerank path. Exact
    ground truth computed in numpy over the collected sf0.001 corpus."""
    import numpy as np

    from crypto_market_tracker_etl_spark.operators.pq import (
        pq_adc_topk,
        seed_codebooks,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    rows = emb.selectExpr(
        "vec_id", "CAST(embedding AS array<double>) AS v"
    ).collect()
    ids = np.array([r.vec_id for r in rows])
    V = np.array([r.v for r in rows])
    exact = {}
    for qi in np.where(ids % 50 == 0)[0]:
        d = ((V - V[qi]) ** 2).sum(1)
        d[qi] = np.inf
        exact[ids[qi]] = set(ids[np.lexsort((ids, d))[:3]])

    cbs = seed_codebooks(emb, ks=16, m=8)
    q = emb.filter(F.col("vec_id") % 50 == 0)

    def recall(df):
        got = {}
        for r in df.collect():
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        return sum(len(exact[k] & got[k]) for k in exact) / (3 * len(exact))

    r_adc = recall(pq_adc_topk(emb, q, cbs, k=3))
    r_rr = recall(pq_adc_topk(emb, q, cbs, k=3, rerank=50))
    assert r_rr >= 0.6, (r_adc, r_rr)
    assert r_rr > r_adc, (r_adc, r_rr)


def test_ivfpq_subset_of_probed_lists(spark):
    """IVF-PQ candidates must respect the coarse pruning: every reported
    neighbor's assigned list is one of its query's nprobe probed lists,
    and the result ranking must agree with exact re-scoring of those
    candidates (the IVF-PQ contract: prune, never mis-rank survivors)."""
    from pyspark.sql import functions as _F

    from crypto_market_tracker_etl_spark.operators.ivf import (
        assign_list,
        seed_centroids,
    )
    from crypto_market_tracker_etl_spark.operators.pq import (
        ivf_pq_topk,
        seed_codebooks,
    )

    emb = load_table(spark, SF_DIR, "embeddings")
    cents = seed_centroids(emb, 8)
    cbs = seed_codebooks(emb, ks=16, m=8)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    got = ivf_pq_topk(emb, q, cents, cbs, k=3, nprobe=2, rerank=50).collect()
    assert got, "no neighbors returned"

    v = _F.col("embedding").cast("array<double>")
    assigned = {
        r.vec_id: r.lid
        for r in emb.select("vec_id", assign_list(v, cents).alias("lid")).collect()
    }
    # nprobe=2 nearest lists per query, (nd, cid) order, from a pure-
    # Python model over the collected query vectors
    probed = {}
    for r in q.select("vec_id", v.alias("v")).collect():
        nd = [(_py_quantized_neg_cos(r.v, c), cid) for cid, c in enumerate(cents)]
        probed[r.vec_id] = {cid for _nd, cid in sorted(nd)[:2]}
    for r in got:
        assert assigned[r.neighbor_id] in probed[r.query_id], r
    # ranks are contiguous from 1 per query
    by_q = {}
    for r in got:
        by_q.setdefault(r.query_id, []).append(r.rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_ivfadc_residual_beats_raw_codes_on_clustered_data(spark):
    """IVFADC contract: on a clustered corpus, residual codes must beat
    raw-vector codes by a wide margin (raw PQ degenerates to near-chance
    within a list — every member quantizes to near-identical codes), and
    the result must be deterministic across runs. Small synthetic corpus:
    16 clusters × 1250 members (list population ≫ rerank budget — the
    regime where raw codes collapse; measured here raw 0.20 vs residual
    0.55, and 0.06 vs 0.75 on the 200k-row scale probe)."""
    import numpy as np
    import pandas as pd

    from crypto_market_tracker_etl_spark.operators.ivf import seed_centroids
    from crypto_market_tracker_etl_spark.operators.pq import (
        ivf_pq_topk,
        seed_codebooks,
        seed_residual_codebooks,
    )

    n, dim, clusters = 20000, 64, 16
    base = np.arange(dim)
    centers = np.stack(
        [np.sin(0.7 * c + 1.3 * base * (c + 1)) for c in range(clusters)]
    )
    ids = np.arange(n)
    noise = np.sin(np.outer(ids + 1, base + 1) * 0.001)
    V = centers[ids % clusters] + 0.15 * noise
    pdf = pd.DataFrame(
        {"vec_id": ids, "embedding": [r.astype(np.float32) for r in V]}
    )
    emb = spark.createDataFrame(pdf).repartition(8)
    q = emb.filter(F.col("vec_id") < 20)
    cents = seed_centroids(emb, 16)
    raw_cbs = seed_codebooks(emb, ks=16, m=8)
    res_cbs = seed_residual_codebooks(emb, cents, ks=16, m=8)

    def recall(res_rows):
        got = {}
        for r in res_rows:
            got.setdefault(r.query_id, set()).add(r.neighbor_id)
        hits = tot = 0
        for qi in range(20):
            d = ((V - V[qi]) ** 2).sum(1)
            d[qi] = np.inf
            true3 = set(ids[np.lexsort((ids, d))[:3]])
            hits += len(true3 & got.get(qi, set()))
            tot += 3
        return hits / tot

    raw = ivf_pq_topk(emb, q, cents, raw_cbs, k=3, nprobe=2, rerank=50).collect()
    def residual():
        return ivf_pq_topk(
            emb, q, cents, res_cbs, k=3, nprobe=2, rerank=50, residual=True
        ).collect()

    res1, res2 = residual(), residual()
    assert sorted(map(tuple, res1)) == sorted(map(tuple, res2))  # deterministic
    r_raw, r_res = recall(raw), recall(res1)
    assert r_res >= r_raw + 0.25, (r_raw, r_res)
    assert r_res >= 0.5, (r_raw, r_res)


def _py_sq_dist_int(a, b) -> int:
    """round(10⁴·‖a − b‖²) as a plain-Python left-to-right fold + HALF_UP
    (the oracle SQL's list_reduce arithmetic)."""
    import math

    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return math.floor(acc * 10_000 + 0.5)


def _py_quantized_neg_cos(v, c) -> float:
    """-cos(v, c) rounded HALF_UP to 4 places, every sum a sequential
    fold — the coarse quantizer's per-centroid score."""
    import math

    vn = cn = num = 0.0
    for x in v:
        vn = vn + x * x
    for x in c:
        cn = cn + float(x) * float(x)
    for x, y in zip(v, c):
        num = num + x * y
    x = -(num / (math.sqrt(vn) * math.sqrt(cn)))
    return math.copysign(math.floor(abs(x) * 1e4 + 0.5) / 1e4, x)


def test_np_kernels_match_sequential_fold():
    """The numpy ANN kernels must equal a plain-Python sequential fold on
    RANDOM data — not just the shipped testdata. This is the guard against
    numpy's multi-accumulator axis reductions (ndarray.sum differs from a
    left-to-right fold in the last ulp on 40-80% of random rows, enough to
    flip an integer quantization on boundary values). The PQ encode is
    checked against a pure-Python argmin, with duplicated codewords so
    that exact distance ties occur and the smallest sid must win."""
    import numpy as np

    from crypto_market_tracker_etl_spark.operators.ivf import np_coarse_nd
    from crypto_market_tracker_etl_spark.operators.pq import (
        _np_encode,
        _np_sub_dists_int,
    )

    rng = np.random.default_rng(7)
    V = rng.standard_normal((200, 64))
    cb = rng.standard_normal((16, 8))
    d = _np_sub_dists_int(V, 3, [list(r) for r in cb])
    for i in range(0, 200, 7):
        for j in range(16):
            assert d[i, j] == _py_sq_dist_int(V[i, 24:32], cb[j]), (i, j)

    C = [list(r) for r in rng.standard_normal((8, 64))]
    nd = np_coarse_nd(V, C)
    for i in range(0, 200, 7):
        for j in range(8):
            assert nd[i, j] == _py_quantized_neg_cos(V[i], C[j]), (i, j)

    # m=8 subspaces × ks=16 codewords of 8 dims; sid 12 repeats sid 4
    cbs = rng.standard_normal((8, 16, 8))
    cbs[:, 12] = cbs[:, 4]
    codes = _np_encode(V, [[list(c) for c in sub] for sub in cbs])
    for i in range(200):
        want = []
        for s in range(8):
            dists = [_py_sq_dist_int(V[i, 8 * s : 8 * s + 8], c) for c in cbs[s]]
            want.append(dists.index(min(dists)))  # first minimum = smallest sid
        assert list(codes[i]) == want, i
    assert (codes == 4).any() and not (codes == 12).any()


def test_cms_sketch_stream_matches_batch(spark, tmp_path):
    """The CMS counters maintained as a STREAMING aggregation (update
    mode, groupBy (d, b) — bounded state: ≤ D·W rows regardless of
    corpus size) must equal the batch-built sketch after an availableNow
    drain: the sketch is a commutative monoid, so continuous maintenance
    and batch rebuild are the same object."""
    from crypto_market_tracker_etl_spark.queries_ext import _documents
    from crypto_market_tracker_etl_spark.queries_ext2 import _cms_buckets
    from crypto_market_tracker_etl_spark.functions.textstats import normalize_ws

    docs = _documents(spark, SF_DIR).select("doc_id", "text")
    src = str(tmp_path / "docs")
    docs.write.mode("overwrite").parquet(src)

    def counters(df):
        tok = df.select(
            F.explode(F.split(normalize_ws(F.col("text")), " ")).alias("token")
        ).filter(F.col("token") != "")
        return (
            tok.select(F.explode(_cms_buckets(F.col("token"))).alias("db"))
            .select("db.d", "db.b")
            .groupBy("d", "b")
            .agg(F.count(F.lit(1)).alias("cnt"))
        )

    stream = spark.readStream.schema(docs.schema).parquet(src)
    q = (
        counters(stream)
        .writeStream.format("memory")
        .queryName("cms_stream")
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 180)
    got = {
        (r["d"], r["b"]): r["cnt"]
        for r in spark.sql("select * from cms_stream").collect()
    }
    want = {(r["d"], r["b"]): r["cnt"] for r in counters(docs).collect()}
    assert got == want


def test_setsim_prefix_length_float_boundary(spark):
    """ceil(double(tau)*sz) overshoots when tau*sz is an exact integer
    whose double product rounds high (tau=0.07, sz=100 → 8 not 7),
    shortening the prefix and silently LOSING pairs. Construction: x has
    100 elements, y is exactly x's 7 rarity-order-LAST elements
    (J = 7/100 = tau); the correct 94-prefix of x reaches them, the buggy
    93-prefix does not. The epsilon-guarded bound must find the pair."""
    from crypto_market_tracker_etl_spark.operators.dedup import (
        set_similarity_join,
    )

    # x's 93 private elements sort FIRST in x's rarity order (freq 1 vs
    # the shared elements' freq 2), so the shared block sits at positions
    # 94-100 — outside the buggy prefix, inside the correct one.
    rows = [(0, f"a{i:03d}") for i in range(93)]
    rows += [(0, f"z{i}") for i in range(7)]
    rows += [(1, f"z{i}") for i in range(7)]
    tokens = spark.createDataFrame(rows, "doc_id long, w string")
    got = {
        (r["doc_a"], r["doc_b"]): r["jaccard"]
        for r in set_similarity_join(tokens, 0.07).collect()
    }
    assert got == {(0, 1): 0.07}


def test_setsim_keeps_set_semantics_with_duplicate_rows(spark):
    """Repeated (doc_id, w) rows, and repeated elements in a caller's
    ``sets`` arrays, are one set element: duplicates must neither inflate a
    doc's size (skewing J down) nor take prefix positions (pushing shared
    elements out of the prefix). Compared against brute-force Jaccard over
    the distinct sets, on both the grouped and the ``sets=`` path."""
    import random

    from pyspark.sql import functions as F

    from crypto_market_tracker_etl_spark.operators.dedup import (
        set_similarity_join,
    )

    rnd = random.Random(7)
    docs = [
        rnd.sample(range(14), rnd.randint(2, 7)) for _ in range(12)
    ] + [[0, 1, 2, 3], [0, 1, 2, 4], [5, 6, 7, 8, 9], [5, 6, 7, 8, 9, 10]]
    rows = [
        (i, f"e{e}") for i, d in enumerate(docs) for e in d
        for _ in range(rnd.choice([1, 1, 2, 4]))
    ]
    assert len(rows) > sum(map(len, docs))  # duplicates are present
    tokens = spark.createDataFrame(rows, "doc_id long, w string")
    sets = tokens.groupBy("doc_id").agg(F.collect_list("w").alias("ws"))
    for tau in (0.3, 0.5, 0.8):
        want = {}
        for a in range(len(docs)):
            for b in range(a + 1, len(docs)):
                sa, sb = set(docs[a]), set(docs[b])
                j = len(sa & sb) / len(sa | sb)
                if j >= tau:
                    want[(a, b)] = round(j, 4)
        assert want  # some pairs qualify at every tau
        for kw in ({}, {"sets": sets}):
            got = {
                (r["doc_a"], r["doc_b"]): r["jaccard"]
                for r in set_similarity_join(tokens, tau, **kw).collect()
            }
            assert got == want, (tau, sorted(kw), got, want)


def test_word_shingles_normalizes_each_row_once(spark):
    """The token array is built once per row, not once per shingle token:
    Spark does no common-subexpression elimination across a lambda
    boundary, so a `split(normalize_ws(text))` referenced inside the
    shingle lambda shows up in the optimized plan once per reference (6
    `regexp_replace` calls per row at n=3). The shingle column is aliased
    because an unaliased column's name repeats the expression text."""
    from crypto_market_tracker_etl_spark.operators.dedup import (
        minhash_signatures,
        word_shingles,
    )

    docs = load_table(spark, SF_DIR, "documents")
    for df in (
        docs.select(word_shingles(F.col("text")).alias("shingles")),
        minhash_signatures(docs),
    ):
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        assert plan.count("regexp_replace(") == 1, plan


def test_triangle_stats_rejects_out_of_range_ids(spark):
    """The packed (deg, id) rank needs ids in [0, 2^32); violating the
    precondition must FAIL LOUD (assert_true), never silently drop edges
    and undercount."""
    import pytest

    from crypto_market_tracker_etl_spark.operators.graph import triangle_stats

    bad = spark.createDataFrame(
        [(-1, 2), (2, -1), (2, 3), (3, 2), (-1, 3), (3, -1)],
        "src long, dst long",
    )
    with pytest.raises(Exception) as exc:
        triangle_stats(bad).collect()
    assert "node ids must be in" in str(exc.value)


def test_dup_extents_merges_planted_run(spark, tmp_path):
    """Two docs sharing one contiguous 12-token run must yield exactly one
    maximal extent per doc of 12 tokens = 5 overlapping 8-token windows —
    not 5 separate spans — and disjoint shared runs must stay separate
    extents."""
    import pyspark.sql.functions as F

    shared = " ".join(f"s{i}" for i in range(12))  # 12-token duplicated run
    shared2 = " ".join(f"z{i}" for i in range(8))  # second, disjoint run
    filler_a = " ".join(f"a{i}" for i in range(10))
    filler_b = " ".join(f"b{i}" for i in range(10))
    docs = spark.createDataFrame(
        [
            (1, f"{shared} {filler_a} {shared2}", "s1"),
            (2, f"{filler_b} {shared} x9 {shared2}", "s2"),
        ],
        "doc_id long, text string, source string",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from crypto_market_tracker_etl_spark.queries_ext import q_dup_extents

    got = {
        (r.doc_id, r.start_tok): (r.end_tok, r.n_tokens, r.n_windows)
        for r in q_dup_extents(spark, sf).collect()
    }
    # doc 1: run at tokens 1-12 (5 windows), run2 at tokens 23-30 (1 window)
    # doc 2: run at tokens 11-22, run2 at tokens 24-31
    assert got[(1, 1)] == (12, 12, 5)
    assert got[(1, 23)] == (30, 8, 1)
    assert got[(2, 11)] == (22, 12, 5)
    assert got[(2, 24)] == (31, 8, 1)
    assert len(got) == 4


def test_dedup_cut_spans_removes_planted_runs(spark, tmp_path):
    """The cut rewrite must remove exactly the flagged extents: with the
    planted two-doc corpus, each doc loses its two shared runs and keeps
    its unique filler, and a doc with no duplicated material is
    untouched (n_cuts=0, fingerprint of the original tokens)."""
    import hashlib

    import pyspark.sql.functions as F

    shared = " ".join(f"s{i}" for i in range(12))
    shared2 = " ".join(f"z{i}" for i in range(8))
    filler_a = " ".join(f"a{i}" for i in range(10))
    filler_b = " ".join(f"b{i}" for i in range(10))
    solo = " ".join(f"u{i}" for i in range(9))
    docs = spark.createDataFrame(
        [
            (1, f"{shared} {filler_a} {shared2}", "s1"),
            (2, f"{filler_b} {shared} x9 {shared2}", "s2"),
            (3, solo, "s3"),
        ],
        "doc_id long, text string, source string",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from crypto_market_tracker_etl_spark.queries_ext import q_dedup_cut_spans

    got = {
        r.doc_id: (r.n_tok_before, r.n_tok_after, r.n_cuts, r.clean_fp)
        for r in q_dedup_cut_spans(spark, sf).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    assert got[1] == (30, 10, 2, md5(filler_a))
    assert got[2] == (31, 11, 2, md5(f"{filler_b} x9"))
    assert got[3] == (9, 9, 0, md5(solo))


def test_dedup_keep_one_span_keeps_canonical(spark, tmp_path):
    """Lee-et-al. keep-one policy: every duplicated extent survives in
    EXACTLY one place — the globally-first occurrence (min (doc_id,
    pos)) — and is cut everywhere else, including a second occurrence
    WITHIN the canonical doc itself."""
    import hashlib

    shared = " ".join(f"s{i}" for i in range(12))
    shared2 = " ".join(f"z{i}" for i in range(8))
    filler_a = " ".join(f"a{i}" for i in range(10))
    filler_b = " ".join(f"b{i}" for i in range(10))
    solo = " ".join(f"u{i}" for i in range(9))
    rep = " ".join(f"y{i}" for i in range(12))
    docs = spark.createDataFrame(
        [
            (1, f"{shared} {filler_a} {shared2}", "s1"),
            (2, f"{filler_b} {shared} x9 {shared2}", "s2"),
            (3, solo, "s3"),
            # rep appears TWICE in doc 4 and once in doc 5: only doc 4's
            # first occurrence survives
            (4, f"{rep} q0 q1 {rep}", "s4"),
            (5, f"w0 {rep} w1", "s5"),
        ],
        "doc_id long, text string, source string",
    )
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")
    from crypto_market_tracker_etl_spark.queries_ext import (
        q_dedup_keep_one_span,
    )

    got = {
        r.doc_id: (
            r.n_tok_before,
            r.n_tok_after,
            r.n_cut_ext,
            r.n_kept_ext,
            r.clean_fp,
        )
        for r in q_dedup_keep_one_span(spark, sf).collect()
    }
    md5 = lambda s: hashlib.md5(s.encode()).hexdigest()  # noqa: E731
    # doc 1 is globally first for both runs: fully intact, two shields
    assert got[1] == (30, 30, 0, 2, md5(f"{shared} {filler_a} {shared2}"))
    # doc 2 loses both runs (same as cut-all)
    assert got[2] == (31, 11, 2, 0, md5(f"{filler_b} x9"))
    # doc 3 has no duplicated material
    assert got[3] == (9, 9, 0, 0, md5(solo))
    # doc 4: first rep survives (shield), second rep cut; doc 5 loses rep
    assert got[4] == (26, 14, 1, 1, md5(f"{rep} q0 q1"))
    assert got[5] == (14, 2, 1, 0, md5("w0 w1"))


def test_minhash_store_compaction_invariance(spark, tmp_path):
    """compact() must be invisible to every consumer: read() returns the
    same (doc, fingerprint, signature) rows, a re-delivered unchanged
    batch still signs nothing, and the pair-union invariant (incremental
    == from-scratch) keeps holding for batches upserted AFTER the fold."""
    from crypto_market_tracker_etl_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
    )
    from crypto_market_tracker_etl_spark.operators.incremental_dedup import (
        MinHashSignatureStore,
    )

    corpus = _near_dup_corpus(spark)
    a = corpus.filter(F.col("doc_id") % 3 == 0)
    b = corpus.filter(F.col("doc_id") % 3 == 1)
    c = corpus.filter(F.col("doc_id") % 3 == 2)
    store = MinHashSignatureStore(spark, str(tmp_path / "sigs"))
    got = set()
    for batch in (a, b):
        got |= {
            (r.id_a, r.id_b)
            for r in store.incremental_pairs(store.upsert_batch(batch)).collect()
        }

    def snapshot(df):
        return {
            (r.doc_id, r.content_fp, tuple(r.minhash)) for r in df.collect()
        }

    before = snapshot(store.read())
    assert store.compact() == 2
    assert snapshot(store.read()) == before
    assert store.compact() == 0  # single batch left: nothing to fold
    assert store.upsert_batch(a).count() == 0  # unchanged redelivery

    got |= {
        (r.id_a, r.id_b)
        for r in store.incremental_pairs(store.upsert_batch(c)).collect()
    }
    full = lsh_candidate_pairs(minhash_signatures(corpus))
    assert got == {(r.id_a, r.id_b) for r in full.collect()}


def test_lm_perplexity_kn_matches_python_model(spark, tmp_path):
    """Interpolated-KN scoring vs a from-the-paper pure-Python model on a
    tiny planted corpus (third independent check beyond the DuckDB
    arithmetic replay): P(w2|w1) = (c-d)/c(w1) + d*N1+(w1,.)/c(w1) *
    N1+(.,w2)/|bigram types|, d=0.75."""
    import math
    from collections import Counter

    rows = [
        (1, "a b a c a b", "s"),
        (2, "b a c c a", "s"),
        (3, "c a b a c a", "s"),
        (4, "solo", "s"),  # <2 tokens: contributes no transitions
    ]
    docs = spark.createDataFrame(rows, "doc_id long, text string, source string")
    sf = str(tmp_path)
    docs.write.mode("overwrite").parquet(f"{sf}/documents.parquet")

    d = 0.75
    tr = Counter()
    for doc_id, text, _ in rows:
        toks = text.split()
        for i in range(len(toks) - 1):
            tr[(doc_id, toks[i], toks[i + 1])] += 1
    bg = Counter()
    for (_, w1, w2), c in tr.items():
        bg[(w1, w2)] += c
    uc = Counter()
    n1f = Counter()
    n1c = Counter()
    for (w1, w2), c in bg.items():
        uc[w1] += c
        n1f[w1] += 1
        n1c[w2] += 1
    nbt = len(bg)
    want = {}
    for doc_id in {k[0] for k in tr}:
        num, den = 0.0, 0
        for (did, w1, w2), c in tr.items():
            if did != doc_id:
                continue
            p = (bg[(w1, w2)] - d) / uc[w1] + ((d * n1f[w1]) / uc[w1]) * (
                n1c[w2] / nbt
            )
            num += c * math.log(p)
            den += c
        want[doc_id] = (den, round(-num / den, 4))

    from crypto_market_tracker_etl_spark.queries_ext import q_lm_perplexity_kn

    got = {
        r.doc_id: (r.n_trans, r.xent_kn)
        for r in q_lm_perplexity_kn(spark, sf).collect()
    }
    assert got == want, (got, want)


def test_minhash_store_ignores_uncommitted_batch_dirs(spark, tmp_path):
    """A write that died before its manifest commit leaves a data dir no
    manifest references: readers never list it (no schema-inference
    wedge on its torn file), the next commit's sweep removes it, and so
    does opening the store."""
    import os

    from crypto_market_tracker_etl_spark.operators.incremental_dedup import (
        MinHashSignatureStore,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = str(tmp_path / "sigs")
    store = MinHashSignatureStore(spark, path)
    n = docs.count()
    assert store.upsert_batch(docs).count() == n

    def torn(name):
        d = os.path.join(path, "data", name)
        os.makedirs(d)
        with open(os.path.join(d, "part-00000.parquet"), "w") as f:
            f.write("torn write")
        return d

    partial = torn("crashed-upsert")
    assert store.read().count() == n  # partial dir invisible
    changed = docs.withColumn(
        "text",
        F.when(F.col("doc_id") == 3, F.concat(F.col("text"), F.lit(" x")))
        .otherwise(F.col("text")),
    )
    assert store.upsert_batch(changed).count() == 1
    assert not os.path.isdir(partial)  # swept by the commit
    partial = torn("crashed-compact")
    reopened = MinHashSignatureStore(spark, path)
    assert not os.path.isdir(partial)  # swept by the open
    assert reopened.read().count() == n
    assert reopened.compact() == 2
    assert len(os.listdir(os.path.join(path, "data"))) == 1
    assert reopened.read().count() == n


def test_minhash_store_second_writer_loses_cas(spark, tmp_path):
    """Two writers on one store: the one committing from a stale
    manifest version raises CommitConflictError (no retry, no merge),
    the winner's batch is the store, and the loser's directory is swept
    at the next open."""
    import os

    from crypto_market_tracker_etl_spark.operators.incremental_dedup import (
        MinHashSignatureStore,
    )
    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        CommitConflictError,
    )

    docs = load_table(spark, SF_DIR, "documents").select("doc_id", "text")
    path = str(tmp_path / "sigs")
    first = MinHashSignatureStore(spark, path)
    second = MinHashSignatureStore(spark, path)
    n = first.upsert_batch(docs.filter(F.col("doc_id") % 2 == 0)).count()
    with pytest.raises(CommitConflictError):
        second.upsert_batch(docs.filter(F.col("doc_id") % 2 == 1))
    reopened = MinHashSignatureStore(spark, path)
    assert reopened.read().count() == n
    assert len(os.listdir(os.path.join(path, "data"))) == 1


def _py_bmp_dims(b: bytes):
    """Independent pure-Python BMP dims: the same two-layout dispatch
    any image library ships — DIB size 12 = CORE (unsigned LE16), else
    INFO-class (signed LE32, |height| for top-down files)."""
    import struct

    if b[:2] != b"BM" or b[6:10] != b"\x00\x00\x00\x00":
        return None
    dib = struct.unpack("<I", b[14:18])[0]
    if dib == 12:
        return struct.unpack("<HH", b[18:22])
    w, h = struct.unpack("<ii", b[18:26])
    return (w, abs(h))


def test_bmp_roundtrip_both_layouts():
    """r10 BMP: INFO layout (signed LE32 dims — the top-down half
    stores a NEGATIVE height the parse must report as |height|) and the
    legacy CORE layout (unsigned LE16 at different offsets). Engine
    parse ≡ the independent pure-Python reference on every row."""
    import struct

    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        sniff_mime,
        synth_bmp,
    )

    for i in range(1, 40):
        w, h = i * 37 % 4096 + 1, i * 11 % 4096 + 1
        info = synth_bmp(w, h, top_down=i % 2 == 0)
        core = synth_bmp(w, h, core=True)
        for p in (info, core):
            assert parse_image_meta(p) == ("image/bmp", w, h), (p[14:18], i)
            assert _py_bmp_dims(p) == (w, h), (p[14:18], i)
        assert sniff_mime(info) == "image/bmp"
        if i % 2 == 0:  # the top-down half really stores negative
            assert struct.unpack("<i", info[22:26])[0] == -h


def test_bmp_weak_magic_gate():
    """"BM" alone is two bytes of text; the gate requires the
    spec-mandated zero reserved bytes, so "BMW motorcycles are..." is
    NOT routed as an image (the MP3-sync tightening applied to BMP)."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        sniff_mime,
    )

    cases = [
        (1, b"BMW motorcycles are built in Berlin since 1969"),
        (2, b"BM"),  # too short for any header
        (3, b"BM\x00\x00\x00\x00\x00\x00\x00\x00"),  # reserved ok, no DIB
    ]
    by_id = {k: (sniff_mime(p), parse_image_meta(p)) for k, p in cases}
    assert by_id[1][0] == "application/octet-stream"
    assert by_id[1][1][0] == "application/octet-stream"
    assert by_id[2][0] == "application/octet-stream"
    # truncated-but-gated: routed image/bmp, dims NULL, never an error
    assert by_id[3][0] == "image/bmp"
    assert by_id[3][1][1] is None and by_id[3][1][2] is None


def _py_ispe_dims(b: bytes):
    """Independent pure-Python HEIF dims: a REAL box walk descending
    meta (fullbox) → iprp → ipco to the ispe ImageSpatialExtents — the
    walk any HEIF reader performs, not an offset table."""
    import struct

    def walk(lo, hi):
        p = lo
        while p + 8 <= hi:
            size, tag = struct.unpack(">I4s", b[p : p + 8])
            if size < 8:
                return None
            if tag == b"ispe":
                return struct.unpack(">II", b[p + 12 : p + 20])
            if tag in (b"meta", b"iprp", b"ipco"):
                got = walk(p + (12 if tag == b"meta" else 8), p + size)
                if got:
                    return got
            p += size
        return None

    return walk(0, len(b))


def test_heic_avif_ispe_roundtrip():
    """r10 HEIF family: genuine BMFF prefixes with the real
    meta→hdlr→iprp→ipco→ispe nesting under HEIC and AVIF major brands;
    dims come from the ispe box via the bounded box descent. Engine
    parse ≡ the independent pure-Python box WALKER (which descends the
    actual nesting, proving the synth is a real HEIF layout)."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        sniff_mime,
        synth_heic,
    )

    for i in range(1, 40):
        w, h = i * 37 % 4096 + 1, i * 11 % 4096 + 1
        for brand, mime in (("heic", "image/heic"), ("avif", "image/avif"),
                            ("mif1", "image/heif")):
            p = synth_heic(brand, w, h)
            assert parse_image_meta(p) == (mime, w, h), (brand, i)
            assert _py_ispe_dims(p) == (w, h), (brand, i)
        # router and parser agree
        assert sniff_mime(synth_heic("heic", w, h)) == "image/heic"


def test_heic_decoy_ispe_defeated_by_descent():
    """r11 HEIF hardening: the decoy synth plants a byte-aligned fake
    'ispe' pattern (with dims +9999) inside the hdlr NAME, between the
    meta header and the real property chain — exactly where the r10
    anchored byte scan looked first. The box descent must hop hdlr as
    one sibling and report the REAL dims on every doc; the independent
    pure-Python walker (which descends the true nesting) must agree —
    and must ALSO be undeceived, proving the decoy is inside a box
    body, not accidentally a well-formed sibling box."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        sniff_mime,
        synth_heic,
    )

    for i in range(1, 40):
        w, h = i * 37 % 4096 + 1, i * 11 % 4096 + 1
        for brand, mime in (("heic", "image/heic"), ("avif", "image/avif")):
            blob = synth_heic(brand, w, h, decoy=True)
            assert b"ispe" in blob[:81], "decoy missing from hdlr area"
            got = parse_image_meta(blob)
            assert got == (mime, w, h), (brand, i, got)
            assert _py_ispe_dims(blob) == (w, h), (brand, i)
        assert sniff_mime(synth_heic("heic", w, h, decoy=True)) == "image/heic"


def test_heic_gate_and_malformed_never_error():
    """The brand gate and the honest NULLs: a video-brand BMFF is NOT
    an image here (video_meta's territory — the catalog routes it);
    an HEIC ftyp with no meta box, and one whose meta carries no ispe,
    are routed image/heic with NULL dims, never an error."""
    from crypto_market_tracker_etl_spark.multimodal.pymedia import (
        parse_image_meta,
        synth_heic,
        synth_mp4,
    )

    heic = synth_heic("heic", 9, 9)
    r = {
        "v": parse_image_meta(synth_mp4("isom", 600, 6000, 1)),
        "nm": parse_image_meta(heic[:20]),  # ftyp only
        # meta truncated before the property chain
        "ni": parse_image_meta(heic[:60]),
    }
    assert r["v"][0] == "application/octet-stream"  # not an image
    for k in ("nm", "ni"):
        assert r[k][0] == "image/heic"
        assert r[k][1] is None and r[k][2] is None, k
