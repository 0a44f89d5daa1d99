"""Persistent IVF-PQ index (operators/ann_index.py): build / append /
stream-maintain / probe, with probe parity against the ad-hoc scorer, a
partition-pruning plan assertion (pruning IS the index lookup) and crash
safety through a failed manifest commit."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from crypto_market_tracker_etl_spark.catalog import load_table
from crypto_market_tracker_etl_spark.operators.ann_index import IvfPqIndex
from crypto_market_tracker_etl_spark.operators.pq import ivf_pq_topk
from tests.conftest import SF_DIR, await_drain


def _rows(df):
    return sorted(map(tuple, df.collect()))


def _failed_commit(monkeypatch, spark, path, op):
    """Run ``op`` with every manifest commit raising, then reopen the
    index: the reopened index must be the last committed version, with
    no data directory its manifest does not reference."""
    from crypto_market_tracker_etl_spark.operators import store_manifest

    def crash(*_a, **_k):
        raise OSError("crash at commit")

    with monkeypatch.context() as mp:
        mp.setattr(store_manifest, "manifest_commit", crash)
        with pytest.raises(OSError, match="crash at commit"):
            op()
    idx = IvfPqIndex(spark, path)
    live = {
        os.path.basename(d)
        for store in ("lists", "deletes")
        for d in idx.manifest.dirs(store)
    }
    assert set(os.listdir(os.path.join(path, "data"))) == live
    return idx


def test_index_probe_matches_adhoc_scorer(spark, tmp_path):
    """probe() over the stored index must be bit-identical to ivf_pq_topk
    run ad-hoc with the index's own frozen quantizers."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), emb, k_lists=8)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    got = _rows(idx.probe(q, k=3, nprobe=2, rerank=50))
    want = _rows(
        ivf_pq_topk(
            emb, q, idx.centroids, idx.codebooks, k=3, nprobe=2, rerank=50
        )
    )
    assert got == want and got


def test_index_append_then_probe_covers_new_vectors(spark, tmp_path):
    """Quantizers freeze at build; appended vectors are encoded with them
    and the probe equals the ad-hoc scorer over the FULL corpus using the
    frozen quantizers (a production index never re-derives its quantizers
    from a batch — that would re-map previously written codes)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), first, k_lists=8)
    idx.append(rest)
    assert idx.read().count() == emb.count()
    q = emb.filter(F.col("vec_id") % 50 == 0)
    got = _rows(idx.probe(q, k=3, nprobe=2, rerank=50))
    want = _rows(
        ivf_pq_topk(
            emb, q, idx.centroids, idx.codebooks, k=3, nprobe=2, rerank=50
        )
    )
    assert got == want
    # compaction folds the per-append small files without changing results
    idx.compact()
    assert _rows(idx.probe(q, k=3, nprobe=2, rerank=50)) == want


def test_stream_maintains_ann_index(spark, tmp_path):
    """foreachBatch(append) IS the streaming maintainer: drain a parquet
    stream of new vectors with availableNow and the probe sees them."""
    emb = load_table(spark, SF_DIR, "embeddings")
    first = emb.filter(F.col("vec_id") < 250)
    rest = emb.filter(F.col("vec_id") >= 250)
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), first, k_lists=8)

    src = str(tmp_path / "incoming")
    rest.write.mode("overwrite").parquet(src)
    stream = spark.readStream.schema(rest.schema).parquet(src)
    q = (
        stream.writeStream.foreachBatch(lambda b, _eid: idx.append(b))
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    await_drain(q, 120)

    queries = emb.filter(F.col("vec_id") % 50 == 0)
    got = _rows(idx.probe(queries, k=3, nprobe=2, rerank=50))
    want = _rows(
        ivf_pq_topk(
            emb, queries, idx.centroids, idx.codebooks, k=3, nprobe=2, rerank=50
        )
    )
    assert got == want


def test_index_probe_prunes_partitions(spark, tmp_path):
    """The probed-lists filter must reach the scan as a PARTITION filter —
    non-probed lists' files are skipped before Spark lists them. This is
    the at-scale index lookup."""
    import re

    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex.build(
        spark, str(tmp_path / "idx"), emb.filter(F.col("vec_id") < 250),
        k_lists=8,
    )
    idx.append(emb.filter(F.col("vec_id") >= 250))
    assert len(idx.manifest.dirs("lists")) == 2
    q = emb.filter(F.col("vec_id") % 50 == 0)
    df = idx.probe(q, k=3, nprobe=2, rerank=50)
    jvm = spark._jvm
    s = df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )
    # one scan per directory, and every scan keeps the list_id filter
    filters = re.findall(r"PartitionFilters: \[([^\]]*)\]", s)
    assert len(filters) >= 2, s[:2000]
    assert all("list_id" in f for f in filters), filters
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s


def test_residual_index_round_trip(spark, tmp_path):
    """Residual (IVFADC) indexes store residual codes; probe is
    deterministic and honors the same contract."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex.build(
        spark, str(tmp_path / "idx"), emb, k_lists=8, residual=True
    )
    q = emb.filter(F.col("vec_id") % 50 == 0)
    r1 = _rows(idx.probe(q, k=3, nprobe=2, rerank=50))
    r2 = _rows(idx.probe(q, k=3, nprobe=2, rerank=50))
    assert r1 == r2 and r1
    want = _rows(
        ivf_pq_topk(
            emb, q, idx.centroids, idx.codebooks, k=3, nprobe=2, rerank=50,
            residual=True,
        )
    )
    assert r1 == want
    by_q = {}
    for qid, _nid, _d, rank in r1:
        by_q.setdefault(qid, []).append(rank)
    assert all(sorted(v) == list(range(1, len(v) + 1)) for v in by_q.values())


def test_build_refuses_existing_index(spark, tmp_path):
    """In-place rebuild would mix codes from different quantizers under
    one meta — build must refuse a path that already holds an index, and
    refuse any other non-empty path before opening it (opening sweeps
    ``data/``), leaving its files alone."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    IvfPqIndex.build(spark, path, emb, k_lists=8)
    with pytest.raises(ValueError, match="not empty"):
        IvfPqIndex.build(spark, path, emb, k_lists=8)
    other = tmp_path / "other"
    (other / "data" / "keep").mkdir(parents=True)
    with pytest.raises(ValueError, match="not empty"):
        IvfPqIndex.build(spark, str(other), emb, k_lists=8)
    with pytest.raises(FileNotFoundError, match="holds no index"):
        IvfPqIndex(spark, str(other))
    assert os.listdir(other / "data") == ["keep"]


def test_compact_crash_recovery(spark, tmp_path, monkeypatch):
    """A delete or a compact whose manifest commit fails leaves the index
    exactly as it was: a fresh open probes identically, keeps the
    tombstones the failed compact would have cleared, and sweeps the
    failed call's directories."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    idx = IvfPqIndex.build(spark, path, emb, k_lists=8)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    want = _rows(idx.probe(q, k=3, nprobe=8, rerank=50))
    victims = sorted({r[1] for r in want})[:3]

    idx = _failed_commit(monkeypatch, spark, path, lambda: idx.delete(victims))
    assert _rows(idx.probe(q, k=3, nprobe=8, rerank=50)) == want

    idx.delete(victims)
    after = _rows(idx.probe(q, k=3, nprobe=8, rerank=50))
    assert after != want and not {r[1] for r in after} & set(victims)
    idx = _failed_commit(monkeypatch, spark, path, idx.compact)
    assert _rows(idx.probe(q, k=3, nprobe=8, rerank=50)) == after
    assert idx.read().count() == emb.count()  # nothing erased yet
    idx.compact()
    assert idx.read().count() == emb.count() - len(victims)
    assert _rows(idx.probe(q, k=3, nprobe=8, rerank=50)) == after


def test_probe_handles_empty_and_excess_nprobe(spark, tmp_path):
    """Empty query sets return empty frames (not numpy shape errors), an
    empty batch (a foreachBatch micro-batch with no rows) commits no
    unreadable directory, and nprobe beyond the list count degrades to
    probing every list."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), emb, k_lists=8,
                           residual=True)
    none = emb.filter(F.col("vec_id") < 0)
    assert idx.probe(none, k=3).count() == 0
    version = idx.manifest.version
    idx.append(none)
    assert idx.manifest.version == version
    assert len(os.listdir(tmp_path / "idx" / "data")) == 1
    q = emb.filter(F.col("vec_id") % 100 == 0)
    big = idx.probe(q, k=3, nprobe=99, rerank=50)
    assert big.count() > 0


def test_filtered_probe_prefilters_metadata(spark, tmp_path):
    """probe(where=) must (a) return only rows satisfying the predicate,
    (b) equal the exact brute-force top-k over the FILTERED corpus when
    every list is probed and the re-rank shortlist covers it (pre-filter
    semantics: candidates are filtered BEFORE scoring, so k never shrinks
    post-hoc), and (c) keep unfiltered probes bit-identical to before."""
    import numpy as np

    emb = load_table(spark, SF_DIR, "embeddings").withColumn(
        "grp", (F.col("vec_id") % 2 == 0).cast("string")
    )
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), emb, k_lists=4)
    q = emb.filter(F.col("vec_id") % 100 == 0).drop("grp")
    got = idx.probe(q, k=3, nprobe=4, rerank=10**6, where="grp = 'true'")
    rows = got.collect()
    assert rows
    even_ids = {
        r["vec_id"] for r in emb.filter("grp = 'true'").select("vec_id").collect()
    }
    assert {r["neighbor_id"] for r in rows} <= even_ids
    # brute-force reference over the filtered corpus (all lists probed,
    # shortlist unbounded → exact top-k by true distance)
    corpus = {
        r["vec_id"]: np.array(r["embedding"], dtype=np.float64)
        for r in emb.filter("grp = 'true'").collect()
    }
    by_q = {}
    for r in rows:
        by_q.setdefault(r["query_id"], []).append(r)
    for r in q.collect():
        qv = np.array(r["embedding"], dtype=np.float64)
        # the tier's contract excludes self-matches (nid != qid everywhere)
        dists = sorted(
            (float(((qv - v) ** 2).sum()), nid)
            for nid, v in corpus.items()
            if nid != r["vec_id"]
        )
        want = [nid for _, nid in dists[:3]]
        got_ids = [
            x["neighbor_id"]
            for x in sorted(by_q[r["vec_id"]], key=lambda x: x["rank"])
        ]
        assert got_ids == want, (r["vec_id"], got_ids, want)
    # the unfiltered probe is unchanged by metadata being stored
    base = _rows(idx.probe(q, k=3, nprobe=2, rerank=50))
    want_base = _rows(
        ivf_pq_topk(
            emb.drop("grp"), q, idx.centroids, idx.codebooks,
            k=3, nprobe=2, rerank=50,
        )
    )
    assert base == want_base


def test_delete_tombstones_then_compact_erases(spark, tmp_path):
    """delete(ids) suppresses vectors from every probe immediately
    (tombstone anti-join); compact() is the physical-erasure point: rows
    leave the data files, the tombstone dir clears, and probes are
    unchanged. Probe parity holds against the ad-hoc scorer over the
    corpus minus the deleted ids (same frozen quantizers)."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), emb, k_lists=8)
    q = emb.filter(F.col("vec_id") % 50 == 0)
    before = idx.probe(q, k=3, nprobe=8, rerank=50)
    victims = sorted(
        {r["neighbor_id"] for r in before.collect()}
    )[:5]  # delete actual neighbors so results MUST change
    idx.delete(victims)
    after = _rows(idx.probe(q, k=3, nprobe=8, rerank=50))
    assert not ({r[1] for r in after} & set(victims))
    want = _rows(
        ivf_pq_topk(
            emb.filter(~F.col("vec_id").isin(victims)), q,
            idx.centroids, idx.codebooks, k=3, nprobe=8, rerank=50,
        )
    )
    assert after == want
    n_live = emb.count() - len(victims)
    assert idx.read().count() == emb.count()  # suppressed, not yet erased
    idx.compact()
    assert idx.read().count() == n_live  # physically gone
    assert idx.manifest.dirs("deletes") == []
    assert _rows(idx.probe(q, k=3, nprobe=8, rerank=50)) == want


def test_compact_refuses_to_empty_the_index(spark, tmp_path):
    """Tombstoning EVERY vector then compacting must refuse (a file-less
    data dir would brick reads and clearing tombstones would lose the
    deletes) — and leave suppression fully intact."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), emb, k_lists=4)
    idx.delete(emb.select("vec_id"))
    q = emb.filter(F.col("vec_id") % 100 == 0)
    assert idx.probe(q, k=3, nprobe=4).count() == 0  # all suppressed
    with pytest.raises(ValueError, match="empty the index"):
        idx.compact()
    assert idx.probe(q, k=3, nprobe=4).count() == 0  # still suppressed


def test_delete_plain_iterable_matches_stored_id_type(spark, tmp_path):
    """Regression (ADVICE r4): delete() with a plain iterable used to
    hardcode int(i) + a 'long' schema — an index built over a STRING id
    column crashed (or anti-joined on mismatched types). The tombstone
    frame must take the stored corpus's actual id type."""
    emb = load_table(spark, SF_DIR, "embeddings").limit(200)
    emb_s = emb.select(
        F.concat(F.lit("doc-"), F.col("vec_id")).alias("sid"), "embedding"
    )
    idx = IvfPqIndex.build(
        spark, str(tmp_path / "idx_s"), emb_s, k_lists=4, id_col="sid"
    )
    n = idx.read().count()
    victims = ["doc-0", "doc-7"]
    idx.delete(victims)  # plain python list of STRING ids
    tombs = {r["sid"] for r in idx.manifest.read(spark, "deletes").collect()}
    assert tombs == set(victims)  # typed string, not a long-cast crash
    idx.compact()  # physical erasure path anti-joins on the string ids
    left = {r["sid"] for r in idx.read().select("sid").collect()}
    assert idx.read().count() == n - 2
    assert not (left & set(victims))


def test_delete_plain_iterable_on_empty_index_is_loud(spark, tmp_path):
    """Regression (review r4): a plain-iterable delete before the first
    append cannot know the id type — it must raise the documented error,
    not crash in spark.read or silently write a mistyped tombstone."""
    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        manifest_commit,
    )

    idx_path = str(tmp_path / "empty_idx")
    meta = {"centroids": [[0.0] * 64], "codebooks": [], "residual": False,
            "id_col": "vec_id", "vec_col": "embedding"}
    assert manifest_commit(idx_path, 0, {"stores": {}, "index": meta})
    idx = IvfPqIndex(spark, idx_path)
    with pytest.raises(ValueError, match="no stored vectors"):
        idx.delete([1, 2])


def test_maintain_recluster_lifecycle(spark, tmp_path, monkeypatch):
    """The detect→repair loop: build → append a far-away cluster →
    drift() trips the threshold → a maintain() whose commit fails leaves
    the index as it was → maintain() re-derives the quantizers in one
    commit → reconstruction health and probe recall are restored and
    tombstones resolved."""
    emb = load_table(spark, SF_DIR, "embeddings")
    path = str(tmp_path / "idx")
    idx = IvfPqIndex.build(spark, path, emb, k_lists=8)

    # below threshold: maintain is a no-op drift report
    rep0 = idx.maintain()
    assert rep0["rebuilt"] is False and abs(rep0["ratio"] - 1.0) < 1e-9

    shifted = emb.limit(100).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> CAST(x + 100.0 AS FLOAT))"
        ).alias("embedding"),
        *[c for c in emb.columns if c not in ("vec_id", "embedding")],
    )
    idx.append(shifted)
    # tombstone a couple of shifted ids: the rebuild must resolve them
    victims = [r.vec_id for r in shifted.select("vec_id").limit(2).collect()]
    idx.delete(victims)
    assert idx.drift()["ratio"] > 2.0

    n_live = idx.read().count() - 2
    q0 = emb.filter(F.col("vec_id") % 50 == 0)
    before = _rows(idx.probe(q0, k=3, nprobe=2, rerank=50))
    centroids = idx.centroids
    idx = _failed_commit(monkeypatch, spark, path, idx.maintain)
    assert idx.centroids == centroids
    assert _rows(idx.probe(q0, k=3, nprobe=2, rerank=50)) == before
    assert idx.read().count() == n_live + 2
    assert idx.drift()["ratio"] > 2.0

    rep1 = idx.maintain()
    assert rep1["rebuilt"] is True and rep1["ratio"] > 2.0
    # fresh quantizers: health restored to a self-consistent baseline
    rep2 = idx.drift()
    assert abs(rep2["ratio"] - 1.0) < 1e-9
    assert rep1["mse_after"] == rep2["mse"]
    # tombstones physically resolved, none carried over
    assert idx.read().count() == n_live
    assert idx.manifest.dirs("deletes") == []
    assert len(idx.manifest.dirs("lists")) == 1
    assert idx.centroids != centroids
    stored = {r.vec_id for r in idx.read().select("vec_id").collect()}
    assert not set(victims) & stored

    # probe correctness after the rebuild: the shifted cluster is now
    # IN-distribution, so its nearest neighbor must be found exactly
    # probe correctness vs BRUTE FORCE (probes exclude self by design):
    # the rerank pool must cover the whole 100-vector cluster — its
    # members quantize to near-identical codes, so ADC order within it
    # is arbitrary and a small pool could exclude the true neighbor
    import numpy as np

    q = shifted.select("vec_id", "embedding").filter(
        ~F.col("vec_id").isin(victims)
    ).limit(3)
    got = {
        r.query_id: r.neighbor_id
        for r in idx.probe(q, k=1, nprobe=2, rerank=200).collect()
    }
    live_rows = idx.read().select("vec_id", "embedding").collect()
    ids = np.array([r.vec_id for r in live_rows])
    V = np.array([r.embedding for r in live_rows], dtype=np.float64)
    want = {}
    for r in q.collect():
        d = ((V - np.asarray(r.embedding, dtype=np.float64)) ** 2).sum(axis=1)
        d[ids == r.vec_id] = np.inf  # the probe's self-exclusion
        want[r.vec_id] = int(ids[int(np.argmin(d))])
    assert got == want


def test_drift_baseline_and_distribution_shift(spark, tmp_path):
    """Quantizer-drift detection: the baseline is frozen at build on the
    training distribution (ratio ~= 1 immediately after), appending
    vectors FAR outside that distribution raises the reconstruction MSE
    and the ratio, deleting them brings it back (tombstones excluded
    from the metric), and a fresh rebuild on the shifted corpus
    re-normalizes its own baseline."""
    emb = load_table(spark, SF_DIR, "embeddings")
    idx = IvfPqIndex.build(spark, str(tmp_path / "idx"), emb, k_lists=8)
    d0 = idx.drift()
    assert d0["baseline_mse"] is not None and d0["baseline_mse"] > 0
    assert abs(d0["ratio"] - 1.0) < 1e-9  # nothing appended yet

    # a far-away cluster the frozen quantizers never saw: every value
    # shifted by +100 in all dimensions
    dim = len(emb.select("embedding").first()[0])
    passthrough = [c for c in emb.columns if c not in ("vec_id", "embedding")]
    shifted = emb.limit(100).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"),
        F.expr(
            "transform(embedding, x -> CAST(x + 100.0 AS FLOAT))"
        ).alias("embedding"),
        *passthrough,
    )
    idx.append(shifted)
    d1 = idx.drift()
    assert d1["ratio"] > 2.0, d1  # drift detected

    # erasing the drifted vectors restores the metric (live rows only)
    idx.delete(shifted.select("vec_id"))
    d2 = idx.drift()
    assert abs(d2["ratio"] - 1.0) < 1e-6, d2

    # the documented maintenance move: rebuild fresh on the new corpus
    full = emb.unionByName(shifted)
    idx2 = IvfPqIndex.build(spark, str(tmp_path / "idx2"), full, k_lists=8)
    d3 = idx2.drift()
    assert abs(d3["ratio"] - 1.0) < 1e-9
    assert dim > 0
