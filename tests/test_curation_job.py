"""End-to-end curation pipeline (plans/curation_job.py): funnel
monotonicity, stage-level invariants recomputed independently, keep-best
semantics, split partitioning, packing accounting, determinism."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from crypto_market_tracker_etl_spark.catalog import load_table
from crypto_market_tracker_etl_spark.functions.textstats import normalize_ws
from crypto_market_tracker_etl_spark.plans.curation_job import run_curation
from tests.conftest import SF_DIR

CAP = 256


def _corpus(spark):
    """documents ∪ exact copies (id+200000) ∪ near-dup copies (id+100000,
    first two words dropped) — the corpus that exercises every funnel
    stage."""
    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    )
    near = docs.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        "source",
        F.concat_ws(
            " ",
            F.expr(
                "slice(split(text, ' '), 3, greatest(size(split(text, ' ')) - 2, 0))"
            ),
        ).alias("text"),
    )
    exact = docs.select(
        (F.col("doc_id") + 200000).alias("doc_id"), "source", "text"
    )
    return docs.unionByName(near).unionByName(exact).repartition(8, "doc_id")


def test_curation_funnel_and_invariants(spark):
    corpus = _corpus(spark)
    res = run_curation(spark, corpus, capacity=CAP)
    f = res.funnel()
    # monotone funnel, and both dedup stages actually removed something
    assert f["raw"] >= f["quality"] >= f["exact"] > 0
    assert f["exact"] < f["quality"], "exact copies must collapse"
    assert f["clean"] < f["exact"], "near-dups must collapse"

    # no two clean docs share normalized content
    clean = res.clean
    n_distinct = clean.select(
        normalize_ws(F.col("text")).alias("t")
    ).distinct().count()
    assert n_distinct == f["clean"]

    # keep-best: for every surviving doc of an (orig, mutated) near-dup
    # pair where the mutated twin was dropped, the survivor is the longer
    # text — spot-check: no mutated copy (id in [100000, 200000)) may
    # survive while its original (id-100000) was dropped, because the
    # original is strictly longer and the keep rule is longest-first
    kept = {r.doc_id for r in clean.select("doc_id").collect()}
    originals_dropped = {
        d - 100000
        for d in kept
        if 100000 <= d < 200000 and (d - 100000) not in kept
    }
    # any such case would mean the SHORTER mutated copy won — forbidden
    assert not originals_dropped, originals_dropped

    # splits partition clean exactly
    split_counts = dict(
        (r.split, r.n)
        for r in res.splits.groupBy("split").agg(F.count("*").alias("n")).collect()
    )
    assert sum(split_counts.values()) == f["clean"]
    assert split_counts.get("train", 0) > split_counts.get(
        "valid", 0
    ) and split_counts.get("train", 0) > split_counts.get("test", 0)

    # packing accounting: pack tokens sum to clean tokens; each pack
    # over-fills by at most one document (the documented one-pass trade)
    packs = res.packs.collect()
    total_tokens = res.splits.agg(F.sum("n_tok")).collect()[0][0]
    assert sum(r.tokens for r in packs) == total_tokens
    max_doc = res.splits.agg(F.max("n_tok")).collect()[0][0]
    for r in packs:
        assert r.tokens <= CAP + max_doc, r
        assert r.n_docs >= 1


def test_curation_is_deterministic(spark):
    corpus = _corpus(spark)
    f1 = run_curation(spark, corpus, capacity=CAP).funnel()
    f2 = run_curation(spark, corpus, capacity=CAP).funnel()
    assert f1 == f2


def test_boilerplate_reassembly_identity(spark):
    """With min_docs above any possible document frequency, NOTHING is
    boilerplate — so clean_text must equal the normalized input exactly.
    This pins the order-restoration path (pos-sorted reassembly) against
    the whole real corpus, not a toy example."""
    from crypto_market_tracker_etl_spark.operators.boilerplate import (
        boilerplate_table,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", normalize_ws(F.col("text")).alias("text")
    )
    out = boilerplate_table(docs, min_docs=10**9)
    joined = docs.join(out, "doc_id")
    assert joined.count() == docs.count()
    assert joined.filter(F.col("n_boilerplate") != 0).count() == 0
    assert joined.filter(F.col("clean_text") != F.col("text")).count() == 0


def test_curation_with_boilerplate_stage(spark):
    """Stage 0 strips before scoring: with exact copies in the corpus every
    segment of a copied doc recurs (df >= 2), so stripped docs lose text
    relative to the no-stage run, and the funnel still holds."""
    from crypto_market_tracker_etl_spark.operators.boilerplate import (
        boilerplate_table,
    )

    corpus = _corpus(spark)
    res = run_curation(
        spark, corpus, quality_min=0.3, capacity=CAP, boilerplate_min_docs=2
    )
    funnel = res.funnel()
    assert funnel["raw"] >= funnel["quality"] >= funnel["exact"] >= funnel["clean"]
    # the stage is the operator, not a reimplementation: stats.text must
    # equal boilerplate_table's clean_text on the same normalized corpus
    normed = corpus.select(
        "doc_id", "source", normalize_ws(F.col("text")).alias("text")
    )
    expect = boilerplate_table(normed, min_docs=2).select(
        "doc_id", F.col("clean_text").alias("expect")
    )
    diff = (
        res.stats.select("doc_id", "text")
        .join(expect, "doc_id")
        .filter(F.col("text") != F.col("expect"))
    )
    assert diff.count() == 0
    # exact copies make every original+copy segment recur: those docs are
    # stripped to empty and cannot pass a positive quality gate
    assert funnel["quality"] < funnel["raw"]


def test_curation_funnel_is_single_pass(spark):
    """The r6 funnel ran four standalone corpus .count() scans; the funnel
    is now ONE dedicated flag-aggregation action — zero DataFrame.count()
    calls on corpus-shaped frames inside run_curation (the only remaining
    counts are connected_components' limit(1) convergence probes on the
    small node/component label table). The four numbers must still equal
    the independently recomputed stage counts."""
    from unittest import mock

    corpus = _corpus(spark)
    cls = type(corpus)  # the concrete (classic) DataFrame class
    real_count = cls.count
    corpus_counts = []

    def counting(self):
        if "text" in self.columns:
            corpus_counts.append(self.columns)
        return real_count(self)

    with mock.patch.object(cls, "count", counting):
        res = run_curation(spark, corpus, capacity=CAP)
        f = res.funnel()
    assert corpus_counts == [], corpus_counts
    assert f["raw"] >= f["quality"] >= f["exact"] >= f["clean"] > 0
    # ground truth: the flag aggregation must equal the real stage counts
    assert f["raw"] == corpus.count()
    assert f["clean"] == res.clean.count()


def test_stream_delete_promotes_same_batch_exact_copy(spark, tmp_path):
    """A doc and its exact copy arrive in ONE stream batch; erasing the
    doc must leave the copy as the survivor, exactly as the batch funnel
    over the remaining docs keeps it. The stream stores every gated row
    and resolves exact dedup merge-on-read, so the copy is still in the
    corpus store when its original is deleted."""
    from crypto_market_tracker_etl_spark.plans.curation_stream import (
        CurationStream,
    )

    docs = load_table(spark, SF_DIR, "documents").select(
        "doc_id", "source", "text"
    ).orderBy("doc_id").limit(9)
    victim = min(r.doc_id for r in run_curation(spark, docs).clean.collect())
    corpus = docs.unionByName(
        docs.filter(F.col("doc_id") == victim).select(
            (F.col("doc_id") + 200000).alias("doc_id"), "source", "text"
        )
    )
    cs = CurationStream(spark, str(tmp_path / "store"))
    cs.process_batch(corpus)
    cs.delete_docs([victim])
    got = {r.doc_id for r in cs.clean().select("doc_id").collect()}
    want = {
        r.doc_id
        for r in run_curation(
            spark, corpus.filter(F.col("doc_id") != victim)
        ).clean.collect()
    }
    assert victim + 200000 in want
    assert got == want


# --------------------------------------------------------------------------
# Seconds-scale stream ≡ batch cases for the default tier. The full-corpus
# originals live in tests/test_curation_stream.py (slow tier).


def _small_corpus(spark, n=60):
    """The first ``n`` documents with their near-dup (+100000) and exact
    (+200000) copies — every funnel stage has work at a few hundred rows."""
    return _corpus(spark).filter(F.col("doc_id") % 100000 < n)


def _ids(df):
    return {r.doc_id for r in df.select("doc_id").collect()}


def _stream_halves(spark, store, corpus):
    from crypto_market_tracker_etl_spark.plans.curation_stream import (
        CurationStream,
    )

    cs = CurationStream(spark, store)
    for bid in (0, 1):
        cs.process_batch(corpus.filter(F.col("doc_id") % 2 == 1 - bid), bid)
    return cs


def _parquet_ids(store_dir):
    """Every doc id any parquet file under ``store_dir`` still holds."""
    import os

    import pyarrow.parquet as pq

    ids = set()
    for root, _dirs, files in os.walk(store_dir):
        for name in files:
            if not name.endswith(".parquet"):
                continue
            t = pq.read_table(os.path.join(root, name))
            for col in ("doc_id", "id_a", "id_b"):
                if col in t.column_names:
                    ids |= set(t.column(col).to_pylist())
    return ids


def test_stream_batches_retry_compact_equal_batch(spark, tmp_path):
    """Two batches, an at-least-once retry and a compact resolve to the
    batch funnel's survivor set and counts; a fresh object on the same
    store reads the same state."""
    from crypto_market_tracker_etl_spark.plans.curation_stream import (
        CurationStream,
    )

    corpus = _small_corpus(spark)
    res = run_curation(spark, corpus)
    want, want_funnel = _ids(res.clean), res.funnel()
    store = str(tmp_path / "store")
    cs = _stream_halves(spark, store, corpus)
    cs.process_batch(corpus.filter(F.col("doc_id") % 2 == 0), batch_id=1)
    cs.compact()
    assert _ids(cs.clean()) == want
    got = cs.funnel()
    for k in ("raw", "quality", "exact", "clean"):
        assert got[k] == want_funnel[k], k
    assert CurationStream(spark, store).funnel() == got


def test_stream_crash_before_commit_converges(spark, tmp_path):
    """A batch that dies between its signature write and its pair write
    — before its manifest commit — leaves the previous snapshot. An
    in-process retry converges on the batch funnel, and so does a fresh
    CurationStream over a copy of the crashed store, whose open sweeps
    the dead batch's directories. (The slow tier's crash matrices cover
    every other crash point.)"""
    import os
    import shutil

    from crypto_market_tracker_etl_spark.plans.curation_stream import (
        CurationStream,
    )

    corpus = _small_corpus(spark)
    want = _ids(run_curation(spark, corpus).clean)
    b0 = corpus.filter(F.col("doc_id") % 2 == 0)
    b1 = corpus.filter(F.col("doc_id") % 2 == 1)
    store = str(tmp_path / "store")
    cs = CurationStream(spark, store)
    cs.process_batch(b0, batch_id=0)
    before = cs.funnel()

    def boom(*a, **k):
        raise RuntimeError("injected crash")

    pairs = cs.sigs.incremental_pairs
    cs.sigs.incremental_pairs = boom
    with pytest.raises(RuntimeError, match="injected crash"):
        cs.process_batch(b1, batch_id=1)
    cs.sigs.incremental_pairs = pairs
    assert cs.funnel() == before
    shutil.copytree(store, str(tmp_path / "restart"))

    cs.process_batch(b1, batch_id=1)
    assert _ids(cs.clean()) == want

    fresh = CurationStream(spark, str(tmp_path / "restart"))
    live = {
        os.path.basename(d)
        for name in ("corpus", "pairs", "sigs")
        for d in fresh.manifest.dirs(name)
    }
    assert set(os.listdir(str(tmp_path / "restart" / "data"))) == live
    assert fresh.funnel() == before
    fresh.process_batch(b1, batch_id=1)
    assert _ids(fresh.clean()) == want


def test_stream_delete_leaves_no_deleted_id_on_disk(spark, tmp_path, monkeypatch):
    """After delete_docs, clean() equals the batch funnel over the corpus
    minus the deleted docs, and no parquet file under the store holds a
    deleted id — also when the writer died between the commit and the
    sweep, once the store is reopened."""
    from crypto_market_tracker_etl_spark.operators.store_manifest import (
        StoreManifest,
    )
    from crypto_market_tracker_etl_spark.plans.curation_stream import (
        CurationStream,
    )

    corpus = _small_corpus(spark)
    base = _ids(run_curation(spark, corpus).clean)
    originals = sorted(i for i in base if i < 100000)
    # a clean original and its exact copy, plus one whose copy must be
    # promoted when the original goes
    deleted = {originals[0], originals[1], originals[1] + 200000}
    want = _ids(
        run_curation(spark, corpus.filter(~F.col("doc_id").isin(sorted(deleted)))).clean
    )

    store = str(tmp_path / "store")
    cs = _stream_halves(spark, store, corpus)
    assert cs.delete_docs(deleted) == {"deleted": 3}
    assert _ids(cs.clean()) == want
    assert not deleted & _parquet_ids(store)

    crashed = str(tmp_path / "crashed")
    cs = _stream_halves(spark, crashed, corpus)
    with monkeypatch.context() as m:
        m.setattr(StoreManifest, "sweep", lambda self: None)
        cs.delete_docs(spark.createDataFrame([(i,) for i in deleted], "id long"))
    assert deleted & _parquet_ids(crashed)  # superseded dirs still on disk
    reopened = CurationStream(spark, crashed)
    assert not deleted & _parquet_ids(crashed)
    assert _ids(reopened.clean()) == want
