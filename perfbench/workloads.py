"""The three benchmark workloads, each a closed loop with one client: the
next operation is sent only after the previous result is fully
materialized.

- ``market_views``: the reference's view surface plus TPC-H joins — many
  short scan/window/join plans, no Python workers.
- ``curation_queries``: the LLM-data read path — exec- and
  Python-worker-heavy builders with eager checkpoints.
- ``curation_ingest``: writes beside reads — ``CurationStream`` batches
  and a transactional ``events`` sink, with interleaved reads.

A query op is the registry builder call plus ``toPandas()`` of its
result; an ingest op is one ``process_batch``, one sink ``upsert`` or
one interleaved read. The query workloads run one untimed warm-up pass,
then whole passes until the measuring time is spent; outputs are checked
outside the timed window (each query's first measured result, the ingest
stores' final state).
"""

from __future__ import annotations

import dataclasses
import os
import time
import traceback

import numpy as np
from crypto_market_tracker_etl_spark import queries as qmod
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import gen
from .trace import Tracer, tree_cpu_s

MARKET_QUERIES = [
    "latest_per_key", "dim_join", "asof_lookup", "pct_change_24h",
    "lag_change", "daily_ohlc", "series_align", "upsert_keep_latest",
    "tumbling_ohlc", "session_window", "asof_join", "topk_per_key", "kpis",
    "tpch_q1", "tpch_q3", "tpch_q5", "tpch_q6", "tpch_q10", "tpch_q18",
]
CURATION_QUERIES = [
    "near_dup_pairs", "minhash_bands", "semdedup", "embedding_near_dup",
    "knn_ivf", "knn_pq", "lm_perplexity", "bpe_tokenize", "gram_novelty",
    "media_catalog", "curation_pipeline", "text_quality",
]
MARKET_TABLES = (
    "region nation customer supplier part orders lineitem events".split()
)
CURATION_TABLES = ["documents", "embeddings"]


@dataclasses.dataclass
class Workload:
    name: str
    sf: float
    tables: list[str]
    why: str


WORKLOADS = {
    "market_views": Workload(
        "market_views", 0.01, MARKET_TABLES,
        "many short scan/window/join plans with no Python workers: catalog, "
        "planning, shuffle and driver overhead",
    ),
    "curation_queries": Workload(
        "curation_queries", 0.01, CURATION_TABLES,
        "exec- and Python-worker-heavy curation reads with eager "
        "checkpoints inside the builders",
    ),
    "curation_ingest": Workload(
        "curation_ingest", 0.1, ["documents"],
        "writes beside reads: MinHash signing through the write path, the "
        "curation stores and the transactional sink",
    ),
}

# curation_ingest script shape (per pass, on fresh stores)
INGEST_BATCHES = 4
INGEST_BATCH_DOCS = 60
INGEST_CHANGELOG_ROWS = 200
INGEST_KEYS = 1500
INGEST_READ_EVERY = 2

DOC_SCHEMA = "doc_id long, source string, text string"
CHANGE_SCHEMA = "event_id long, ts timestamp, ver long, value double"


@dataclasses.dataclass
class Record:
    """Everything one measured window produced."""

    op_lat: dict[str, list[float]] = dataclasses.field(default_factory=dict)
    pass_s: list[float] = dataclasses.field(default_factory=list)
    pass_cpu_s: list[float] = dataclasses.field(default_factory=list)
    pass_jit_s: list[float] = dataclasses.field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    leaked_rdds: int = 0
    checkpoint_rdds: int = 0
    per_op: dict[str, list[float]] = dataclasses.field(default_factory=dict)
    errors: list[str] = dataclasses.field(default_factory=list)
    extra: dict = dataclasses.field(default_factory=dict)

    def lat(self, kind: str, seconds: float) -> None:
        self.op_lat.setdefault(kind, []).append(seconds)

    def busy_s(self) -> float:
        """Total op latency so far (the closed-loop client's busy time)."""
        return sum(sum(v) for k, v in self.op_lat.items() if not k.endswith("_cpu"))

    def fail(self, what: str) -> None:
        self.failed += 1
        self.errors.append(what)


class Runner:
    """One workload on one session; ``spark`` is replaced on restarts."""

    def __init__(self, wl: Workload, seed: int, data_dir: str, store_root: str):
        self.wl = wl
        self.seed = seed
        self.data_dir = data_dir
        self.store_root = store_root
        self.spark: SparkSession | None = None
        self.tracer = Tracer()
        self._builders = qmod.queries()
        self._order_rng = np.random.default_rng([seed, 1])
        self._store_seq = 0

    # ------------------------------------------------------------ helpers

    def _check_leak(self, rec: Record, what: str) -> None:
        """Count the persistent RDDs an op leaves behind.

        A ``persist``/``cache`` that outlives its op is a leak and fails
        the op. An eager ``localCheckpoint`` also shows in
        ``getPersistentRDDs`` until the ContextCleaner sees its frame
        collected; those are counted apart (``checkpoint_rdds``)."""
        cached = held = 0
        for rdd in self.spark.sparkContext._jsc.getPersistentRDDs().values():
            if rdd.rdd().isCheckpointed():
                held += 1
            else:
                cached += 1
        rec.checkpoint_rdds = max(rec.checkpoint_rdds, held)
        if cached:
            rec.leaked_rdds = max(rec.leaked_rdds, cached)
            rec.fail(f"{what}: {cached} cached RDDs outlived the op")

    def _fresh_store(self, tag: str) -> str:
        self._store_seq += 1
        return os.path.join(self.store_root, f"{tag}{self._store_seq}")

    # ------------------------------------------------------------- queries

    def query_op(self, name: str):
        """Builder call to fully materialized result; returns (s, pdf)."""
        tr = self.tracer
        with tr.span(f"op.{name}"):
            t0 = time.perf_counter()
            with tr.span("queries.build"):
                df = self._builders[name](self.spark, self.data_dir)
            if tr.enabled:
                with tr.span("plan"):
                    df._jdf.queryExecution().executedPlan()
            with tr.span("exec"):
                pdf = df.toPandas()
            return time.perf_counter() - t0, pdf

    def first_result(self) -> None:
        """The set-up probe: the workload's first operation on a new session."""
        if self.wl.name == "curation_ingest":
            from crypto_market_tracker_etl_spark.plans.curation_stream import (
                CurationStream,
            )

            docs = self.spark.read.parquet(
                os.path.join(self.data_dir, "documents.parquet")
            ).select("doc_id", "source", "text").limit(20)
            CurationStream(self.spark, self._fresh_store("setup")).process_batch(
                docs, batch_id=0
            )
        else:
            # media_catalog runs on Python workers, so every curation
            # session's set-up includes starting them
            first = "latest_per_key" if self.wl.name == "market_views" else "media_catalog"
            self.query_op(first)

    def query_pass(self, order: list[str], rec: Record, results: dict | None) -> None:
        """One closed-loop pass over ``order``. With ``results`` None the
        pass is a warm-up: its ops are checked for failures and leaks but
        not timed."""
        cpu_pass = tree_cpu_s(os.getpid())
        all_pass = tree_cpu_s(os.getpid(), jit=True)
        busy = 0.0
        for name in order:
            rec.attempted += 1
            cpu0 = tree_cpu_s(os.getpid())
            try:
                s, pdf = self.query_op(name)
            except Exception as exc:  # noqa: BLE001 — a failed op is data
                traceback.print_exc()
                rec.fail(f"{name}: {type(exc).__name__}: {exc}"[:300])
                continue
            self._check_leak(rec, name)
            if results is None:
                continue
            busy += s
            rec.lat("query", s)
            rec.lat("query_cpu", tree_cpu_s(os.getpid()) - cpu0)
            rec.per_op.setdefault(name, []).append(s)
            results.setdefault(name, pdf)
        if results is not None:
            rec.pass_s.append(busy)
            cpu = tree_cpu_s(os.getpid()) - cpu_pass
            rec.pass_cpu_s.append(cpu)
            rec.pass_jit_s.append(tree_cpu_s(os.getpid(), jit=True) - all_pass - cpu)

    def run_queries(self, names: list[str], seconds: float) -> tuple[Record, dict]:
        """One untimed warm-up pass in the listed order, so that first-use
        planning, code generation and JIT compilation of every query shape
        happen before timing, then whole passes in seeded orders until
        ``seconds`` are spent. Returns the record and the first measured
        result of each query (for the oracle check)."""
        rec, results = Record(), {}
        with self.tracer.paused():
            self.query_pass(list(names), rec, None)
        t_end = time.perf_counter() + seconds
        while True:
            order = [names[i] for i in self._order_rng.permutation(len(names))]
            with self.tracer.span("pass"):
                self.query_pass(order, rec, results)
            if time.perf_counter() >= t_end:
                return rec, results

    # -------------------------------------------------------------- ingest

    def ingest_inputs(self) -> tuple[gen.IngestScript, int]:
        import pyarrow.parquet as pq

        docs = pq.read_table(os.path.join(self.data_dir, "documents.parquet"))
        script = gen.ingest_script(
            self.seed, docs, INGEST_BATCHES, INGEST_BATCH_DOCS,
            INGEST_CHANGELOG_ROWS, INGEST_KEYS,
        )
        in_bytes = sum(
            8 + len(s.encode()) + len(t.encode())
            for b in script.batches for _, s, t in b
        ) + 32 * sum(len(c) for c in script.changelog)
        return script, in_bytes

    def _timed(self, rec: Record, kind: str, fn):
        rec.attempted += 1
        cpu0 = tree_cpu_s(os.getpid())
        t0 = time.perf_counter()
        try:
            out = fn()
        except Exception as exc:  # noqa: BLE001 — a failed op is data
            traceback.print_exc()
            rec.fail(f"{kind}: {type(exc).__name__}: {exc}"[:300])
            return None
        rec.lat(kind, time.perf_counter() - t0)
        rec.lat(f"{kind}_cpu", tree_cpu_s(os.getpid()) - cpu0)
        self._check_leak(rec, kind)
        return out

    def ingest_pass(self, script: gen.IngestScript, rec: Record):
        """One ingest script on fresh stores; returns (stream, sink, store)."""
        from crypto_market_tracker_etl_spark.operators.txn_sink import (
            ManifestParquetSink,
        )
        from crypto_market_tracker_etl_spark.plans.curation_stream import (
            CurationStream,
        )

        spark = self.spark
        store = self._fresh_store("ingest")
        batches = [spark.createDataFrame(b, DOC_SCHEMA) for b in script.batches]
        changes = [
            spark.createDataFrame(
                [(k, _ts(ts), v, x) for k, ts, v, x in c], CHANGE_SCHEMA
            )
            for c in script.changelog
        ]
        days = sorted({_ts(ts).date().isoformat() for c in script.changelog for _, ts, _, _ in c})
        busy = rec.busy_s()
        cpu_pass = tree_cpu_s(os.getpid())
        all_pass = tree_cpu_s(os.getpid(), jit=True)
        with self.tracer.span("pass"):
            cs = CurationStream(spark, os.path.join(store, "curation"))
            sink = ManifestParquetSink(
                spark, os.path.join(store, "events"), keys=["event_id"],
                ts_col="ts", order=["ver"],
            )
            for i, batch in enumerate(batches):
                with self.tracer.span("op.batch"):
                    self._timed(rec, "batch", lambda b=batch, i=i: cs.process_batch(b, batch_id=i))
                with self.tracer.span("op.upsert"):
                    self._timed(rec, "upsert", lambda c=changes[i]: sink.upsert(c))
                if i == script.redeliver_after:
                    with self.tracer.span("op.redeliver"):
                        self._timed(
                            rec, "batch",
                            lambda: cs.process_batch(
                                batches[script.redeliver], batch_id=script.redeliver
                            ),
                        )
                if i == script.delete_after:
                    with self.tracer.span("op.delete"):
                        self._timed(rec, "delete", lambda: cs.delete_docs(script.victims))
                if i == script.compact_after:
                    with self.tracer.span("op.compact"):
                        self._timed(rec, "compact", cs.compact)
                if (i + 1) % INGEST_READ_EVERY == 0:
                    day = days[(i * 7) % len(days)]
                    with self.tracer.span("op.read"):
                        self._timed(rec, "read", cs.funnel)
                        self._timed(rec, "read", lambda: cs.clean().count())
                        self._timed(rec, "read", lambda d=day: sink.read(days=[d]).count())
        rec.pass_s.append(rec.busy_s() - busy)
        cpu = tree_cpu_s(os.getpid()) - cpu_pass
        rec.pass_cpu_s.append(cpu)
        rec.pass_jit_s.append(tree_cpu_s(os.getpid(), jit=True) - all_pass - cpu)
        return cs, sink, store

    def run_ingest(self, seconds: float) -> tuple[Record, tuple]:
        script, in_bytes = self.ingest_inputs()
        rec = Record()
        first = None
        t_end = time.perf_counter() + seconds
        while True:
            out = self.ingest_pass(script, rec)
            if first is None:
                first = out
                rec.extra["store_bytes"] = _tree_bytes(out[2])
                rec.extra["store_files"] = _tree_files(os.path.join(out[2], "curation"))
                sink_data = os.path.join(out[2], "events", "data")
                rec.extra["sink_files"] = _tree_files(sink_data)
                rec.extra["sink_bytes"] = _tree_bytes(sink_data)
                rec.extra["auto_compactions"] = out[0].auto_compactions
            if time.perf_counter() >= t_end:
                break
        rec.extra["in_bytes"] = in_bytes
        rec.extra["docs_per_pass"] = sum(len(b) for b in script.batches) + len(
            script.batches[script.redeliver]
        )
        return rec, (script, *first)


def _ts(us: int):
    import datetime as dt

    return dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc) + dt.timedelta(
        microseconds=us
    )


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs
    )


def _tree_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def delivered_docs(spark: SparkSession, script: gen.IngestScript) -> DataFrame:
    """Every delivered (doc_id, source, text) once, minus the victims."""
    victims = set(script.victims)
    rows = {r[0]: r for b in script.batches for r in b if r[0] not in victims}
    return spark.createDataFrame(sorted(rows.values()), DOC_SCHEMA)


def ids_of(df: DataFrame) -> set[int]:
    return {r[0] for r in df.select(F.col("doc_id")).collect()}
