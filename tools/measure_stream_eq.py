"""Phase breakdown of curation_stream_eq / curation_delete_eq (the two
sweep monsters: 53 s / 57 s in the committed r12 detail). Times each
process_batch, delete_docs, compact, and the final clean+noop separately
so the optimization targets the measured phase, not a guess (guide §1).
Each phase runs under its own Spark job group; the table also reports
the jobs each phase launched (``statusTracker``) and the live data
directories per store after it — a read over more than 32 directories
pays Spark's parallel-listing job.

    python tools/measure_stream_eq.py [stream|delete]
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from crypto_market_tracker_etl_spark.session import get_session  # noqa: E402
from crypto_market_tracker_etl_spark.queries_ext import (  # noqa: E402
    _augmented_corpus,
    _documents,
)
from crypto_market_tracker_etl_spark.functions.textstats import (  # noqa: E402
    normalize_ws,
)
from crypto_market_tracker_etl_spark.plans.curation_stream import (  # noqa: E402
    CurationStream,
)

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
WHICH = sys.argv[1] if len(sys.argv) > 1 else "stream"  # stream|delete


def main() -> None:
    spark = get_session(app_name="measure_stream_eq")
    spark.sparkContext.setLogLevel("ERROR")
    corpus = _augmented_corpus(spark, SF_DIR).unionByName(
        _documents(spark, SF_DIR).select(
            (F.col("doc_id") + 200000).alias("doc_id"),
            "source",
            normalize_ws(F.col("text")).alias("text"),
        )
    )
    # warmup
    corpus.write.format("noop").mode("overwrite").save()
    run_token = hashlib.md5(
        f"{SF_DIR}|measure|{spark.sparkContext.applicationId}".encode()
    ).hexdigest()[:12]
    store = os.path.join(tempfile.gettempdir(), "measure_eq_" + run_token)
    shutil.rmtree(store, ignore_errors=True)

    sc = spark.sparkContext
    t_all = time.perf_counter()
    cs = CurationStream(spark, store)
    marks = [("init", time.perf_counter() - t_all, 0, "")]

    def phase(label, fn):
        sc.setJobGroup(label, label)
        t0 = time.perf_counter()
        fn()
        sec = time.perf_counter() - t0
        jobs = len(sc.statusTracker().getJobIdsForGroup(label))
        dirs = " ".join(
            f"{k}={len(v)}" for k, v in sorted(cs.manifest.doc["stores"].items())
        )
        marks.append((label, sec, jobs, dirs))

    for bid, rem in enumerate((2, 1, 0)):
        phase(
            f"batch{bid}",
            lambda rem=rem, bid=bid: cs.process_batch(
                corpus.filter(F.col("doc_id") % 3 == rem), batch_id=bid
            ),
        )
    if WHICH == "stream":
        phase(
            "retry_b1",
            lambda: cs.process_batch(
                corpus.filter(F.col("doc_id") % 3 == 1), batch_id=1
            ),
        )
    else:
        victims = corpus.select("doc_id").where(
            (F.col("doc_id") % 100 == 7)
            | ((F.col("doc_id") % 100 == 11) & (F.col("doc_id") < 100000))
        )
        phase("delete_docs", lambda: cs.delete_docs(victims))
    phase("compact", cs.compact)
    phase(
        "clean_noop",
        lambda: cs.clean().select(
            "doc_id", "source", F.col("n_tok").cast("long").alias("n_tok"),
            "content_fp",
        ).write.format("noop").mode("overwrite").save(),
    )
    total = time.perf_counter() - t_all
    print(f"{'phase':12s} {'wall':>8s} {'jobs':>5s}  dirs per store")
    for label, sec, jobs, dirs in marks:
        print(f"{label:12s} {sec:7.3f}s {jobs:5d}  {dirs}")
    print(f"{'TOTAL':12s} {total:7.3f}s")
    shutil.rmtree(store, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
