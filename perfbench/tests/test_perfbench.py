"""Fast self-tests of the benchmark's own code (no Spark session):

    python3 -m pytest perfbench/tests -q

the event-log parser over a small committed fixture, the percentile and
sample-count helpers, span self time, the seeded generator, and the
JIT compiler-thread filter.
"""

from __future__ import annotations

import os
import statistics
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.dirname(__file__))))

from perfbench import gen  # noqa: E402
from perfbench.stats import percentile, summarize, tail_pct  # noqa: E402
from perfbench.trace import Span, parse_event_log, self_times, span_of_group  # noqa: E402

FIXTURE = os.path.join(os.path.dirname(__file__), "fixtures", "eventlog.jsonl")


def test_event_log_attributes_tasks_to_job_groups():
    with open(FIXTURE) as f:
        aggs = parse_event_log(f)
    assert set(aggs) == {"", "market_views|catalog.load|3", "curation_queries|exec|4"}

    load = aggs["market_views|catalog.load|3"]
    assert (load.jobs, load.tasks) == (1, 2)
    assert (load.run_ms, load.cpu_ms, load.gc_ms, load.max_task_ms) == (400, 310, 12, 300)
    assert (load.input_bytes, load.input_records) == (12288, 300)
    assert load.shuffle_write_bytes == 2048
    assert load.python_ms == 0  # no Python operator in the stage

    ex = aggs["curation_queries|exec|4"]
    assert (ex.jobs, ex.tasks) == (2, 2)  # the task without metrics is skipped
    assert (ex.run_ms, ex.cpu_ms, ex.max_task_ms) == (600, 350, 400)
    # MapInArrow stage: run − CPU per task, never negative
    assert ex.python_ms == 300
    assert ex.shuffle_read_bytes == 2000
    assert ex.spill_bytes == 512

    assert aggs[""].tasks == 1
    assert span_of_group("curation_queries|exec|4") == 4
    assert span_of_group("") is None


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_pct(19) is None
    assert tail_pct(20) == 50
    assert tail_pct(57) == 82
    assert tail_pct(100) == 90
    assert tail_pct(1000) == 99
    for n in range(20, 400):
        p = tail_pct(n)
        xs = list(range(n))
        assert sum(x > percentile(xs, p) for x in xs) >= 10


def test_summary():
    xs = [float(x) for x in range(1, 41)]
    s = summarize(xs)
    assert s["n"] == 40 and s["p50"] == statistics.median(xs)
    assert s["tail_pct"] == 75 and s["tail"] == percentile(xs, 75)
    assert summarize([1.0, 2.0])["tail"] is None
    assert percentile([3.0, 1.0, 2.0], 50) == 2.0
    assert percentile([0.0, 10.0], 25) == 2.5


def test_self_time_subtracts_union_of_children():
    spans = [
        Span(0, "op", None, 0.0, 10.0),
        Span(1, "build", 0, 1.0, 4.0),
        Span(2, "load", 1, 2.0, 3.0),
        Span(3, "exec", 0, 3.5, 8.0),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10.0 - 7.0)  # children cover [1, 8]
    assert st[1] == pytest.approx(2.0)
    assert st[2] == pytest.approx(1.0)
    assert st[3] == pytest.approx(4.5)


def test_generator_is_deterministic_per_seed():
    a = gen.star_tables(7, 0.001)
    b = gen.star_tables(7, 0.001)
    c = gen.star_tables(8, 0.001)
    assert set(a) == set(gen.TABLES)
    assert all(a[t].equals(b[t]) for t in gen.TABLES)
    assert not a["lineitem"].equals(c["lineitem"])
    # a subset draws the same values as the full set
    assert gen.star_tables(7, 0.001, ["events"])["events"].equals(a["events"])


def test_ingest_script_is_deterministic_and_consistent():
    docs = gen.star_tables(3, 0.01, ["documents"])["documents"]
    s1 = gen.ingest_script(3, docs, 4, 40, 50, 300)
    s2 = gen.ingest_script(3, docs, 4, 40, 50, 300)
    assert s1 == s2
    assert s1 != gen.ingest_script(4, docs, 4, 40, 50, 300)
    ids = [r[0] for b in s1.batches for r in b]
    assert len(ids) == len(set(ids)), "doc ids must not collide"
    redelivered = {r[0] for r in s1.batches[s1.redeliver]}
    assert s1.victims and not set(s1.victims) & redelivered
    assert s1.redeliver <= s1.redeliver_after
    vers = [c[2] for b in s1.changelog for c in b]
    assert len(vers) == len(set(vers)), "versions are unique"
    best = gen.keep_latest(s1.changelog)
    assert all(best[k][1] >= v for b in s1.changelog for k, _, v, _ in b)


def test_jit_thread_names():
    from perfbench.trace import _JIT_THREAD

    assert _JIT_THREAD.fullmatch("C1 CompilerThre")
    assert _JIT_THREAD.fullmatch("C2 CompilerThre")
    for name in ("GC Thread#0", "Executor task l", "VM Thread", "java"):
        assert not _JIT_THREAD.fullmatch(name)
