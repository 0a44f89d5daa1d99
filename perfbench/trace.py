"""Tracing for the benchmark: spans, layer wrappers, event-log attribution
and a process-tree RSS sampler.

Spans are recorded from the benchmark's side, around each call into an
engine layer: the benchmark's own op boundaries (query build, planning,
execution) and thin wrappers installed over the engine's public layer
entry points for the duration of a traced run. Every span sets a Spark
job group ``<workload>|<span name>|<span id>`` while it is open, so the
stage and task metrics in Spark's event log attach to the innermost span
that launched them. Spans are kept in memory and written out at the end.
"""

from __future__ import annotations

import collections
import contextlib
import dataclasses
import functools
import importlib
import json
import os
import re
import sys
import threading
import time

# Stage operators that run Python workers (Arrow / pandas / pickled UDFs).
_PYTHON_SCOPE = re.compile(r"Python|Arrow|Pandas|PythonRDD")


@dataclasses.dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Span recorder. Disabled (``sc=None``) it records nothing and
    touches no Spark state, so untraced runs pay nothing for it."""

    def __init__(self, sc=None, workload: str = ""):
        self.sc = sc
        self.workload = workload
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._paused = False

    @property
    def enabled(self) -> bool:
        return self.sc is not None and not self._paused

    @contextlib.contextmanager
    def paused(self):
        """Record nothing inside (the benchmark's own checks)."""
        self._paused = True
        try:
            yield
        finally:
            self._paused = False

    def _set_group(self, span: Span | None) -> None:
        gid = f"{self.workload}|{span.name}|{span.sid}" if span else None
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.sc.setLocalProperty("spark.job.description", gid)

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, parent.sid if parent else None, time.time())
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def inner(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        return inner

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump([dataclasses.asdict(s) for s in self.spans], f)


# Engine entry points wrapped during a traced run: (module, owner, attr,
# span name). ``owner`` None patches a module-level function, including
# every package module that imported it by name.
LAYER_POINTS = [
    ("crypto_market_tracker_etl_spark.catalog", None, "load_table", "catalog.load"),
    (
        "crypto_market_tracker_etl_spark.plans.curation_stream",
        "CurationStream",
        "process_batch",
        "curation_stream.process_batch",
    ),
    (
        "crypto_market_tracker_etl_spark.plans.curation_stream",
        "CurationStream",
        "compact",
        "curation_stream.compact",
    ),
    (
        "crypto_market_tracker_etl_spark.plans.curation_stream",
        "CurationStream",
        "clean",
        "curation_stream.clean",
    ),
    (
        "crypto_market_tracker_etl_spark.operators.incremental_dedup",
        "MinHashSignatureStore",
        "upsert_batch",
        "incremental_dedup.upsert_batch",
    ),
    (
        "crypto_market_tracker_etl_spark.operators.incremental_dedup",
        "MinHashSignatureStore",
        "incremental_pairs",
        "incremental_dedup.incremental_pairs",
    ),
    (
        "crypto_market_tracker_etl_spark.operators.txn_sink",
        "ManifestParquetSink",
        "upsert",
        "txn_sink.upsert",
    ),
    (
        "crypto_market_tracker_etl_spark.operators.txn_sink",
        "ManifestParquetSink",
        "read",
        "txn_sink.read",
    ),
    (
        "crypto_market_tracker_etl_spark.operators.txn_sink",
        "ManifestParquetSink",
        "_commit_rewrite",
        "txn_sink.commit",
    ),
]
_PKG = "crypto_market_tracker_etl_spark"


@contextlib.contextmanager
def layer_spans(tracer: Tracer):
    """Install span wrappers over LAYER_POINTS; restore on exit."""
    undo = []
    try:
        for mod_name, owner, attr, span_name in LAYER_POINTS:
            mod = importlib.import_module(mod_name)
            if owner is None:
                orig = getattr(mod, attr)
                wrapped = tracer.wrap(span_name, orig)
                for m in list(sys.modules.values()):
                    if (
                        getattr(m, "__name__", "").startswith(_PKG)
                        and getattr(m, attr, None) is orig
                    ):
                        setattr(m, attr, wrapped)
                        undo.append((m, attr, orig))
            else:
                cls = getattr(mod, owner)
                orig = cls.__dict__[attr]
                setattr(cls, attr, tracer.wrap(span_name, orig))
                undo.append((cls, attr, orig))
        yield
    finally:
        for target, attr, orig in reversed(undo):
            setattr(target, attr, orig)


# ------------------------------------------------------------ event log


@dataclasses.dataclass
class StageAgg:
    jobs: int = 0
    tasks: int = 0
    run_ms: float = 0.0
    cpu_ms: float = 0.0
    gc_ms: float = 0.0
    max_task_ms: float = 0.0
    python_ms: float = 0.0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_records: int = 0

    def add(self, other: "StageAgg") -> None:
        for f in dataclasses.fields(self):
            a, b = getattr(self, f.name), getattr(other, f.name)
            setattr(self, f.name, max(a, b) if f.name == "max_task_ms" else a + b)


def parse_event_log(lines) -> dict[str, StageAgg]:
    """Aggregate task metrics per job group from an uncompressed,
    non-rolling Spark event log (one JSON event per line).

    Tasks attach to their stage's job group (taken from the
    StageSubmitted properties); jobs count per group from JobStart. A
    stage is a Python stage when any of its RDD scopes is a Python /
    Arrow / pandas operator; its tasks' run time minus CPU time is the
    Python-worker share (``python_ms``). Events outside any group are
    collected under the empty key."""
    stage_group: dict[int, str] = {}
    stage_py: dict[int, bool] = {}
    out: dict[str, StageAgg] = collections.defaultdict(StageAgg)
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            gid = (ev.get("Properties") or {}).get("spark.jobGroup.id") or ""
            out[gid].jobs += 1
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            sid = info["Stage ID"]
            stage_group[sid] = (ev.get("Properties") or {}).get(
                "spark.jobGroup.id"
            ) or ""
            scopes = []
            for rdd in info.get("RDD Info", []):
                scopes.append(rdd.get("Name", ""))
                if rdd.get("Scope"):
                    scopes.append(json.loads(rdd["Scope"]).get("name", ""))
            stage_py[sid] = any(_PYTHON_SCOPE.search(s) for s in scopes)
        elif kind == "SparkListenerTaskEnd":
            tm = ev.get("Task Metrics")
            if not tm:
                continue
            sid = ev["Stage ID"]
            agg = out[stage_group.get(sid, "")]
            run = float(tm.get("Executor Run Time", 0))
            cpu = tm.get("Executor CPU Time", 0) / 1e6
            agg.tasks += 1
            agg.run_ms += run
            agg.cpu_ms += cpu
            agg.gc_ms += tm.get("JVM GC Time", 0)
            agg.max_task_ms = max(agg.max_task_ms, run)
            if stage_py.get(sid):
                agg.python_ms += max(0.0, run - cpu)
            sr = tm.get("Shuffle Read Metrics", {})
            agg.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get(
                "Local Bytes Read", 0
            )
            agg.shuffle_write_bytes += tm.get("Shuffle Write Metrics", {}).get(
                "Shuffle Bytes Written", 0
            )
            agg.spill_bytes += tm.get("Disk Bytes Spilled", 0)
            inp = tm.get("Input Metrics", {})
            agg.input_bytes += inp.get("Bytes Read", 0)
            agg.input_records += inp.get("Records Read", 0)
    return dict(out)


def span_of_group(gid: str) -> int | None:
    """Span id from a ``<workload>|<name>|<id>`` job group, else None."""
    parts = gid.rsplit("|", 1)
    return int(parts[1]) if len(parts) == 2 and parts[1].isdigit() else None


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the union of its children's intervals."""
    kids: dict[int, list[Span]] = collections.defaultdict(list)
    for s in spans:
        if s.parent is not None:
            kids[s.parent].append(s)
    out = {}
    for s in spans:
        covered, cur_start, cur_end = 0.0, None, None
        for c in sorted(kids[s.sid], key=lambda c: c.start):
            lo, hi = max(c.start, s.start), min(c.end, s.end)
            if hi <= lo:
                continue
            if cur_end is None or lo > cur_end:
                if cur_end is not None:
                    covered += cur_end - cur_start
                cur_start, cur_end = lo, hi
            else:
                cur_end = max(cur_end, hi)
        if cur_end is not None:
            covered += cur_end - cur_start
        out[s.sid] = s.dur - covered
    return out


# ------------------------------------------------------------------ RSS


def _proc_table() -> tuple[dict[int, list[int]], dict[int, list[str]]]:
    """(children by parent pid, stat fields after the command name) for
    every process visible in /proc."""
    children: dict[int, list[int]] = collections.defaultdict(list)
    stat: dict[int, list[str]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        pid = int(name)
        children[int(fields[1])].append(pid)
        stat[pid] = fields
    return children, stat


def _descendants(root: int, children: dict[int, list[int]]) -> list[int]:
    out, todo = [], list(children[root])
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children[pid])
    return out


def tree_rss_bytes(root: int) -> int:
    """Summed RSS of every descendant of ``root`` (not ``root`` itself)."""
    children, stat = _proc_table()
    page = os.sysconf("SC_PAGE_SIZE")
    return sum(
        int(stat[p][21]) * page for p in _descendants(root, children) if p in stat
    )


# HotSpot's JIT compiler threads ("C1 CompilerThre", "C2 CompilerThre").
_JIT_THREAD = re.compile(r"C\d CompilerThre")
# Last seen CPU ticks of every JIT compiler thread, by (pid, tid). A
# thread that has exited keeps its entry: the kernel folds its time into
# the process's totals, so both sides of the subtraction keep it.
_jit_ticks: dict[tuple[int, int], int] = {}


def _jit_seen(pid: int) -> None:
    try:
        tids = os.listdir(f"/proc/{pid}/task")
    except OSError:
        return
    for tid in tids:
        try:
            with open(f"/proc/{pid}/task/{tid}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        if _JIT_THREAD.fullmatch(raw[raw.index("(") + 1 : raw.rindex(")")]):
            fields = raw.rsplit(")", 1)[1].split()
            _jit_ticks[(pid, int(tid))] = int(fields[11]) + int(fields[12])


def tree_cpu_s(root: int, jit: bool = False) -> float:
    """CPU seconds (user + system, including reaped children) used so far
    by ``root`` and every live descendant: the driver, the JVM and the
    Python workers. Time stolen by the hypervisor is not counted.

    Unless ``jit``, the time of the JVM's JIT compiler threads is left
    out: on this workload mix they compile through every run of a
    benchmark's length, and how much they compile in a given pass varies
    far more from run to run than the work itself. A compiler thread
    that exits between two readings loses only its tail since the last
    reading, which is small: it exits after idling."""
    children, stat = _proc_table()
    tick = os.sysconf("SC_CLK_TCK")
    total = 0
    for p in [root, *_descendants(root, children)]:
        f = stat.get(p)
        if f:
            total += sum(int(x) for x in f[11:15])  # utime stime cutime cstime
            if not jit and int(f[17]) > 8:  # many threads: the JVM, not a worker
                _jit_seen(p)
    if not jit:
        total -= sum(_jit_ticks.values())
    return total / tick


class RssSampler:
    """Background thread tracking the peak summed RSS of this process's
    descendants (the driver JVM and its Python workers)."""

    def __init__(self, interval: float = 0.2):
        self.interval = interval
        self.peak = 0
        self._lock = threading.Lock()
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            rss = tree_rss_bytes(me)
            with self._lock:
                self.peak = max(self.peak, rss)
            self._stop.wait(self.interval)

    def reset(self) -> None:
        with self._lock:
            self.peak = 0

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
