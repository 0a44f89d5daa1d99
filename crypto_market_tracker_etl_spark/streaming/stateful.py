"""Custom stateful streaming operators via applyInPandasWithState.

The built-in windowed aggregations (streaming/incremental.py) cover the
reference's needs; these operators cover what they can't express — per-key
state that evolves across micro-batches with arbitrary logic:

- ``running_stats_stream``: per-key cumulative count/sum/min/max and last
  value+ts, emitted once per key per micro-batch. The streaming analogue of
  the dashboard KPI row, without recomputing history each trigger.

State is a tiny fixed-width tuple per key (bounded memory, spillable to the
state store); batches arrive as pandas DataFrames via Arrow.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql import types as T


def running_stats_stream(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value: str,
) -> DataFrame:
    """Cumulative per-key stats maintained in state across micro-batches.

    The key output field inherits its type from the input schema (string
    keys, int keys, … all work); ``ts_col`` may be a timestamp or a plain
    epoch-number column — both order correctly for last-value tracking.
    """
    out_schema = T.StructType(
        [
            T.StructField(key, stream.schema[key].dataType),
            T.StructField("n_total", T.LongType()),
            T.StructField("sum_total", T.DoubleType()),
            T.StructField("min_total", T.DoubleType()),
            T.StructField("max_total", T.DoubleType()),
            T.StructField("last_value", T.DoubleType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("n", T.LongType()),
            T.StructField("s", T.DoubleType()),
            T.StructField("mn", T.DoubleType()),
            T.StructField("mx", T.DoubleType()),
            T.StructField("last_ms", T.LongType()),
            T.StructField("last_v", T.DoubleType()),
        ]
    )

    def update(
        key_tuple: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            n, s, mn, mx, last_ms, last_v = state.get
        else:
            n, s, mn, mx, last_ms, last_v = 0, 0.0, float("inf"), float("-inf"), -1, None
        for pdf in pdfs:
            vals = pdf[value].astype(float)
            tcol = pdf[ts_col]
            if pd.api.types.is_datetime64_any_dtype(tcol):
                ms = (tcol.astype("int64") // 1_000_000).astype("int64")
            else:  # already an epoch-number column — use it as the order key
                ms = tcol.astype("int64")
            n += len(pdf)
            s += float(vals.sum())
            mn = min(mn, float(vals.min()))
            mx = max(mx, float(vals.max()))
            batch_last = int(ms.idxmax())
            if int(ms.max()) >= last_ms:
                last_ms = int(ms.max())
                last_v = float(vals.loc[batch_last])
        state.update((n, s, mn, mx, last_ms, last_v))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_total": [n],
                "sum_total": [s],
                "min_total": [mn],
                "max_total": [mx],
                "last_value": [last_v],
            }
        )

    return (
        stream.groupBy(key)
        .applyInPandasWithState(
            update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def ewma_stream(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value: str,
    alpha: float = 0.25,
) -> DataFrame:
    """Per-key EWMA maintained across micro-batches — the unbounded-history
    complement of ``operators/change.py::ewma_last`` (which needs a key's
    whole history in one row). State is two numbers per key (last event-ms,
    current EWMA); each batch folds its rows in (ts, arrival) order on top
    of the carried value, so a key's history never re-materializes.

    Ordering contract: EWMA is order-sensitive, and a stateful fold cannot
    retro-insert a row that arrives after later rows were folded. Rows
    older than the state's high-water mark are still folded (total-value
    continuity beats dropping data) but mark the emitted row
    ``saw_late=true`` so downstream can quantify disorder — the upstream
    fix is a watermark+sort stage, the standard streaming trade."""
    if not 0.0 < alpha <= 1.0:
        raise ValueError(f"alpha must be in (0, 1], got {alpha}")
    out_schema = T.StructType(
        [
            T.StructField(key, stream.schema[key].dataType),
            T.StructField("ewma", T.DoubleType()),
            T.StructField("n_total", T.LongType()),
            T.StructField("saw_late", T.BooleanType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_ms", T.LongType()),
            T.StructField("ewma", T.DoubleType()),
            T.StructField("n", T.LongType()),
        ]
    )
    beta = 1.0 - alpha

    def update(
        key_tuple: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_ms, ewma, n = state.get
        else:
            last_ms, ewma, n = -1, None, 0
        saw_late = False
        for pdf in pdfs:
            tcol = pdf[ts_col]
            if pd.api.types.is_datetime64_any_dtype(tcol):
                ms = (tcol.astype("int64") // 1_000_000).astype("int64")
            else:
                ms = tcol.astype("int64")
            order = ms.sort_values(kind="stable").index
            for idx in order:
                t, x = int(ms.loc[idx]), float(pdf[value].loc[idx])
                if t < last_ms:
                    saw_late = True
                ewma = x if ewma is None else alpha * x + beta * ewma
                last_ms = max(last_ms, t)
                n += 1
        state.update((last_ms, ewma, n))
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "ewma": [ewma],
                "n_total": [n],
                "saw_late": [saw_late],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def histogram_drift_counts_stream(
    stream: DataFrame,
    key: str,
    ts_col: str,
    value: str,
    lo: float,
    hi: float,
    n_bins: int,
    boundary: "dt.datetime",
) -> DataFrame:
    """Streaming twin of ``operators/drift.py::fixed_bin_histogram_drift``,
    split at the counts layer: per-key state is 2·(n_bins+1) longs
    (reference and current period counts per bin plus one NULL-bin slot,
    caller-fixed edges and boundary), and each micro-batch emits the
    CUMULATIVE (key, bin, n_a, n_b) snapshot of every non-empty bin.
    Drift metrics are NOT computed here — feed the final snapshot to
    ``drift_metrics_from_counts`` so batch and stream share one metric
    definition (equal by construction; pandas-side rounding semantics
    never touch the numbers).

    Binning matches the batch expression bit-for-bit: the same
    floor((v−lo)/(hi−lo)·n) double arithmetic, clamped to the edge bins.
    Missing-data policy (mirrored in the batch twin): NULL/NaN values
    count in the NULL bin (emitted with bin IS NULL); NULL-ts rows are
    dropped. ``boundary`` is a NAIVE session-timezone wall time — the same
    value the batch twin passes to ``F.lit`` — and period assignment
    compares at full microsecond precision on both sides (Spark timestamps
    are µs; truncating to ms would misclassify ts in (boundary,
    boundary+1ms]). State is bounded by construction — no TTL needed."""
    import datetime as dt

    if not hi > lo:
        raise ValueError(f"need hi > lo, got [{lo}, {hi}]")
    if n_bins < 2:
        raise ValueError(f"need n_bins >= 2, got {n_bins}")
    if not isinstance(boundary, dt.datetime) or boundary.tzinfo is not None:
        raise ValueError(
            "boundary must be a naive session-timezone wall-clock datetime "
            "(the same value the batch twin compares via F.lit)"
        )
    boundary_us = pd.Timestamp(boundary).value // 1_000
    out_schema = T.StructType(
        [
            T.StructField(key, stream.schema[key].dataType),
            T.StructField("bin", T.IntegerType()),
            T.StructField("n_a", T.LongType()),
            T.StructField("n_b", T.LongType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("ca", T.ArrayType(T.LongType())),
            T.StructField("cb", T.ArrayType(T.LongType())),
        ]
    )
    span = float(hi - lo)

    def update(
        key_tuple: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        import numpy as np

        # slot n_bins is the NULL bin (NULL/NaN values)
        if state.exists:
            ca, cb = (list(v) for v in state.get)
        else:
            ca, cb = [0] * (n_bins + 1), [0] * (n_bins + 1)
        for pdf in pdfs:
            tcol = pdf[ts_col]
            if not pd.api.types.is_datetime64_any_dtype(tcol):
                # the old boundary_ms API accepted epoch-ms integer ts
                # columns; silently running int64 ms through the ns→µs
                # division would misclassify every row, so fail loudly
                raise TypeError(
                    f"{ts_col} must be a timestamp column, got {tcol.dtype}; "
                    "cast epoch values to timestamp before streaming"
                )
            # NULL-ts rows belong to no period — drop, as the batch twin does
            m_ts = tcol.notna().to_numpy()
            v = pdf[value].to_numpy(dtype="float64")[m_ts]
            us = (tcol[m_ts].astype("int64") // 1_000).to_numpy()
            in_a = us <= boundary_us
            # same IEEE ops as the Catalyst expression: sub, div, mul, floor
            bins = np.floor((v - lo) / span * n_bins)
            bins = np.clip(bins, 0, n_bins - 1)
            bins[np.isnan(v)] = n_bins  # NULL bin, before the int cast
            bins = bins.astype("int64")
            for b, a_side in zip(bins, in_a):
                if a_side:
                    ca[b] += 1
                else:
                    cb[b] += 1
        state.update((ca, cb))
        nz = [i for i in range(n_bins + 1) if ca[i] or cb[i]]
        yield pd.DataFrame(
            {
                key: [key_tuple[0]] * len(nz),
                "bin": pd.array(
                    [i if i < n_bins else None for i in nz], dtype="Int32"
                ),
                "n_a": pd.array([ca[i] for i in nz], dtype="int64"),
                "n_b": pd.array([cb[i] for i in nz], dtype="int64"),
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )


def cdc_apply_stream(
    stream: DataFrame,
    key: str,
    ts_col: str,
    id_col: str,
    op_col: str,
    value: str,
) -> DataFrame:
    """Streaming twin of ``operators/cdc.py::cdc_compact`` — changelog
    compaction maintained across micro-batches. State per key is the argmax
    row by (ts, id) plus two counters; because that state is a COMMUTATIVE
    MONOID (max and sum), arrival order across micro-batches cannot change
    the result: this twin is exact by construction, not just empirically
    (contrast ewma_stream, whose fold is order-sensitive and can only flag
    disorder). Pinned equal to the batch operator — including out-of-order
    delivery — by test_cdc_stream_equals_batch.

    Mirrored missing-data policy: NULL-``ts`` rows are dropped (no position
    in the op order); a NULL ``value`` on the winning op yields NULL
    final_value. Emits one row per key per touching micro-batch; the latest
    emission (highest n_ops) is the current compacted state.

    Type-generic like the batch twin: the id and value columns keep the
    STREAM's types in both the state and the output (a string value or a
    string id works exactly as it does in cdc_compact — the id only needs
    to be orderable within its own type for the (ts, id) argmax)."""
    id_type = stream.schema[id_col].dataType
    val_type = stream.schema[value].dataType
    out_schema = T.StructType(
        [
            T.StructField(key, stream.schema[key].dataType),
            T.StructField("n_ops", T.LongType()),
            T.StructField("n_deletes", T.LongType()),
            T.StructField("live", T.BooleanType()),
            T.StructField("final_value", val_type),
            T.StructField("final_ts", T.TimestampType()),
        ]
    )
    state_schema = T.StructType(
        [
            T.StructField("last_us", T.LongType()),
            T.StructField("last_id", id_type),
            T.StructField("last_op", T.StringType()),
            T.StructField("last_val", val_type),
            T.StructField("n_ops", T.LongType()),
            T.StructField("n_deletes", T.LongType()),
        ]
    )

    def py(v):
        """numpy scalar → plain Python (state tuples and output frames keep
        native values; None for NULL/NaN)."""
        if v is None or (pd.api.types.is_scalar(v) and pd.isna(v)):
            return None
        return v.item() if hasattr(v, "item") else v

    def update(
        key_tuple: tuple, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        if state.exists:
            last_us, last_id, last_op, last_val, n_ops, n_del = state.get
        else:
            last_us, last_id, last_op, last_val, n_ops, n_del = (
                None, None, None, None, 0, 0,
            )
        for pdf in pdfs:
            if len(pdf) == 0:
                continue
            tcol = pdf[ts_col]
            if pd.api.types.is_datetime64_any_dtype(tcol):
                us = tcol.astype("int64") // 1_000
            elif pd.api.types.is_integer_dtype(tcol):
                raise TypeError(
                    f"{ts_col} must be a timestamp column; integer epochs "
                    "are ambiguous (s/ms/us) — cast upstream"
                )
            else:
                us = tcol.astype("int64")
            valid = tcol.notna()
            for i in pdf.index[valid]:
                t, eid = int(us[i]), py(pdf[id_col][i])
                o = str(pdf[op_col][i])
                n_ops += 1
                if o == "D":
                    n_del += 1
                # tie-break key is (ts, id-is-not-null, id): a NULL id on a
                # ts tie loses to any non-NULL id — mirroring the batch
                # twin's F.desc nulls-last argmax — instead of raising
                # (None vs int/str is unorderable; the sentinel 0 in the
                # last slot is never compared across mixed types because
                # the not-null flag differs first)
                if last_us is None or (t, eid is not None, 0 if eid is None else eid) > (
                    last_us, last_id is not None, 0 if last_id is None else last_id
                ):
                    last_us, last_id, last_op = t, eid, o
                    last_val = py(pdf[value][i])
        if n_ops == 0:
            # every row for this key so far was NULL-ts (all dropped): the
            # batch twin emits no row for such a key, so neither do we —
            # and we leave no state behind
            return
        state.update((last_us, last_id, last_op, last_val, n_ops, n_del))
        live = last_op is not None and last_op != "D"
        yield pd.DataFrame(
            {
                key: [key_tuple[0]],
                "n_ops": [n_ops],
                "n_deletes": [n_del],
                "live": [live],
                "final_value": [last_val if live else None],
                "final_ts": [
                    pd.Timestamp(last_us, unit="us") if live else pd.NaT
                ],
            }
        )

    return stream.groupBy(key).applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
    )
