"""Resumable folds — ``lfold`` (Tubes/Util.hs:174-181) on Spark state.

The reference's doc example (Tubes/Util.hs:158-172) folds 1..10 -> 55,
then *resumes the same pump* with 11..20 -> 210.  In Spark the pump
state is the streaming state store: a keyed accumulator updated per
micro-batch, persisted in the checkpoint so a restarted query resumes
exactly where it stopped.  Associative folds keep that accumulator in
the JVM (a native streaming aggregate); a generic ``step`` or watermark
eviction keeps it in per-key Python via ``applyInPandasWithState``.
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import StructType


# commutative-and-associative folds with a vectorized per-batch reduce
# (reduce the Arrow batch column in C, merge the scalar into the
# accumulator) — the evicting Python path's form of `op`.  The generic
# `step` loop stays for arbitrary non-associative folds — the
# reference's pump accepts ANY step — but the common cases should not
# pay a per-row Python loop.
_VECTOR_OPS = {
    "sum": (lambda s: float(s.sum()), lambda acc, x: acc + x),
    "min": (lambda s: float(s.min()), lambda acc, x: min(acc, x)),
    "max": (lambda s: float(s.max()), lambda acc, x: max(acc, x)),
    "count": (lambda s: float(len(s)), lambda acc, x: acc + x),
}

# the same folds as native aggregates, ``init`` merged in at projection
# time: the JVM keeps the partial-aggregate state, and sum/min/max skip
# null values exactly as the pandas reduces skip NaN
_NATIVE_OPS = {
    "sum": lambda v, init: init + F.coalesce(F.sum(v), F.lit(0.0)),
    "min": lambda v, init: F.least(init, F.min(v)),
    "max": lambda v, init: F.greatest(init, F.max(v)),
    "count": lambda v, init: init + F.count(F.lit(1)),
}


def _native_fold(df: DataFrame, key_cols: list[str], value_col: str,
                 op: str, init: float, output_schema: str) -> DataFrame:
    """``running_fold`` for an associative ``op`` without eviction: a
    streaming ``groupBy().agg()`` whose update-mode rows are the Python
    path's rows — one ``(key, acc, n)`` per key seen in the trigger,
    keyed by the first key column as a string (a null key stays
    null)."""
    v = F.col(value_col).cast("double")
    agg = df.groupBy(*key_cols).agg(
        _NATIVE_OPS[op](v, F.lit(float(init))).alias("acc"),
        F.count(F.lit(1)).alias("n"),
    )
    key = F.col(key_cols[0]).cast("string") if key_cols else F.lit("")
    out = agg.select(key.alias("key"), "acc", "n")
    return out.select(*[F.col(f.name).cast(f.dataType).alias(f.name)
                        for f in StructType.fromDDL(output_schema).fields])


def running_fold(
    df: DataFrame,
    key_cols: list[str],
    value_col: str,
    step: Callable[[float, float], float] = lambda acc, v: acc + v,
    init: float = 0.0,
    output_schema: str = "key string, acc double, n bigint",
    event_time_col: "str | None" = None,
    evict_gap_ms: "int | None" = None,
    op: "str | None" = None,
) -> DataFrame:
    """Keyed resumable fold over an unbounded stream.

    Each key owns an ``(acc, n)`` state cell; every micro-batch applies
    ``step`` (or ``op``) over the batch's values and writes the new
    accumulator.
    With a checkpoint location, stop/restart resumes from the stored
    state — the reference's ``duplicate summer`` resumption
    (Tubes/Util.hs:167).

    **Bounded state (the 100 TB contract):** with the default
    ``NoTimeout`` every key ever seen stays in the state store forever —
    fine for bounded drains, a scale-killer on a continuous stream.
    Pass ``event_time_col`` (a timestamp column; the caller must have
    applied ``withWatermark`` on it before this call) and
    ``evict_gap_ms`` to switch to ``EventTimeTimeout``: a key whose
    last event is more than ``evict_gap_ms`` behind the watermark is
    EVICTED — its final ``(key, acc, n)`` row is emitted once more as
    the flush, then the state cell is removed, so the store holds only
    keys active within the eviction horizon.  Results for keys that
    never time out are identical to the NoTimeout run.

    ``op`` names an associative fold ('sum'/'min'/'max'/'count').
    Without eviction it runs as Spark's NATIVE streaming aggregate —
    ``groupBy(*key_cols).agg(...)`` with its state in the JVM state
    store (HDFS-backed or RocksDB), one shuffle on the key and no
    Python worker — projected to the same ``(key, acc, n)`` rows with
    ``init`` folded in (``init + sum``, ``least(init, min)``,
    ``greatest(init, max)``, ``init + count``).  ``n`` counts every
    row; sum/min/max skip null values.  With eviction the op runs as a
    vectorized per-batch reduce inside the Python state function (the
    Arrow batch column reduces in C, only the scalar merges into the
    accumulator).  Either way the results equal the ``step`` loop's
    whenever the fold is associative over the values (exact for the
    integer-valued floats the oracle queries fold).  The two paths
    keep different state schemas, so a checkpoint written by one
    cannot be resumed by the other.  The key string matches the
    Python path's ``str()`` for string and integer keys; a null key
    stays null (the Python path writes ``str()`` of the pandas value:
    ``'None'`` for strings, ``'nan'`` for numbers).  Only a generic
    ``step`` or eviction keeps per-key Python state."""
    evict = event_time_col is not None and evict_gap_ms is not None
    if op is not None and op not in _VECTOR_OPS:
        raise ValueError(f"op must be one of {sorted(_VECTOR_OPS)}, got {op!r}")
    if op is not None and not evict:
        return _native_fold(df, key_cols, value_col, op, init, output_schema)

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        if evict and state.hasTimedOut:
            acc, n = state.get
            state.remove()
            yield pd.DataFrame(
                {"key": [str(key[0]) if key else ""], "acc": [acc], "n": [n]}
            )
            return
        if state.exists:
            acc, n = state.get
        else:
            acc, n = init, 0
        last_ms = None
        for pdf in pdfs:
            if op is not None:
                if len(pdf):
                    reduce_, merge = _VECTOR_OPS[op]
                    acc = merge(acc, reduce_(pdf[value_col]))
                    n += len(pdf)
            else:
                for v in pdf[value_col]:
                    acc = step(acc, float(v))
                    n += 1
            if evict and len(pdf):
                m = pdf[event_time_col].max()
                ms = int(m.value) // 1_000_000
                last_ms = ms if last_ms is None else max(last_ms, ms)
        state.update((acc, n))
        if evict and last_ms is not None:
            # keep the key monitored: timeout must clear the current
            # watermark (with in-order time-sliced delivery the clamp
            # never actually fires — new events sit above the watermark)
            state.setTimeoutTimestamp(
                max(last_ms + evict_gap_ms, state.getCurrentWatermarkMs() + 1)
            )
        yield pd.DataFrame({"key": [str(key[0]) if key else ""], "acc": [acc], "n": [n]})

    return df.groupBy(*key_cols).applyInPandasWithState(
        update,
        outputStructType=output_schema,
        stateStructType="acc double, n bigint",
        outputMode="update",
        timeoutConf=(
            GroupStateTimeout.EventTimeTimeout if evict else GroupStateTimeout.NoTimeout
        ),
    )


def ttl_session_fold(
    df: DataFrame,
    key_col: str,
    ts_us_col: str,
    value_col: str,
    ttl_us: int,
    event_time_col: str,
    order_cols: "list[str] | None" = None,
    delay_ms: int = 10_000,
) -> DataFrame:
    """Event-time sessionized fold with TTL eviction — the bounded-state
    generalization of :func:`running_fold` whose EMISSIONS are exactly
    reproducible by an offline oracle (the same protocol-arithmetic
    trick as ``streaming_late_data``).

    Per key the state holds one OPEN island ``(acc, n, start_us,
    last_us)``.  Each invocation walks the batch's rows in
    ``(ts_us, *order_cols)`` order and SPLITS whenever the gap to the
    previous event exceeds ``ttl_us`` — finalized islands are emitted
    immediately (append mode).  The open island sets an
    ``EventTimeTimeout`` at ``last_ms + ttl_ms``; when the watermark
    passes it, the island is flushed and the key LEAVES the state
    store.  So the store is bounded by keys active within the TTL
    horizon, and the emitted set is, deterministically:

    * every non-final island of every key (split either in-batch or by
      timeout — with in-order time-sliced delivery a timeout can only
      fire where a gap > TTL exists, so the two mechanisms agree), plus
    * a key's final island iff ``final_watermark_ms > last_ms +
      ttl_ms`` where ``final_watermark_ms = floor(max_us/1000) -
      delay_ms`` — the engine's own watermark arithmetic.

    That rule is plain SQL over the bounded input, which is what puts
    this operator (unlike raw ``running_fold`` eviction) under the
    value-hash oracle gate.  Requires the caller to have applied
    ``withWatermark(event_time_col, ...)`` with the matching
    ``delay_ms`` before this call."""
    ttl_ms = ttl_us // 1000

    def update(key, pdfs: Iterable[pd.DataFrame], state: GroupState) -> Iterator[pd.DataFrame]:
        k = str(key[0])
        if state.hasTimedOut:
            acc, n, start_us, last_us = state.get
            state.remove()
            yield pd.DataFrame(
                {"key": [k], "acc": [acc], "n": [n],
                 "start_us": [start_us], "last_us": [last_us]}
            )
            return
        open_isl = list(state.get) if state.exists else None
        pdf = pd.concat(list(pdfs), ignore_index=True)
        if len(pdf):
            pdf = pdf.sort_values([ts_us_col] + (order_cols or []))
        out: list = []
        for ts_us, v in zip(pdf[ts_us_col].astype("int64"),
                            pdf[value_col].astype("float64")):
            ts_us = int(ts_us)
            if open_isl is None:
                open_isl = [float(v), 1, ts_us, ts_us]
            elif ts_us - open_isl[3] > ttl_us:
                out.append(tuple(open_isl))
                open_isl = [float(v), 1, ts_us, ts_us]
            else:
                open_isl[0] += float(v)
                open_isl[1] += 1
                open_isl[3] = ts_us
        if open_isl is not None:
            state.update(tuple(open_isl))
            state.setTimeoutTimestamp(
                max(open_isl[3] // 1000 + ttl_ms,
                    state.getCurrentWatermarkMs() + 1)
            )
        if out:
            yield pd.DataFrame(
                out, columns=["acc", "n", "start_us", "last_us"]
            ).assign(key=k)[["key", "acc", "n", "start_us", "last_us"]]

    return df.groupBy(key_col).applyInPandasWithState(
        update,
        outputStructType="key string, acc double, n bigint, start_us long, last_us long",
        stateStructType="acc double, n bigint, start_us long, last_us long",
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )


def batch_resumable_fold(
    values: Iterable[float],
    step: Callable[[float, float], float],
    init: float,
) -> tuple[float, Callable]:
    """Driver-side lfold mirror for parity tests: returns (result,
    resume) where resume(more) continues from the accumulated state —
    the literal shape of the reference's pump resumption."""
    acc = init
    for v in values:
        acc = step(acc, v)

    def resume(more: Iterable[float]):
        return batch_resumable_fold(more, step, acc)

    return acc, resume
