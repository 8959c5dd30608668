"""Shared pieces of the benchmark: spans, Spark counters read from
outside the library, peak-RSS sampling, exact frame comparison and
percentiles.

Nothing here reaches into ``tubes_spark``: spans wrap the benchmark's
own calls into the library, and the Spark counters come from the job
group each span sets, read back through ``statusTracker()`` and the
application status store after the span has ended.
"""

from __future__ import annotations

import contextlib
import math
import os
import threading
import time

import numpy as np
import pandas as pd


# ---------------------------------------------------------------- spans


class Tracer:
    """Spans around calls into the library, kept in memory.

    With ``enabled=False`` :meth:`span` only yields, so the untraced run
    does no tracing work at all.  With tracing on, each span sets a
    Spark job group named after itself, and the Spark counters of the
    jobs that group started are read when the span ends (the reading
    time is recorded as ``collect_s``, the tracer's own cost)."""

    def __init__(self, spark, enabled: bool, run_id: str):
        self.spark = spark
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.collect_s = 0.0

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        sp = {"name": name, "id": len(self.spans), "run_id": self.run_id,
              "parent": parent["id"] if parent else None,
              "group": f"{self.run_id}/{len(self.spans)}/{name}"}
        self.spans.append(sp)
        self._stack.append(sp)
        sc.setJobGroup(sp["group"], name)
        sp["start"] = time.perf_counter()
        try:
            yield sp
        finally:
            sp["end"] = time.perf_counter()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent["group"], parent["name"])
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
                sc.setLocalProperty("spark.job.description", None)
            t = time.perf_counter()
            sp["spark"] = spark_counters(self.spark, [sp["group"]],
                                         sp["start"], sp["end"])
            self.collect_s += time.perf_counter() - t

    def self_times(self) -> dict:
        """name -> summed self time: span time minus the part of it its
        child spans cover (children of one span never overlap)."""
        child = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + (s["end"] - s["start"])
        out: dict = {}
        for s in self.spans:
            own = (s["end"] - s["start"]) - child.get(s["id"], 0.0)
            out[s["name"]] = out.get(s["name"], 0.0) + own
        return out

    def total(self, prefix: str, key: "str | None" = None) -> float:
        """Sum of span durations (or of one Spark counter) over spans
        whose name equals ``prefix`` or starts with ``prefix + '.'``."""
        acc = 0.0
        for s in self.spans:
            if s["name"] == prefix or s["name"].startswith(prefix + "."):
                acc += (s["end"] - s["start"]) if key is None else s["spark"].get(key, 0)
        return acc


# ------------------------------------------------------ Spark counters

SPARK_KEYS = ("jobs", "stages", "tasks", "failed_tasks", "task_cpu_s",
              "task_run_s", "gc_s", "shuffle_bytes", "spill_bytes",
              "input_bytes", "output_bytes", "driver_gap_s")


def _opt_ms(opt) -> "float | None":
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def spark_counters(spark, groups, t_start: "float | None" = None,
                   t_end: "float | None" = None) -> dict:
    """Sum the task metrics of every stage of every job started under
    the given job groups.  ``driver_gap_s`` is the span's wall time not
    covered by any of its jobs (driver-side planning, py4j round trips,
    Python work between jobs); it needs the span's perf_counter bounds."""
    st = spark.sparkContext.statusTracker()
    store = spark._jsc.sc().statusStore()
    out = dict.fromkeys(SPARK_KEYS, 0)
    seen_stages: set = set()
    intervals = []
    for g in groups:
        for jid in st.getJobIdsForGroup(g):
            try:
                jd = store.job(int(jid))
            except Exception:  # py4j NoSuchElementException: job evicted
                continue
            out["jobs"] += 1
            sub, done = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if sub is not None and done is not None:
                intervals.append((sub, done))
            sids = jd.stageIds()
            for i in range(sids.size()):
                sid = int(sids.apply(i))
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    s = store.lastStageAttempt(sid)
                except Exception:  # evicted or never submitted
                    continue
                if s.status().toString() == "SKIPPED":
                    continue
                out["stages"] += 1
                out["tasks"] += int(s.numTasks())
                out["failed_tasks"] += int(s.numFailedTasks())
                out["task_cpu_s"] += s.executorCpuTime() / 1e9
                out["task_run_s"] += s.executorRunTime() / 1e3
                out["gc_s"] += s.jvmGcTime() / 1e3
                out["shuffle_bytes"] += int(s.shuffleWriteBytes())
                out["spill_bytes"] += int(s.memoryBytesSpilled()) + int(s.diskBytesSpilled())
                out["input_bytes"] += int(s.inputBytes())
                out["output_bytes"] += int(s.outputBytes())
    if t_start is not None and t_end is not None:
        # job times are epoch seconds; map the span onto the same clock
        off = time.time() - time.perf_counter()
        covered = union_length(intervals, t_start + off, t_end + off)
        out["driver_gap_s"] = max(0.0, (t_end - t_start) - covered)
    return out


def union_length(intervals, lo: float, hi: float) -> float:
    tot, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                tot += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        tot += cur_e - cur_s
    return tot


def plan_seconds(df) -> float:
    """Planning phases (analysis, optimization, planning) recorded by a
    DataFrame's QueryPlanningTracker."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.iterator()
    tot = 0
    while it.hasNext():
        tot += int(it.next()._2().durationMs())
    return tot / 1e3


# ------------------------------------------------------------ peak RSS


def _children(pid: int) -> list:
    kids = []
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        if int(fields[1]) == pid:
            kids.append(int(d))
    return kids


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of the driver JVM and every process below it
    (the Python worker daemon and its forked workers), sampled on a
    background thread every ``period`` seconds."""

    def __init__(self, jvm_pid: int, period: float = 0.25):
        self.jvm_pid = jvm_pid
        self.period = period
        self.peak = 0
        self.peak_jvm = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _tree(self) -> list:
        pids, frontier = [self.jvm_pid], [self.jvm_pid]
        while frontier:
            nxt = []
            for p in frontier:
                nxt.extend(_children(p))
            pids.extend(nxt)
            frontier = nxt
        return pids

    def sample(self) -> None:
        tree = self._tree()
        self.peak_jvm = max(self.peak_jvm, _rss_bytes(self.jvm_pid))
        self.peak = max(self.peak, sum(_rss_bytes(p) for p in tree))

    def _run(self) -> None:
        while not self._stop.wait(self.period):
            self.sample()

    def __enter__(self):
        self.sample()
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        self.sample()


# ------------------------------------------------------------ checking


def _norm(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if str(df[c].dtype).startswith("datetime"):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None)
        elif df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(by=list(df.columns), kind="mergesort").reset_index(drop=True)


def compare_frames(got: pd.DataFrame, want: pd.DataFrame) -> "tuple[int, str]":
    """Exact, dtype-sensitive comparison with the rules of the repo's
    oracle harness: same row count and column names, then per column the
    same dtype kind (floats) or width (integers) and equal values, with
    the sign of zero significant.  Returns (mismatched rows, message);
    a structural mismatch counts every reference row as mismatched."""
    if sorted(got.columns) != sorted(want.columns):
        return max(len(want), 1), f"columns: got={sorted(got.columns)} want={sorted(want.columns)}"
    if len(got) != len(want):
        return max(abs(len(got) - len(want)), 1), f"row count: got={len(got)} want={len(want)}"
    a, b = _norm(got), _norm(want)
    bad = np.zeros(len(a), dtype=bool)
    msgs = []
    for c in a.columns:
        av, bv = a[c], b[c]
        if av.dtype.kind == "f" or bv.dtype.kind == "f":
            if av.dtype.kind != bv.dtype.kind:
                return len(want), f"col {c}: dtype kind got={av.dtype} want={bv.dtype}"
            av, bv = av.astype(float), bv.astype(float)
            ok = (av.isna() & bv.isna()) | (
                (av == bv) & (np.signbit(av.fillna(0.0)) == np.signbit(bv.fillna(0.0))))
            diff = ~ok.to_numpy()
        elif av.dtype.kind in "iu" and bv.dtype.kind in "iu":
            if av.dtype != bv.dtype:
                return len(want), f"col {c}: int width got={av.dtype} want={bv.dtype}"
            diff = (av != bv).to_numpy()
        else:
            diff = (av.astype(str) != bv.astype(str)).to_numpy()
        if diff.any():
            i = int(np.argmax(diff))
            msgs.append(f"col {c}: row {i}: {av.iloc[i]!r} vs {bv.iloc[i]!r} (n={int(diff.sum())})")
        bad |= diff
    return int(bad.sum()), "; ".join(msgs) or f"ok ({len(a)} rows)"


# ----------------------------------------------------------- statistics


def pct(values, q: float) -> float:
    """Nearest-rank percentile (q in [0, 100]); NaN for no samples."""
    v = sorted(values)
    if not v:
        return float("nan")
    k = max(1, math.ceil(q / 100.0 * len(v)))
    return float(v[k - 1])
