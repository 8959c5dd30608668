"""``stream_live``: an open-loop event feed into the stateful streaming
path.

Two streaming queries read the generator's input directory through
``streaming.run.file_replay_source`` and are started by
``streaming.run.run_stream`` (``available_now=False``), each writing
through ``Sink.exactly_once_parquet``:

* a watermarked event-time window aggregate per (window, user);
* ``streaming.state.running_fold``, a keyed running sum per user whose
  state grows with every new user.

The generator (``gen_stream.py``, a separate process) publishes files on
a fixed schedule through the rungs ``warm``, ``low``, ``high`` and
``over`` (workloads.json), after the ``first_files`` files of rung
``first``, which both queries finish before the clock starts.  Latency
is computed after the run from the sink output (each window row carries the ``gen_ts`` of its newest
event: that event's due offset from the schedule start) and the mtime of
each epoch's commit marker, so measuring it adds no work to a trigger.
A run whose generator published a file later than ``gen_late_limit_s``
after its due time counts one failed operation: its latencies would
charge the generator's delay to the library.
"""

from __future__ import annotations

import glob
import json
import os
import subprocess
import sys
import time

import numpy as np
import pandas as pd

from common import compare_frames, pct

HERE = os.path.dirname(os.path.abspath(__file__))
SCHEMA = "event_id long, user string, value long, event_ts timestamp, gen_ts timestamp"


def _window_agg(src, cfg):
    from pyspark.sql import functions as F

    return (
        src.withWatermark("event_ts", f"{cfg['watermark_s']} seconds")
        .groupBy(F.window("event_ts", f"{cfg['window_s']} seconds").alias("w"), "user")
        .agg(F.count(F.lit(1)).alias("n"), F.sum("value").alias("s"),
             F.max("gen_ts").alias("last_gen_ts"))
        .select(F.col("w.start").alias("window_start"), "user", "n", "s", "last_gen_ts")
    )


def _commit_times(out_dir: str) -> dict:
    return {int(os.path.basename(p)): os.path.getmtime(p)
            for p in glob.glob(os.path.join(out_dir, "_commits", "*"))}


def _read_epochs(out_dir: str) -> pd.DataFrame:
    """All rows the sink committed, with their epoch."""
    import pyarrow.parquet as pq

    frames = []
    for d in sorted(glob.glob(os.path.join(out_dir, "data", "epoch=*"))):
        epoch = int(d.rsplit("=", 1)[1])
        if not os.path.exists(os.path.join(out_dir, "_commits", str(epoch))):
            continue
        files = [f for f in glob.glob(os.path.join(d, "*.parquet"))]
        if not files:
            continue
        t = pd.concat([pq.read_table(f).to_pandas() for f in files], ignore_index=True)
        t["epoch"] = epoch
        frames.append(t)
    return pd.concat(frames, ignore_index=True) if frames else pd.DataFrame()


def _latest(rows: pd.DataFrame, keys: list) -> pd.DataFrame:
    """The final value of each key: its row from the highest epoch."""
    idx = rows.groupby(keys)["epoch"].idxmax()
    return rows.loc[idx].reset_index(drop=True)


def reference(files, cfg) -> "tuple[pd.DataFrame, pd.DataFrame]":
    """Final per-(window, user) aggregates and per-user fold totals,
    computed by DuckDB over the generated events."""
    import duckdb

    from gen_stream import EVENT_EPOCH_US, user_names

    ev = pd.DataFrame({
        "user": user_names(np.concatenate([f["user"] for f in files])),
        "value": np.concatenate([f["value"] for f in files]),
        "ets": np.concatenate([f["event_ts_us"] for f in files]),
    })
    w_us = int(cfg["window_s"] * 1e6)
    con = duckdb.connect()
    con.register("ev", ev)
    win = con.execute(f"""
        SELECT make_timestamp({EVENT_EPOCH_US}
                 + CAST(floor((ets - {EVENT_EPOCH_US}) / {w_us}) AS BIGINT) * {w_us})
                 AS window_start,
               user, count(*) AS n, CAST(sum(value) AS BIGINT) AS s
        FROM ev GROUP BY ALL""").fetchdf()
    fold = con.execute("""
        SELECT user AS key, CAST(sum(value) AS DOUBLE) AS acc, count(*) AS n
        FROM ev GROUP BY user""").fetchdf()
    con.close()
    return win, fold


def _progress(q) -> list:
    return [json.loads(p.json) if hasattr(p, "json") else p for p in q.recentProgress]


def _processed(q) -> int:
    return sum(p["numInputRows"] for p in _progress(q))


def _start(ctx, in_dir, outs, cfg):
    from tubes_spark.sink import Sink
    from tubes_spark.streaming.run import file_replay_source, run_stream
    from tubes_spark.streaming.state import running_fold

    cap = cfg["files_per_trigger"]

    def sink(name):
        inner = Sink.exactly_once_parquet(outs[name])
        if not ctx.tracer.enabled:
            return inner
        times = ctx.sink_times.setdefault(name, [])

        def timed(df):  # runs on the query's thread, once per epoch
            t = time.perf_counter()
            inner(df)
            times.append(time.perf_counter() - t)
        return Sink(timed)

    src_w = file_replay_source(ctx.spark, in_dir, SCHEMA, max_files_per_trigger=cap)
    src_f = file_replay_source(ctx.spark, in_dir, SCHEMA, max_files_per_trigger=cap)
    q_w = run_stream(_window_agg(src_w, cfg), sink("window"),
                     os.path.join(ctx.work, "ck_window"), available_now=False,
                     query_name=f"stream_live_window_{ctx.cpus}")
    fold = running_fold(src_f, ["user"], "value", op="sum")
    q_f = run_stream(fold, sink("fold"), os.path.join(ctx.work, "ck_fold"),
                     available_now=False, query_name=f"stream_live_fold_{ctx.cpus}")
    return {"window": q_w, "fold": q_f}


def _source_log(ck_dir: str) -> dict:
    """Query batchId -> file indexes it read.  The file source logs its
    files (``sources/0``: ``v1`` header, one JSON entry per file) under
    its own batch counter, which skips the query's no-data batches; the
    query's offset log (``offsets/<batchId>``, the source offset on its
    third line) says up to which source batch each query batch read."""
    by_src: dict = {}
    for p in glob.glob(os.path.join(ck_dir, "sources", "0", "*")):
        with open(p) as fh:
            for line in fh:
                if line.startswith("{"):
                    e = json.loads(line)
                    j = int(os.path.basename(e["path"]).split("-")[1].split(".")[0])
                    by_src.setdefault(int(e["batchId"]), set()).add(j)
    ends = {}
    for p in glob.glob(os.path.join(ck_dir, "offsets", "*")):
        if os.path.basename(p).isdigit():
            with open(p) as fh:
                ends[int(os.path.basename(p))] = json.loads(fh.read().splitlines()[2])["logOffset"]
    out, prev = {}, -1
    for b in sorted(ends):
        js = set().union(*(by_src.get(k, set()) for k in range(prev + 1, ends[b] + 1)))
        if js:
            out[b] = js
        prev = ends[b]
    return out


def _wait(queries, n: int, deadline: float) -> None:
    while time.time() < deadline:
        for q in queries.values():
            if q.exception() is not None:
                raise RuntimeError(f"stream failed: {q.exception()}")
        if all(_processed(q) >= n for q in queries.values()):
            return
        time.sleep(0.1)
    raise TimeoutError(f"streams did not process {n} events in time")


def _ready(path: str, gen, deadline: float) -> float:
    """Wait for the generator's ready file; return the schedule start."""
    while not os.path.exists(path):
        if gen.poll() is not None:
            raise RuntimeError(f"generator exited with {gen.returncode} before it was ready")
        if time.time() > deadline:
            raise TimeoutError("generator did not get ready in time")
        time.sleep(0.02)
    with open(path) as fh:
        return float(json.load(fh)["t0"])


def _stop(queries) -> None:
    """Stop each query between triggers where possible: a stop that
    interrupts a no-data batch's write only logs noise, but it is noise."""
    for q in queries.values():
        t = time.time() + 5
        while q.isActive and q.status["isTriggerActive"] and time.time() < t:
            time.sleep(0.05)
        q.stop()


def schedule(ctx) -> dict:
    """The workload constants with each rung's length resolved: measured
    rungs take their share of --seconds, ``warm`` and ``over`` have
    fixed lengths, and rung ``first`` is one file."""
    cfg = dict(ctx.cfg, seed=ctx.seed)
    r0 = cfg["rungs"][0]
    first = {"name": "first", "rate": r0["rate"],
             "seconds": cfg["first_files"] * cfg["events_per_file"] / r0["rate"]}
    cfg["rungs"] = [first] + [dict(r, seconds=r.get("seconds", r.get("share", 0) * ctx.seconds))
                              for r in cfg["rungs"]]
    return cfg


def run(ctx) -> dict:
    from gen_stream import make_files, publish

    spark, tr = ctx.spark, ctx.tracer
    ctx.sink_times = {}  # query -> per-epoch sink call seconds (traced runs)
    cfg = schedule(ctx)
    files, digest = make_files(cfg)
    n_events = int(sum(len(f["event_id"]) for f in files))
    first = [f for f in files if f["rung"] == "first"]
    in_dir = os.path.join(ctx.work, "in")
    os.makedirs(in_dir)
    outs = {"window": os.path.join(ctx.work, "out_window"),
            "fold": os.path.join(ctx.work, "out_fold")}
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    with tr.span("streaming.run"):
        queries = _start(ctx, in_dir, outs, cfg)
    prog = {}
    gen = None
    try:
        # first batch (planning, code generation, Python workers) before the clock starts
        first_log = publish(first, in_dir, time.time())
        _wait(queries, sum(len(f["event_id"]) for f in first),
              time.time() + cfg["drain_timeout_s"])
        gen_cfg = {k: cfg[k] for k in ("events_per_file", "keys", "zipf_s", "ooo_share",
                                       "ooo_max_s", "watermark_s", "rungs", "seed")}
        gen_cfg.update(lead_s=0.2, in_dir=in_dir,
                       ready_path=os.path.join(ctx.work, "gen_ready.json"),
                       log_path=os.path.join(ctx.work, "gen_log.json"))
        cfg_path = os.path.join(ctx.work, "gen_cfg.json")
        with open(cfg_path, "w") as fh:
            json.dump(gen_cfg, fh)
        gen = subprocess.Popen([sys.executable, os.path.join(HERE, "gen_stream.py"), cfg_path],
                               env={**os.environ, "OMP_NUM_THREADS": "1"})
        t0 = _ready(gen_cfg["ready_path"], gen, time.time() + 60)
        time.sleep(max(0.0, t0 + files[-1]["due_s"] - time.time()))
        _wait(queries, n_events, t0 + files[-1]["due_s"] + cfg["drain_timeout_s"])
        if gen.wait(timeout=30) != 0:
            raise RuntimeError(f"generator exited with {gen.returncode}")
    finally:
        if gen is not None and gen.poll() is None:
            gen.kill()
            gen.wait()
        for name, q in queries.items():
            prog[name] = _progress(q)
        _stop(queries)
    with open(gen_cfg["log_path"]) as fh:
        gen_log = json.load(fh)
    return _evaluate(ctx, cfg, files, digest, t0, first_log, gen_log, prog, outs)


def baseline(ctx) -> dict:
    """Single-thread reference point: the seeded input up to the end of
    rung ``low``, all files present up front, drained at local[1]."""
    from gen_stream import make_files, publish

    cfg = schedule(ctx)
    files = [f for f in make_files(cfg)[0] if f["rung"] in ("first", "warm", "low")]
    n = sum(len(f["event_id"]) for f in files)
    in_dir = os.path.join(ctx.work, "in")
    os.makedirs(in_dir)
    outs = {"window": os.path.join(ctx.work, "out_window"),
            "fold": os.path.join(ctx.work, "out_fold")}
    ctx.sink_times = {}
    publish(files, in_dir, time.time())
    t = time.perf_counter()
    queries = _start(ctx, in_dir, outs, cfg)
    try:
        _wait(queries, n, time.time() + 120)
    finally:
        _stop(queries)
    return {"events": n, "drain_s": time.perf_counter() - t,
            "eps": n / (time.perf_counter() - t)}


def _evaluate(ctx, cfg, files, digest, t0, first_log, gen_log, prog, outs) -> dict:
    due = {j: d for j, d, _ in first_log + gen_log}
    late = [pub - d for _, d, pub in gen_log]
    late_max = max(late)
    gaps = {r["name"]: cfg["events_per_file"] / r["rate"] for r in cfg["rungs"]}
    spans = {}  # measured rung -> [first due, last due + gap)
    for f in files:
        if f["rung"] in ("first", "warm"):
            continue
        a, b = spans.get(f["rung"], (float("inf"), 0.0))
        spans[f["rung"]] = (min(a, due[f["j"]]), max(b, due[f["j"]] + gaps[f["rung"]]))

    # ---- correctness: final window rows and fold totals vs DuckDB
    want_win, want_fold = reference(files, cfg)
    rows = {name: _read_epochs(out) for name, out in outs.items()}
    commits = {name: _commit_times(out) for name, out in outs.items()}
    got_win = _latest(rows["window"], ["window_start", "user"])[["window_start", "user", "n", "s"]]
    got_fold = _latest(rows["fold"], ["key"])[["key", "acc", "n"]]
    bad_w, msg_w = compare_frames(got_win, want_win)
    bad_f, msg_f = compare_frames(got_fold, want_fold)

    # ---- latency: commit of the row's epoch minus the due time of its newest event
    rw = rows["window"]
    gen_s = t0 + rw["last_gen_ts"].astype("datetime64[us]").astype("int64").to_numpy() / 1e6
    lat = rw["epoch"].map(commits["window"]).to_numpy() - gen_s
    lat_by = {name: lat[(gen_s >= a - 1e-6) & (gen_s < b - 1e-6)].tolist()
              for name, (a, b) in spans.items()}

    # ---- backlog and throughput: an input file counts as processed once
    # both queries have committed the epoch that read it
    size = {f["j"]: len(f["event_id"]) for f in files}
    logs = {name: _source_log(os.path.join(ctx.work, f"ck_{name}")) for name in outs}
    read_in = {name: {j: bt for bt, js in logs[name].items() for j in js} for name in outs}
    done_at = {j: max(commits[name].get(read_in[name].get(j), float("inf")) for name in outs)
               for j in size}
    commit_ts = sorted(t for t in done_at.values() if t < float("inf"))

    def processed_by(t):
        return sum(n for j, n in size.items() if done_at[j] <= t)

    def backlog_at(t):
        return sum(n for j, n in size.items() if due[j] <= t < done_at[j])

    backlog = {name: backlog_at(b) for name, (a, b) in spans.items()}
    # the last commit that finished input; a no-data batch after it moves no events
    end = commit_ts[-1]
    over_a = spans["over"][0]
    drain_eps = (processed_by(end) - processed_by(over_a)) / (end - over_a)
    # max_eps: the median rate of the burst's full triggers (those that
    # read the whole file cap and at least one burst file) over both
    # queries.  A trigger that read fewer files, such as one that caught
    # the burst while it was still being published or the one that read
    # what was left, has a size that varies from run to run: left out.
    cap = cfg["files_per_trigger"]
    over_js = {f["j"] for f in files if f["rung"] == "over"}
    full = [p["numInputRows"] / (p["durationMs"]["triggerExecution"] / 1000)
            for name, ps in prog.items() for p in ps
            if len(logs[name].get(p["batchId"], ())) == cap
            and logs[name][p["batchId"]] & over_js]
    if not full:
        raise RuntimeError("no trigger of the burst read the whole file cap")
    max_eps = float(np.median(full))
    # sustained: the highest measured rung whose p99 met the limit (``over``
    # is a burst, not a rate).  Whether a rung's backlog grew is not part of
    # the rule: a rung spans one or two triggers, too few for a backlog test
    # to tell a rung above the drain rate from trigger-to-trigger variation.
    sustained = 0.0
    for r in cfg["rungs"]:
        if "share" in r and pct(lat_by[r["name"]], 99) <= cfg["lat_p99_limit_s"]:
            sustained = float(r["rate"])
    gen_ok = late_max <= cfg["gen_late_limit_s"]
    low, high = lat_by["low"], lat_by["high"]
    metrics = {"wall_s": end - spans["low"][0], "lat_p50_s": pct(low, 50),
               "lat_p99_s": pct(low, 99), "eps": max_eps}
    detail = {
        "input_digest": digest, "events": int(sum(size.values())),
        "latency_samples": {k: len(v) for k, v in lat_by.items()},
        "lat_low_p50_s": pct(low, 50), "lat_low_p99_s": pct(low, 99),
        "lat_high_p50_s": pct(high, 50), "lat_high_p99_s": pct(high, 99),
        "sustained_eps": sustained, "max_eps": max_eps, "full_trigger_eps": full,
        "burst_drain_eps": drain_eps, "backlog_end_events": backlog,
        "gen_late_s_max": late_max, "gen_on_schedule": gen_ok,
        "check": {"window": msg_w, "fold": msg_f},
    }
    layers = {}
    if ctx.tracer.enabled:
        layers = _layers(ctx, prog, rows, logs, due, late, lat_by, sustained, backlog, outs)
    # the schedule itself is one checked operation
    return {"metrics": metrics, "attempted": len(want_win) + len(want_fold) + 1,
            "failed": bad_w + bad_f + (0 if gen_ok else 1), "detail": detail, "layers": layers}


def _layers(ctx, prog, rows, logs, due, late, lat_by, sustained, backlog, outs) -> dict:
    from common import spark_counters

    allp = prog["window"] + prog["fold"]
    busy = [p for p in allp if p["numInputRows"] > 0]

    def dur(key):
        return pct([p["durationMs"].get(key, 0) for p in busy], 50)

    def ops(p, key):
        return sum(o.get(key) or 0 for o in p.get("stateOperators") or [])

    # input lag: trigger start minus the due time of the oldest file it read
    lag = []
    for name, ps in prog.items():
        for p in ps:
            js = logs[name].get(p["batchId"])
            if p["numInputRows"] > 0 and js:
                lag.append(pd.Timestamp(p["timestamp"]).timestamp() - min(due[j] for j in js))
    batches = [(name, p["batchId"]) for name, ps in prog.items() for p in ps
               if p["numInputRows"] > 0]
    files = [os.path.join(d, f) for out in outs.values() for d, _, fs in os.walk(out)
             for f in fs if f.endswith(".parquet")]
    last = [ps[-1] for ps in prog.values() if ps]
    sc = spark_counters(ctx.spark, sorted({p["runId"] for p in allp}))
    return {
        "stream.triggers": len(busy),
        "stream.trigger_ms_p50": dur("triggerExecution"),
        "stream.latest_offset_ms": dur("latestOffset"),
        "stream.plan_ms": dur("queryPlanning"),
        "stream.wal_commit_ms": dur("walCommit"),
        "stream.commit_offsets_ms": dur("commitOffsets"),
        "stream.add_batch_ms": dur("addBatch"),
        "stream.batch_rows_p50": pct([p["numInputRows"] for p in busy], 50),
        "stream.input_lag_s": pct(lag, 50),
        "stream.backlog_events": max(backlog.values()),
        "stream.lat_low_p99_s": pct(lat_by["low"], 99),
        "stream.lat_high_p50_s": pct(lat_by["high"], 50),
        "stream.lat_high_p99_s": pct(lat_by["high"], 99),
        "stream.sustained_eps": sustained,
        "state.commit_ms": pct([ops(p, "commitTimeMs") for p in busy], 50),
        "state.rows_total": sum(ops(p, "numRowsTotal") for p in last),
        "state.memory_bytes": sum(ops(p, "memoryUsedBytes") for p in last),
        "state.rows_updated": sum(ops(p, "numRowsUpdated") for p in busy),
        "state.rows_dropped_late": sum(ops(p, "numRowsDroppedByWatermark") for p in allp),
        "sink.write_s": pct([t for ts in ctx.sink_times.values() for t in ts], 50),
        "sink.files_written": len(files),
        "sink.bytes_written": sum(os.path.getsize(f) for f in files),
        "sink.epochs_committed": sum(int(r["epoch"].nunique()) for r in rows.values()),
        "sink.epochs_replayed": len(batches) - len(set(batches)),
        "gen.late_s_max": max(late),
        **{f"spark.{k}": v for k, v in sc.items() if k != "driver_gap_s"},
    }
