"""Open-loop event generator for the ``stream_live`` workload.

Run as its own process (``python3 gen_stream.py CONFIG.json``).  It
publishes parquet files into the input directory, each at the time the
schedule fixes for it, whether or not the stream keeps up: each file is
written under a hidden name and renamed into place, so the file source
never sees a partial file.  Every event carries ``gen_ts``, its file's
due offset from the schedule start ``t0`` (stored as a timestamp that
many microseconds after the Unix epoch), so latency is measured from
when the event was due, not from when a stalled generator got round to
it.  Because ``gen_ts`` does not depend on ``t0``, every file is encoded
before the schedule starts; publishing one is a write and a rename.
The generator then picks ``t0`` and reports it in a ready file, so its
own start-up (imports, encoding) never makes a file late.

The event content is a pure function of the seed and the schedule
(:func:`make_files`); the benchmark process calls the same function to
build the reference and the input digest.  Nothing in a file depends on
the wall clock.
"""

from __future__ import annotations

import hashlib
import json
import os
import sys
import time

import numpy as np

# event time is virtual: a file due at offset t holds event times from
# EVENT_EPOCH + t up to the next file's offset (minus out-of-order delays)
EVENT_EPOCH_US = 1_704_067_200_000_000  # 2024-01-01T00:00:00Z


def zipf_cdf(n_keys: int, exponent: float) -> np.ndarray:
    w = 1.0 / np.arange(1, n_keys + 1, dtype=np.float64) ** exponent
    return np.cumsum(w) / w.sum()


def make_files(cfg: dict) -> "tuple[list[dict], str]":
    """Return ([{j, rung, due_s, event_id, user, value, event_ts_us}], digest).

    Every file holds ``events_per_file`` events, so a rung's rate sets
    how often files are due (``due_s``: offset from the schedule start;
    the one file of rung ``first`` is due at 0 and is published by the
    benchmark itself before the schedule starts).  Out-of-order events
    have their event time moved back by up to ``ooo_max_s``; the config
    keeps that inside the watermark delay, so no event is ever late and
    the final aggregates are deterministic."""
    rng = np.random.Generator(np.random.PCG64(int(cfg["seed"])))
    per_file = int(cfg["events_per_file"])
    cdf = zipf_cdf(int(cfg["keys"]), float(cfg["zipf_s"]))
    if cfg["ooo_max_s"] > cfg["watermark_s"]:
        raise ValueError("ooo_max_s must stay inside the watermark delay")
    files, digest = [], hashlib.sha256()
    j, next_id, due = 0, 0, 0.0
    for rung in cfg["rungs"]:
        gap = per_file / float(rung["rate"])
        n_files = max(1, int(round(rung["seconds"] * rung["rate"] / per_file)))
        if rung["name"] == "first":  # published before the schedule starts
            gap = 0.0
        for _ in range(n_files):
            user = np.searchsorted(cdf, rng.random(per_file), side="right").astype(np.int64)
            value = rng.integers(1, 100, size=per_file, dtype=np.int64)
            base = EVENT_EPOCH_US + int(round(due * 1e6))
            ets = base + rng.integers(0, max(1, int(gap * 1e6)), size=per_file)
            late = rng.random(per_file) < float(cfg["ooo_share"])
            back = rng.integers(0, int(cfg["ooo_max_s"] * 1e6) + 1, size=per_file)
            ets = np.where(late, ets - back, ets).astype(np.int64)
            ids = np.arange(next_id, next_id + per_file, dtype=np.int64)
            for a in (ids, user, value, ets):
                digest.update(a.tobytes())
            files.append({"j": j, "rung": rung["name"], "due_s": due,
                          "event_id": ids, "user": user, "value": value,
                          "event_ts_us": ets})
            next_id += per_file
            j += 1
            due += gap
    return files, digest.hexdigest()


def user_names(user: np.ndarray) -> list:
    return [f"u{u:07d}" for u in user.tolist()]


def encode(f: dict) -> bytes:
    """One file's parquet bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    n = len(f["event_id"])
    table = pa.table({
        "event_id": pa.array(f["event_id"], pa.int64()),
        "user": pa.array(user_names(f["user"]), pa.string()),
        "value": pa.array(f["value"], pa.int64()),
        "event_ts": pa.array(f["event_ts_us"], pa.timestamp("us")),
        "gen_ts": pa.array(np.full(n, int(round(f["due_s"] * 1e6)), np.int64),
                           pa.timestamp("us")),
    })
    sink = pa.BufferOutputStream()
    pq.write_table(table, sink)
    return sink.getvalue().to_pybytes()


def write_on_schedule(blobs: list, out_dir: str, t0: float) -> list:
    """Write each encoded file ``(j, due_s, bytes)`` at ``t0 + due_s``;
    return [j, due, published]."""
    log = []
    for j, due_s, data in blobs:
        due = t0 + due_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        tmp = os.path.join(out_dir, f".part-{j:06d}.parquet")
        with open(tmp, "wb") as fh:
            fh.write(data)
        os.rename(tmp, os.path.join(out_dir, f"part-{j:06d}.parquet"))
        log.append([j, due, time.time()])
    return log


def publish(files: "list[dict]", out_dir: str, t0: float) -> list:
    """Encode the files, then write each at ``t0 + due_s``."""
    return write_on_schedule([(f["j"], f["due_s"], encode(f)) for f in files], out_dir, t0)


def _dump(obj, path: str) -> None:
    with open(path + ".tmp", "w") as fh:
        json.dump(obj, fh)
    os.rename(path + ".tmp", path)


def main(path: str) -> None:
    with open(path) as fh:
        cfg = json.load(fh)
    files, _ = make_files(cfg)
    # the parent publishes the first file itself, before starting this process
    blobs = [(f["j"], f["due_s"], encode(f)) for f in files if f["rung"] != "first"]
    t0 = time.time() + float(cfg["lead_s"])
    _dump({"t0": t0}, cfg["ready_path"])
    _dump(write_on_schedule(blobs, cfg["in_dir"], t0), cfg["log_path"])


if __name__ == "__main__":
    main(sys.argv[1])
