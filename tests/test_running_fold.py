"""``streaming.state.running_fold``: the associative ``op`` folds run as
Spark's native streaming aggregate and must emit, trigger by trigger,
the rows the per-key Python ``step`` loop emits."""

import math
import re

import pytest

from tubes_spark.session import state_store_rocksdb
from tubes_spark.streaming.run import state_sized_shuffle
from tubes_spark.streaming.state import running_fold

SCHEMA = "uid long, name string, grp long, v double"

# the per-row step each op must agree with; sum/min/max skip null
# values (NaN in the pandas batch), count counts every row
STEPS = {
    "sum": lambda a, v: a if math.isnan(v) else a + v,
    "min": lambda a, v: a if math.isnan(v) else min(a, v),
    "max": lambda a, v: a if math.isnan(v) else max(a, v),
    "count": lambda a, v: a + 1,
}


@pytest.fixture()
def tmp(tmp_path):
    return str(tmp_path)


def _write_files(spark, path, n_files=3, rows_per_file=60, null_keys=False):
    """``n_files`` single-file appends; every file holds every
    (uid, grp) group, and every 9th value is null."""
    for f in range(n_files):
        rows = []
        for i in range(rows_per_file):
            j = f * rows_per_file + i
            null_key = null_keys and i % 10 == 0
            v = None if j % 9 == 0 else float((j * 37) % 1000 - 300)
            rows.append((None if null_key else i % 5, None if null_key else f"u{i % 7}",
                         i % 3, v))
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.mode("append").parquet(path)


def _stream(spark, path):
    return (spark.readStream.schema(SCHEMA)
            .option("maxFilesPerTrigger", "1").parquet(path))


def _drain(spark, fold, ck, fail_at=None):
    """Run ``fold`` to the end of its input; return every emitted row
    as ``(batch_id, key, acc, n)``.  With ``fail_at`` the sink raises
    on that batch, so the query dies before committing it."""
    seen: list = []

    def sink(bdf, bid):
        if bid == fail_at:
            raise RuntimeError("stop mid-drain")
        seen.extend((bid, r["key"], r["acc"], r["n"]) for r in bdf.collect())

    with state_sized_shuffle(spark):
        q = (fold.writeStream.foreachBatch(sink).outputMode("update")
             .option("checkpointLocation", ck).trigger(availableNow=True).start())
    try:
        q.awaitTermination(300)
    except Exception:
        if fail_at is None:
            raise
    return sorted(seen, key=lambda r: (r[0], str(r[1]), str(r[2]), r[3]))


def _final(rows):
    """Latest (acc, n) per key: n grows with every update of a key."""
    out: dict = {}
    for _bid, k, acc, n in rows:
        if n >= out.get(k, (None, -1))[1]:
            out[k] = (acc, n)
    return out


@pytest.mark.parametrize("key", ["uid", "name"])
@pytest.mark.parametrize("op", sorted(STEPS))
def test_native_op_matches_step_loop(spark, tmp, op, key):
    """Every trigger's rows equal the Python step loop's, with a
    non-zero init and null values in the folded column."""
    _write_files(spark, f"{tmp}/in")
    kw = dict(init=50.0)
    native = _drain(spark, running_fold(_stream(spark, f"{tmp}/in"), [key], "v", op=op, **kw),
                    f"{tmp}/ck_native")
    loop = _drain(spark, running_fold(_stream(spark, f"{tmp}/in"), [key], "v",
                                      step=STEPS[op], **kw), f"{tmp}/ck_loop")
    assert native == loop
    assert len({bid for bid, *_ in native}) == 3  # one trigger per file


def test_native_op_multiple_key_columns(spark, tmp):
    """Grouping is on every key column; ``key`` carries the first, as
    on the Python path.  Every file touches every group, so the last
    trigger's rows are the final per-group totals."""
    _write_files(spark, f"{tmp}/in")
    native = _drain(spark, running_fold(_stream(spark, f"{tmp}/in"), ["uid", "grp"], "v",
                                        op="sum"), f"{tmp}/ck_native")
    loop = _drain(spark, running_fold(_stream(spark, f"{tmp}/in"), ["uid", "grp"], "v"),
                  f"{tmp}/ck_loop")
    last = max(bid for bid, *_ in native)
    got = sorted((k, acc, n) for bid, k, acc, n in native if bid == last)
    pdf = spark.read.parquet(f"{tmp}/in").toPandas()
    want = sorted(
        (str(uid), float(g["v"].sum()), len(g))
        for (uid, _grp), g in pdf.groupby(["uid", "grp"])
    )
    assert len(got) == 15 and got == want
    # the step loop's default step does not skip nulls, so compare the
    # row shape (which keys, how many rows, which n) per trigger
    assert (sorted((b, k, n) for b, k, _a, n in native)
            == sorted((b, k, n) for b, k, _a, n in loop))


def test_native_op_plan_has_no_python_state(spark, tmp):
    """op='sum' without eviction is a JVM aggregate: no
    FlatMapGroupsInPandasWithState node and exactly one Exchange."""
    _write_files(spark, f"{tmp}/in", n_files=1)

    def executed_plan(tag, **kw):
        fold = running_fold(_stream(spark, f"{tmp}/in"), ["uid"], "v", **kw)
        with state_sized_shuffle(spark):
            q = (fold.writeStream.format("memory").queryName(f"fold_plan_{tag}")
                 .outputMode("update").option("checkpointLocation", f"{tmp}/ck_{tag}")
                 .trigger(availableNow=True).start())
        q.awaitTermination(300)
        return q._jsq.explainInternal(False)

    native, loop = executed_plan("native", op="sum"), executed_plan("loop")
    assert "FlatMapGroupsInPandasWithState" not in native, native
    assert "StateStoreSave" in native, native
    assert len(re.findall(r"\bExchange\b", native)) == 1, native
    assert "FlatMapGroupsInPandasWithState" in loop, loop


@pytest.mark.parametrize("provider", ["hdfs", "rocksdb"])
def test_native_op_resumes_mid_drain(spark, tmp, provider):
    """Kill the drain at its third trigger, restart from the
    checkpoint: the final totals equal an uninterrupted drain's."""
    import contextlib

    _write_files(spark, f"{tmp}/in", n_files=4)
    scope = state_store_rocksdb(spark) if provider == "rocksdb" else contextlib.nullcontext()
    with scope:
        def fold():
            return running_fold(_stream(spark, f"{tmp}/in"), ["uid"], "v", op="sum", init=1.0)

        first = _drain(spark, fold(), f"{tmp}/ck", fail_at=2)
        assert {bid for bid, *_ in first} == {0, 1}
        resumed = _drain(spark, fold(), f"{tmp}/ck")
        assert {bid for bid, *_ in resumed} == {2, 3}  # batches 0-1 not replayed
        whole = _drain(spark, fold(), f"{tmp}/ck_whole")
    assert _final(first + resumed) == _final(whole)
    pdf = spark.read.parquet(f"{tmp}/in").toPandas()
    want = {str(u): (1.0 + float(g["v"].sum()), len(g)) for u, g in pdf.groupby("uid")}
    assert _final(whole) == want


@pytest.mark.parametrize("key", ["uid", "name"])
def test_native_op_null_key_row(spark, tmp, key):
    """A null key is its own group and its row keeps a null key; the
    Python path writes ``str()`` of the pandas value instead ('nan'
    for a number, 'None' for a string).  All other rows agree."""
    _write_files(spark, f"{tmp}/in", n_files=2, null_keys=True)
    native = _drain(spark, running_fold(_stream(spark, f"{tmp}/in"), [key], "v", op="count"),
                    f"{tmp}/ck_native")
    loop = _drain(spark, running_fold(_stream(spark, f"{tmp}/in"), [key], "v",
                                      step=STEPS["count"]), f"{tmp}/ck_loop")
    py_null = "nan" if key == "uid" else "None"
    assert native == sorted(((b, None if k == py_null else k, a, n) for b, k, a, n in loop),
                            key=lambda r: (r[0], str(r[1]), str(r[2]), r[3]))
    assert _final(native)[None] == (12.0, 12)
