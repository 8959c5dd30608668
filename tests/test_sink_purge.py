"""Index purges drop the bucket-table registration of every directory
they remove, whichever rewrite removes it."""

import os

import pytest
from pyspark.sql import functions as F

from tubes_spark import sink as sink_mod
from tubes_spark.sink import _CURRENT_EPOCH, Sink


def _write_group(spark, g, n_epochs=2):
    sink = Sink.atomic_parquet_group(g, {"a": None, "b": None})
    for ep in range(n_epochs):
        df = spark.range(ep * 10, ep * 10 + 10).withColumn("u", F.col("id") % 4)
        token = _CURRENT_EPOCH.set(ep)
        try:
            sink(df)
        finally:
            _CURRENT_EPOCH.reset(token)


@pytest.mark.parametrize("rewrite", [
    lambda spark, g: Sink.compact_to_latest(spark, g, ["id"]),
    lambda spark, g: Sink.delete_rows_atomic(spark, g, "u = 1"),
], ids=["compact_to_latest", "delete_rows_atomic"])
def test_purge_forgets_bucket_table(spark, tmp_path, rewrite):
    """Register a bucketed table over every epoch dir (as an index read
    does), rewrite with purge: each purged dir is gone from disk, from
    the catalog and from the registration cache."""
    g = str(tmp_path / "grp")
    _write_group(spark, g)
    app = spark.sparkContext.applicationId
    dirs = [f"{g}/{leaf}/data/epoch={e}" for leaf in ("a", "b") for e in (0, 1)]
    for d in dirs:
        Sink._read_bucketed_dir(spark, d, ["id"], 2)
        assert (app, Sink._bucket_table_name(d)) in sink_mod._BUCKET_TBL_REGISTERED
    rewrite(spark, g)
    for d in dirs:
        tbl = Sink._bucket_table_name(d)
        assert not os.path.exists(d)
        assert (app, tbl) not in sink_mod._BUCKET_TBL_REGISTERED
        assert not spark.catalog.tableExists(tbl)
