"""Postings partition count of the trigram TF-IDF build: sized from the
plan's statistics, but never from a size estimate that is not a size."""

import tubes_spark.queries as Q

LONG_MAX = (1 << 63) - 1


def _est(df) -> int:
    return int(df._jdf.queryExecution().optimizedPlan().stats().sizeInBytes())


def test_term_partitions_unknown_statistics_use_cores(spark):
    """An RDD-backed plan has no statistics (``Long.MaxValue``), and a
    cross-join product overflows past it: both give one partition per
    core, not ~10^10 partitions."""
    unknown = spark.createDataFrame(spark.sparkContext.parallelize([(1,)]), "x long")
    r = spark.range(1000)
    product = r.crossJoin(r).crossJoin(r).crossJoin(r).crossJoin(r).crossJoin(r).crossJoin(r)
    assert _est(unknown) == LONG_MAX and _est(product) > LONG_MAX
    assert Q._term_partitions(unknown, 4) == 4
    assert Q._term_partitions(product, 4) == 4


def test_term_partitions_sized_and_clamped(spark):
    """A known estimate sizes at 256 MB a partition, up to the fixed
    ceiling."""
    assert Q._term_partitions(spark.range(10), 4) == 4
    mid = spark.range(100 << 27)  # 8 bytes a row: 100 GB estimated
    assert _est(mid) == 800 << 27
    assert Q._term_partitions(mid, 4) == (800 << 27) // (256 << 20)
    huge = spark.range(1 << 40)  # 8 TB estimated
    assert Q._term_partitions(huge, 4) == Q._TERM_PARTS_MAX
