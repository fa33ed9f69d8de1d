"""Table-statistics lifecycle: ANALYZE TABLE feeding the cost-based
planner — the Spark analog of the reference's post-load ANALYZE
assumption (Redshift COPY → ANALYZE, stage_redshift.py:34-48: the
warehouse side expects a stats-driven planner after every bulk load).

Two pins:
1. ANALYZE TABLE COMPUTE STATISTICS puts an exact rowCount into the
   catalog, and the OPTIMIZER's stats for a scan of that table carry it
   (absent before, exact after) — stats reach the planner, not just
   DESCRIBE output.
2. With CBO enabled, column stats (ndv from ANALYZE ... FOR COLUMNS)
   drive a JOIN STRATEGY change: an equality-filtered dim whose on-disk
   size exceeds autoBroadcastJoinThreshold plans as SortMergeJoin
   without stats, but with column stats the 1/ndv selectivity estimate
   shrinks the post-filter size below the threshold and the SAME query
   plans as BroadcastHashJoin. AQE is disabled inside the test so the
   pin captures the static, statistics-driven decision (AQE would make
   the same call at runtime from observed sizes — the point here is the
   compile-time CBO path a 100 TB warehouse relies on to avoid ever
   materializing the wrong join).
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.sources.sinks import drop_table


@contextmanager
def _confs(spark, **kv):
    """Set session confs for the block, restoring previous values after
    (the test session is shared — leaked confs would poison other tests)."""
    old = {}
    for k, v in kv.items():
        key = k.replace("__", ".")
        old[key] = spark.conf.get(key, None)
        spark.conf.set(key, v)
    try:
        yield
    finally:
        for key, v in old.items():
            if v is None:
                spark.conf.unset(key)
            else:
                spark.conf.set(key, v)


def _scan_rowcount(spark, table):
    """The optimizer's row-count estimate for a plain scan of `table`
    (java Option: None when the catalog has no stats)."""
    opt = spark.table(table)._jdf.queryExecution().optimizedPlan()
    rc = opt.stats().rowCount()
    return None if rc.isEmpty() else int(str(rc.get()))


def test_analyze_table_feeds_rowcount_to_planner(spark):
    name = "stats_lifecycle_t"
    drop_table(spark, name)
    df = spark.range(0, 1234).select(
        F.col("id").alias("k"), (F.col("id") % 7).alias("v")
    )
    df.write.mode("overwrite").format("parquet").saveAsTable(name)
    try:
        # catalog row counts reach plan stats only under the CBO flag
        # (toPlanStats drops rowCount otherwise) — the lifecycle is
        # ANALYZE + cbo.enabled, and the pin documents both halves
        with _confs(spark, spark__sql__cbo__enabled="true"):
            assert _scan_rowcount(spark, name) is None  # no stats yet
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            assert _scan_rowcount(spark, name) == 1234  # exact, from the catalog
            # the lifecycle survives an append + re-ANALYZE (the per-load
            # ANALYZE cadence the reference's warehouse stage assumes)
            df.limit(100).write.mode("append").format("parquet").saveAsTable(name)
            spark.sql(f"ANALYZE TABLE {name} COMPUTE STATISTICS")
            assert _scan_rowcount(spark, name) == 1334
    finally:
        drop_table(spark, name)


def test_column_stats_drive_broadcast_decision(spark):
    dim_name, fact_name = "stats_cbo_dim", "stats_cbo_fact"
    drop_table(spark, dim_name)
    drop_table(spark, fact_name)
    # dim: unique key + fat pad so the parquet files comfortably exceed
    # the broadcast threshold set below; fact joins on the key
    dim = spark.range(0, 20000).select(
        F.col("id").alias("k"),
        F.concat(F.lit("pad-"), F.md5(F.col("id").cast("string"))).alias("pad"),
    )
    fact = spark.range(0, 50000).select(
        (F.col("id") % 20000).alias("k"), (F.col("id") * 3).alias("m")
    )
    dim.write.mode("overwrite").format("parquet").saveAsTable(dim_name)
    fact.write.mode("overwrite").format("parquet").saveAsTable(fact_name)
    try:
        with _confs(
            spark,
            spark__sql__cbo__enabled="true",
            spark__sql__adaptive__enabled="false",
            spark__sql__autoBroadcastJoinThreshold=str(64 * 1024),
        ):
            def plan():
                q = (
                    spark.table(fact_name)
                    .join(
                        spark.table(dim_name).filter(F.col("k") == 123), "k"
                    )
                    .select("k", "m", "pad")
                )
                return q._jdf.queryExecution().executedPlan().toString()

            # sanity: the raw dim is bigger than the threshold
            dim_files = spark.table(dim_name)._jdf.queryExecution()
            assert int(str(dim_files.optimizedPlan().stats().sizeInBytes())) > 64 * 1024
            # no stats: the planner only has file sizes — the filtered dim
            # still estimates above threshold, so the join sort-merges
            before = plan()
            assert "SortMergeJoin" in before and "BroadcastHashJoin" not in before
            # column stats: equality selectivity = 1/ndv shrinks the
            # estimate to ~1 row — the SAME query now broadcasts
            spark.sql(
                f"ANALYZE TABLE {dim_name} COMPUTE STATISTICS FOR COLUMNS k, pad"
            )
            after = plan()
            assert "BroadcastHashJoin" in after, after
    finally:
        drop_table(spark, dim_name)
        drop_table(spark, fact_name)
