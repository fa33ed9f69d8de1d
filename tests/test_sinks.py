"""Sink tests: catalog-table drop, partitioned writes with dynamic
partition overwrite (incremental month refresh)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.sources import sinks


@pytest.fixture()
def catalog_table(spark):
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    df.write.mode("overwrite").format("parquet").saveAsTable("t_sink")
    yield "t_sink"
    sinks.drop_table(spark, "t_sink")


def test_create_and_drop(spark, catalog_table):
    assert spark.table(catalog_table).count() == 2
    sinks.drop_table(spark, catalog_table)
    assert not spark.catalog.tableExists(catalog_table)
    sinks.drop_table(spark, catalog_table)  # idempotent


def test_schema_evolution_merge(spark, tmp_path):
    # additive schema evolution: v2 files add a column; mergeSchema reads
    # the union with nulls for old files
    path = str(tmp_path / "evolving")
    spark.createDataFrame([(1, "a")], "id int, v string").write.parquet(path)
    spark.createDataFrame([(2, "b", 9.5)], "id int, v string, score double").write.mode(
        "append"
    ).parquet(path)
    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"id", "v", "score"}
    rows = {r["id"]: r["score"] for r in merged.collect()}
    assert rows == {1: None, 2: 9.5}


def test_dynamic_partition_overwrite(spark, tmp_path):
    path = str(tmp_path / "fact")
    full = spark.createDataFrame(
        [(1, 10, "jan"), (1, 11, "jan2"), (2, 20, "feb")], "month int, v int, tag string"
    )
    sinks.write_parquet(full, path, partition_by=["month"])
    # refresh ONLY month=2; month=1 rows must survive
    feb_fix = spark.createDataFrame([(2, 99, "feb-fixed")], "month int, v int, tag string")
    sinks.overwrite_partitions(feb_fix, path, ["month"])
    got = sorted(tuple(r) for r in spark.read.parquet(path).select("month", "v", "tag").collect())
    assert got == [(1, 10, "jan"), (1, 11, "jan2"), (2, 99, "feb-fixed")]


def test_drop_table_db_qualified_spares_default_table(spark, tmp_path):
    # Regression: drop_table('db.t') used to purge <warehouse>/t — the data
    # dir of an UNRELATED default-database managed table named t.
    spark.sql("CREATE DATABASE IF NOT EXISTS dropdb")
    victim = spark.createDataFrame([(1, "keep")], "id int, v string")
    victim.write.mode("overwrite").format("parquet").saveAsTable("t_shared_name")
    qualified = spark.createDataFrame([(2, "bye")], "id int, v string")
    qualified.write.mode("overwrite").format("parquet").saveAsTable("dropdb.t_shared_name")
    try:
        sinks.drop_table(spark, "dropdb.t_shared_name")
        assert not spark.catalog.tableExists("dropdb.t_shared_name")
        # the default-db table and its data must be untouched
        assert spark.table("t_shared_name").count() == 1
    finally:
        sinks.drop_table(spark, "t_shared_name")
        spark.sql("DROP DATABASE IF EXISTS dropdb CASCADE")


def test_drop_table_db_qualified_purges_orphan_location(spark):
    # A re-created db.table must not hit LOCATION_ALREADY_EXISTS even when
    # the catalog forgot the table (fresh session) but the dir survived.
    spark.sql("CREATE DATABASE IF NOT EXISTS dropdb2")
    df = spark.createDataFrame([(1, "a")], "id int, v string")
    df.write.format("parquet").saveAsTable("dropdb2.t_orphan")
    # simulate a fresh session's in-memory catalog: forget the table but
    # leave its directory behind
    wh = spark.conf.get("spark.sql.warehouse.dir")
    jvm = spark._jvm
    loc = jvm.org.apache.hadoop.fs.Path(f"{wh}/dropdb2.db/t_orphan")
    fs = loc.getFileSystem(spark._jsc.hadoopConfiguration())
    assert fs.exists(loc)
    spark.sql("DROP TABLE dropdb2.t_orphan")  # catalog drop may leave files
    try:
        sinks.drop_table(spark, "dropdb2.t_orphan")
        assert not fs.exists(loc)
        df.write.format("parquet").saveAsTable("dropdb2.t_orphan")  # must not raise
        assert spark.table("dropdb2.t_orphan").count() == 1
    finally:
        sinks.drop_table(spark, "dropdb2.t_orphan")
        spark.sql("DROP DATABASE IF EXISTS dropdb2 CASCADE")


def test_drop_table_external_keeps_data(spark, tmp_path):
    # Dropping an EXTERNAL table must never delete its data directory.
    ext = str(tmp_path / "ext_data")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "id int, v string")
    df.write.option("path", ext).format("parquet").saveAsTable("t_external_keep")
    sinks.drop_table(spark, "t_external_keep")
    assert not spark.catalog.tableExists("t_external_keep")
    assert spark.read.parquet(ext).count() == 2


def test_write_jsonl_roundtrip_sharded(spark, tmp_path):
    import glob as g

    from nyc_bikeshare_datawarehouse_spark.sources.readers import read_jsonl
    from nyc_bikeshare_datawarehouse_spark.sources.sinks import write_jsonl

    df = spark.createDataFrame(
        [(i, f"doc {i}", float(i) / 4) for i in range(100)],
        "doc_id long, text string, score double",
    )
    path = str(tmp_path / "export")
    write_jsonl(df, path, num_shards=4, compression="gzip")
    files = g.glob(path + "/part-*.json.gz")
    assert len(files) == 4
    back = read_jsonl(spark, path, schema="doc_id long, text string, score double")
    assert sorted(tuple(r) for r in back.collect()) == sorted(
        tuple(r) for r in df.collect()
    )


def test_write_jsonl_shard_by_colocates_keys(spark, tmp_path):
    from pyspark.sql import functions as F

    from nyc_bikeshare_datawarehouse_spark.sources.sinks import write_jsonl

    df = spark.createDataFrame(
        [(i % 3, i) for i in range(90)], "lang long, doc_id long"
    )
    path = str(tmp_path / "bylang")
    write_jsonl(df, path, num_shards=3, shard_by=["lang"], compression=None)
    back = spark.read.json(path).withColumn("f", F.input_file_name())
    # every lang lands wholly inside one file
    spread = back.groupBy("lang").agg(F.countDistinct("f").alias("nf")).collect()
    assert all(r["nf"] == 1 for r in spread)


def test_write_csv_roundtrip_with_timestamp_format(spark, tmp_path):
    import datetime

    from nyc_bikeshare_datawarehouse_spark.sources.sinks import write_csv

    df = spark.createDataFrame(
        [(1, datetime.datetime(2024, 1, 2, 3, 4, 5))], "id long, ts timestamp"
    )
    path = str(tmp_path / "csv")
    write_csv(df, path)
    import glob as g

    # header=true writes header-only files for EMPTY partitions too —
    # scan every part, not part[0]
    raw = "".join(open(f).read() for f in sorted(g.glob(path + "/part-*.csv")))
    assert "2024-01-02 03:04:05" in raw  # the reference's timestampFormat
    assert raw.splitlines()[0] == "id,ts"


class TestVersionedSnapshots:
    def test_append_isolation_and_reuse(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        d1 = spark.range(0, 5).selectExpr("id", "id * 2 AS v")
        d2 = spark.range(5, 8).selectExpr("id", "id * 2 AS v")
        v1 = versioned.write_snapshot(d1, base)
        v2 = versioned.write_snapshot(d2, base)
        assert (v1, v2) == (1, 2)
        assert versioned.latest_version(base) == 2
        # v1 is isolated from the append; v2 = union, files reused
        assert sorted(
            r["id"] for r in versioned.read_snapshot(spark, base, 1).collect()
        ) == [0, 1, 2, 3, 4]
        assert sorted(
            r["id"] for r in versioned.read_snapshot(spark, base).collect()
        ) == list(range(8))
        import json, os

        m1 = json.load(open(os.path.join(base, "_manifest_v1.json")))
        m2 = json.load(open(os.path.join(base, "_manifest_v2.json")))
        assert set(m1["files"]) < set(m2["files"])  # append REUSES v1 files

    def test_overwrite_replaces_but_history_survives(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 4), base)
        versioned.write_snapshot(spark.range(100, 102), base, mode="overwrite")
        assert sorted(
            r["id"] for r in versioned.read_snapshot(spark, base, 2).collect()
        ) == [100, 101]
        assert versioned.read_snapshot(spark, base, 1).count() == 4

    def test_expire_keeps_shared_files(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 4), base)
        versioned.write_snapshot(spark.range(4, 6), base)
        versioned.write_snapshot(spark.range(6, 7), base)
        expired = versioned.expire_snapshots(base, keep_from=2)
        assert expired == [1]
        # v2 shares v1's files: they must survive the expiry
        assert versioned.read_snapshot(spark, base, 2).count() == 6
        assert versioned.read_snapshot(spark, base, 3).count() == 7
        import pytest

        with pytest.raises(ValueError):
            versioned.read_snapshot(spark, base, 1)

    def test_merge_into_snapshot_upserts_and_time_travels(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        v1 = versioned.write_snapshot(
            spark.createDataFrame([(1, "a"), (2, "b"), (3, "c")], "k long, v string"),
            base,
        )
        upd = spark.createDataFrame([(2, "B"), (4, "d")], "k long, v string")
        dels = spark.createDataFrame([(3,)], "k long")
        v2 = versioned.merge_into_snapshot(spark, base, upd, "k", deletes=dels)
        assert (v1, v2) == (1, 2)
        # v2: update applied, insert present, delete gone
        got = sorted(
            (r["k"], r["v"])
            for r in versioned.read_snapshot(spark, base, v2).collect()
        )
        assert got == [(1, "a"), (2, "B"), (4, "d")]
        # v1 still readable unchanged — time travel across the merge
        old = sorted(
            (r["k"], r["v"])
            for r in versioned.read_snapshot(spark, base, v1).collect()
        )
        assert old == [(1, "a"), (2, "b"), (3, "c")]
        # merge into an empty table is the initial commit
        base2 = str(tmp_path / "tbl2")
        assert versioned.merge_into_snapshot(spark, base2, upd, "k") == 1
        assert versioned.read_snapshot(spark, base2).count() == 2

    def test_compact_snapshot_preserves_content_and_history(self, spark, tmp_path):
        import json
        import os

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        # many small appends -> many files in the live manifest
        for lo in range(0, 12, 3):
            versioned.write_snapshot(
                spark.range(lo, lo + 3).repartition(2), base
            )
        before = json.load(
            open(os.path.join(base, "_manifest_v4.json"))
        )["files"]
        assert len(before) >= 8
        v5 = versioned.compact_snapshot(spark, base, target_files=1)
        after = json.load(
            open(os.path.join(base, f"_manifest_v{v5}.json"))
        )["files"]
        assert len(after) == 1
        # content identical, history still readable from original files
        assert sorted(
            r["id"] for r in versioned.read_snapshot(spark, base, v5).collect()
        ) == list(range(12))
        assert versioned.read_snapshot(spark, base, 2).count() == 6
        # expire below the compaction reclaims the small files
        versioned.expire_snapshots(base, keep_from=v5)
        assert versioned.read_snapshot(spark, base, v5).count() == 12

    def test_expire_reaps_emptied_version_dirs(self, spark, tmp_path):
        import json
        import os

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 4), base)
        versioned.write_snapshot(spark.range(4, 6), base, mode="overwrite")
        versioned.write_snapshot(spark.range(6, 7), base)
        with open(versioned._manifest_path(base, 1)) as fh:
            v1_dirs = {os.path.dirname(f) for f in json.load(fh)["files"]}
        assert versioned.expire_snapshots(base, keep_from=2) == [1]
        # v1's files are dead (v2 overwrote) — the directory that held
        # them must be gone, while v2/v3's (still referenced) remain
        assert v1_dirs and not any(os.path.isdir(d) for d in v1_dirs)
        assert versioned.read_snapshot(spark, base, 3).count() == 3

    def test_relative_base_dir_reads_back(self, spark, tmp_path, monkeypatch):
        # manifests must store ABSOLUTE file paths: a relative base_dir
        # would otherwise resolve against Spark's default FS at read time
        import json
        import os

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        monkeypatch.chdir(tmp_path)
        versioned.write_snapshot(spark.range(0, 3), "rel_tbl")
        mp = os.path.join(str(tmp_path), "rel_tbl", "_manifest_v1.json")
        files = json.load(open(mp))["files"]
        assert files and all(os.path.isabs(f) for f in files)
        assert versioned.read_snapshot(spark, "rel_tbl").count() == 3

    def test_torn_write_dir_is_cleared(self, spark, tmp_path):
        import json
        import os

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 3), base)
        torn = os.path.join(base, "v2")  # a dead writer's uncommitted data
        os.makedirs(torn)
        open(os.path.join(torn, "junk.parquet"), "w").write("x")
        v2 = versioned.write_snapshot(spark.range(3, 5), base)
        assert v2 == 2
        with open(versioned._manifest_path(base, 2)) as fh:
            files = json.load(fh)["files"]
        assert files and not any(f.startswith(torn + os.sep) for f in files)
        assert versioned.read_snapshot(spark, base, 2).count() == 5

    def test_empty_snapshot_reads_back_via_recorded_schema(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        df = spark.range(0, 3).selectExpr("id", "id * 2 AS v")
        versioned.write_snapshot(df.filter("id < 0"), base)  # empty commit
        out = versioned.read_snapshot(spark, base, 1)
        assert out.count() == 0
        assert out.columns == ["id", "v"]

    def test_expire_refuses_to_kill_current_snapshot(self, spark, tmp_path):
        import pytest

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 2), base)
        with pytest.raises(ValueError, match="CURRENT snapshot"):
            versioned.expire_snapshots(base, keep_from=2)
        assert versioned.read_snapshot(spark, base, 1).count() == 2


class TestSnapshotSchemaEvolution:
    def test_append_adding_column_backfills_nulls(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 2).selectExpr("id"), base)
        versioned.write_snapshot(
            spark.range(2, 4).selectExpr("id", "id * 2 AS v"), base
        )
        cur = versioned.read_snapshot(spark, base)
        assert cur.columns == ["id", "v"]
        got = {r["id"]: r["v"] for r in cur.collect()}
        assert got == {0: None, 1: None, 2: 4, 3: 6}
        # the old snapshot keeps its own (narrower) schema
        assert versioned.read_snapshot(spark, base, 1).columns == ["id"]

    def test_append_missing_column_keeps_it_readable(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(
            spark.range(0, 2).selectExpr("id", "id * 2 AS v"), base
        )
        versioned.write_snapshot(spark.range(2, 4).selectExpr("id"), base)
        cur = versioned.read_snapshot(spark, base)
        assert cur.columns == ["id", "v"]
        got = {r["id"]: r["v"] for r in cur.collect()}
        assert got == {0: 0, 1: 2, 2: None, 3: None}

    def test_append_type_change_refused(self, spark, tmp_path):
        import pytest

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 2).selectExpr("id"), base)
        with pytest.raises(ValueError, match="add-only"):
            versioned.write_snapshot(
                spark.range(2, 4).selectExpr("CAST(id AS STRING) AS id"),
                base,
            )

    def test_compact_preserves_evolved_schema(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 2).selectExpr("id"), base)
        versioned.write_snapshot(
            spark.range(2, 4).selectExpr("id", "id * 2 AS v"), base
        )
        v3 = versioned.compact_snapshot(spark, base, target_files=1)
        cur = versioned.read_snapshot(spark, base, v3)
        assert cur.columns == ["id", "v"]
        got = {r["id"]: r["v"] for r in cur.collect()}
        assert got == {0: None, 1: None, 2: 4, 3: 6}


class TestPartitionSpecEvolution:
    def _table(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        # v1: unpartitioned (spec 1); v2: appends under a grp spec (spec 2)
        versioned.write_snapshot(
            spark.range(0, 6).selectExpr("id", "CAST(id % 2 AS STRING) AS grp"),
            base,
        )
        versioned.write_snapshot(
            spark.range(6, 12).selectExpr("id", "CAST(id % 2 AS STRING) AS grp"),
            base,
            partition_by=["grp"],
        )
        return versioned, base

    def test_spec_history_and_file_meta(self, spark, tmp_path):
        import json
        import os

        versioned, base = self._table(spark, tmp_path)
        m = json.load(open(os.path.join(base, "_manifest_v2.json")))
        assert m["partition_specs"] == [
            {"spec_id": 1, "columns": []},
            {"spec_id": 2, "columns": ["grp"]},
        ]
        assert m["current_spec"] == 2
        specs = {m["file_meta"][f]["spec_id"] for f in m["files"]}
        assert specs == {1, 2}
        pts = {
            m["file_meta"][f]["pt"].get("grp")
            for f in m["files"]
            if m["file_meta"][f]["spec_id"] == 2
        }
        assert pts == {"0", "1"}

    def test_old_layout_stays_readable_and_complete(self, spark, tmp_path):
        versioned, base = self._table(spark, tmp_path)
        cur = versioned.read_snapshot(spark, base)
        assert cur.columns == ["id", "grp"]  # partition col still IN the files
        assert sorted(r["id"] for r in cur.collect()) == list(range(12))

    def test_pruned_read_is_exact_and_skips_files(self, spark, tmp_path):
        import json
        import os

        versioned, base = self._table(spark, tmp_path)
        m = json.load(open(os.path.join(base, "_manifest_v2.json")))
        kept = set(versioned.prune_files(m, {"grp": "1"}))
        spec1 = {f for f in m["files"] if m["file_meta"][f]["spec_id"] == 1}
        spec2 = {f for f in m["files"] if m["file_meta"][f]["spec_id"] == 2}
        assert spec1 <= kept  # conservative inclusion: spec-1 can't prune grp
        assert spec2 - kept  # some spec-2 partition actually skipped
        assert all(
            m["file_meta"][f]["pt"]["grp"] == "1" for f in spec2 & kept
        )
        got = sorted(
            r["id"]
            for r in versioned.read_snapshot(spark, base, where={"grp": "1"}).collect()
        )
        assert got == [1, 3, 5, 7, 9, 11]  # row filter covers unprunable files

    def test_same_spec_reused_not_duplicated(self, spark, tmp_path):
        import json
        import os

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        d = spark.range(0, 4).selectExpr("id", "CAST(id % 2 AS STRING) AS grp")
        versioned.write_snapshot(d, base, partition_by=["grp"])
        versioned.write_snapshot(d, base, partition_by=["grp"])
        m = json.load(open(os.path.join(base, "_manifest_v2.json")))
        assert m["partition_specs"] == [{"spec_id": 1, "columns": ["grp"]}]
        assert m["current_spec"] == 1

    def test_partition_by_missing_column_refused(self, spark, tmp_path):
        import pytest

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        with pytest.raises(ValueError, match="not in dataframe"):
            versioned.write_snapshot(
                spark.range(2), str(tmp_path / "tbl"), partition_by=["nope"]
            )

    def test_expire_reaper_spares_partitioned_live_files(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        d = spark.range(0, 4).selectExpr("id", "CAST(id % 2 AS STRING) AS grp")
        versioned.write_snapshot(d, base, partition_by=["grp"])  # v1, nested files
        versioned.write_snapshot(
            spark.range(4, 6).selectExpr("id", "CAST(id % 2 AS STRING) AS grp"),
            base,
        )  # v2 appends, REUSING v1's nested files
        versioned.expire_snapshots(base, keep_from=2)
        # v1's nested files are still referenced by v2: the recursive
        # emptiness check must NOT reap v1's directory
        assert sorted(
            r["id"] for r in versioned.read_snapshot(spark, base, 2).collect()
        ) == [0, 1, 2, 3, 4, 5]

    def test_where_no_match_returns_empty_with_schema(self, spark, tmp_path):
        versioned, base = self._table(spark, tmp_path)
        out = versioned.read_snapshot(spark, base, where={"grp": "7"})
        assert out.columns == ["id", "grp"]
        assert out.count() == 0


class TestZoneMaps:
    def _manifest(self, base, v=1):
        import json
        import os

        return json.load(open(os.path.join(base, f"_manifest_v{v}.json")))

    def test_stats_recorded_and_bounds_correct(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        df = spark.range(0, 100).selectExpr("id", "id * 3 AS v")
        versioned.write_snapshot(
            df.repartitionByRange(4, "id"), base, stats_for=["id", "v"]
        )
        m = self._manifest(base)
        mins, maxs = [], []
        for f in m["files"]:
            st = m["file_meta"][f]["stats"]
            assert st["id"][0] <= st["id"][1]
            assert st["v"] == [st["id"][0] * 3, st["id"][1] * 3]
            mins.append(st["id"][0])
            maxs.append(st["id"][1])
        assert min(mins) == 0 and max(maxs) == 99
        # range clustering => per-file ranges are disjoint
        spans = sorted(zip(mins, maxs))
        assert all(spans[i][1] < spans[i + 1][0] for i in range(len(spans) - 1))

    def test_range_pruning_skips_and_read_is_exact(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(
            spark.range(0, 100).selectExpr("id").repartitionByRange(4, "id"),
            base,
            stats_for=["id"],
        )
        m = self._manifest(base)
        kept = versioned.prune_files(m, where_range={"id": (10, 20)})
        assert 0 < len(kept) < len(m["files"])
        got = sorted(
            r["id"]
            for r in versioned.read_snapshot(
                spark, base, where_range={"id": (10, 20)}
            ).collect()
        )
        assert got == list(range(10, 21))

    def test_open_bounds_and_stats_less_files_conservative(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(
            spark.range(0, 50).selectExpr("id").repartitionByRange(2, "id"),
            base,
            stats_for=["id"],
        )
        # append WITHOUT stats: its files must never be pruned
        versioned.write_snapshot(spark.range(50, 60).selectExpr("id"), base)
        m = self._manifest(base, 2)
        nostats = [
            f for f in m["files"] if "stats" not in m["file_meta"][f]
        ]
        assert nostats
        kept = versioned.prune_files(m, where_range={"id": (None, 5)})
        assert set(nostats) <= set(kept)
        got = sorted(
            r["id"]
            for r in versioned.read_snapshot(
                spark, base, where_range={"id": (None, 5)}
            ).collect()
        )
        assert got == [0, 1, 2, 3, 4, 5]

    def test_string_stats_and_type_mismatch_conservative(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(
            spark.createDataFrame(
                [(1, "apple"), (2, "mango"), (3, "zebra")], "id long, w string"
            ).repartitionByRange(3, "w"),
            base,
            stats_for=["w"],
        )
        m = self._manifest(base)
        kept = versioned.prune_files(m, where_range={"w": ("a", "b")})
        assert len(kept) < len(m["files"])
        got = [
            r["w"]
            for r in versioned.read_snapshot(
                spark, base, where_range={"w": ("a", "b")}
            ).collect()
        ]
        assert got == ["apple"]
        # int bounds against string stats: _lt returns None -> keep all
        assert versioned.prune_files(m, where_range={"w": (1, 2)}) == m["files"]

    def test_all_null_stats_conservative(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(
            spark.createDataFrame([(1, None), (2, None)], "id long, v double"),
            base,
            stats_for=["v"],
        )
        m = self._manifest(base)
        assert versioned.prune_files(m, where_range={"v": (0.0, 1.0)}) == m["files"]

    def test_stats_for_missing_column_refused(self, spark, tmp_path):
        import pytest

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        with pytest.raises(ValueError, match="stats_for"):
            versioned.write_snapshot(
                spark.range(2), str(tmp_path / "tbl"), stats_for=["nope"]
            )

    def test_stats_compose_with_partition_pruning(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(
            spark.range(0, 40).selectExpr("id", "CAST(id % 2 AS STRING) AS grp"),
            base,
            partition_by=["grp"],
            stats_for=["id"],
        )
        m = self._manifest(base)
        both = versioned.prune_files(
            m, where={"grp": "1"}, where_range={"id": (0, 10)}
        )
        assert both and len(both) <= len(versioned.prune_files(m, where={"grp": "1"}))
        got = sorted(
            r["id"]
            for r in versioned.read_snapshot(
                spark, base, where={"grp": "1"}, where_range={"id": (0, 10)}
            ).collect()
        )
        assert got == [1, 3, 5, 7, 9]


class TestClusteredCompaction:
    def test_compaction_earns_zone_map_skipping_back(self, spark, tmp_path):
        import json
        import os

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        # two append commits that EACH span the whole keyspace (the
        # append-heavy pattern): every file's [min, max] overlaps every
        # predicate, so zone-map pruning is inert
        versioned.write_snapshot(
            spark.range(0, 100).filter("id % 2 = 0").repartition(2),
            base, stats_for=["id"],
        )
        versioned.write_snapshot(
            spark.range(0, 100).filter("id % 2 = 1").repartition(2),
            base, stats_for=["id"],
        )
        m2 = json.load(open(os.path.join(base, "_manifest_v2.json")))
        inert = versioned.prune_files(m2, where_range={"id": (10, 15)})
        assert inert == m2["files"]  # nothing skippable before OPTIMIZE
        v3 = versioned.compact_snapshot(
            spark, base, target_files=4, cluster_by=["id"]
        )
        m3 = json.load(open(os.path.join(base, f"_manifest_v{v3}.json")))
        kept = versioned.prune_files(m3, where_range={"id": (10, 15)})
        assert 0 < len(kept) < len(m3["files"])  # skipping earned back
        got = sorted(
            r["id"]
            for r in versioned.read_snapshot(
                spark, base, where_range={"id": (10, 15)}
            ).collect()
        )
        assert got == list(range(10, 16))
        # content preserved wholesale by the clustered rewrite
        assert versioned.read_snapshot(spark, base, v3).count() == 100


class TestIncrementalRead:
    def test_increment_is_exactly_the_appended_rows(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 4), base)
        versioned.write_snapshot(spark.range(4, 7), base)
        versioned.write_snapshot(spark.range(7, 9), base)
        got = sorted(
            r["id"] for r in versioned.read_increment(spark, base, 1).collect()
        )
        assert got == [4, 5, 6, 7, 8]
        got = sorted(
            r["id"] for r in versioned.read_increment(spark, base, 1, 2).collect()
        )
        assert got == [4, 5, 6]
        # from == to: empty increment under the recorded schema
        empty = versioned.read_increment(spark, base, 2, 2)
        assert empty.columns == ["id"] and empty.count() == 0

    def test_increment_sees_evolved_schema(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 2).selectExpr("id"), base)
        versioned.write_snapshot(
            spark.range(2, 4).selectExpr("id", "id * 2 AS v"), base
        )
        inc = versioned.read_increment(spark, base, 1)
        assert inc.columns == ["id", "v"]
        assert {r["id"]: r["v"] for r in inc.collect()} == {2: 4, 3: 6}

    def test_increment_refuses_non_append_span(self, spark, tmp_path):
        import pytest

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 4), base)
        versioned.write_snapshot(spark.range(4, 6), base)
        versioned.compact_snapshot(spark, base)
        with pytest.raises(ValueError, match="non-append"):
            versioned.read_increment(spark, base, 1)
        # re-baselined AFTER the compaction: appends consume fine again
        versioned.write_snapshot(spark.range(6, 8), base)
        got = sorted(
            r["id"] for r in versioned.read_increment(spark, base, 3).collect()
        )
        assert got == [6, 7]

    def test_increment_bad_versions_refused(self, spark, tmp_path):
        import pytest

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(spark.range(0, 2), base)
        with pytest.raises(ValueError, match="from_version"):
            versioned.read_increment(spark, base, 0)
        with pytest.raises(ValueError, match="from_version"):
            versioned.read_increment(spark, base, 2, 1)


class TestBloomSkipping:
    def test_spark_python_bloom_hash_parity(self, spark):
        # THE bloom contract: the Spark write-side bit positions and the
        # Python prune-side bit positions must be identical, or pruning
        # gets false NEGATIVES (silently dropped rows). Pin both int and
        # string values across every seed.
        from pyspark.sql import functions as F

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        vals = [(7,), (123456789,), (0,)]
        df = spark.createDataFrame(vals, "v long")
        svals = [("alpha",), ("z 9",), ("",)]
        sdf = spark.createDataFrame(svals, "v string")
        for frame, pyvals in ((df, [v[0] for v in vals]), (sdf, [v[0] for v in svals])):
            for seed in range(versioned._BLOOM_HASHES):
                got = [
                    r["b"]
                    for r in frame.select(
                        versioned._bloom_bit_col(F.col("v"), seed).alias("b")
                    ).collect()
                ]
                want = [versioned._bloom_bit_py(str(v), seed) for v in pyvals]
                assert got == want, (seed, got, want)

    def _table(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        # UNCLUSTERED commit: ids interleave across files, so zone maps
        # would be inert — the bloom regime. 4 files x 250 distinct keys.
        versioned.write_snapshot(
            spark.range(0, 1000).selectExpr("id", "id % 4 AS junk").repartition(4),
            base,
            bloom_for=["id"],
        )
        return versioned, base

    def test_bloom_recorded_and_skips_absent_keys(self, spark, tmp_path):
        import json
        import os

        versioned, base = self._table(spark, tmp_path)
        m = json.load(open(os.path.join(base, "_manifest_v1.json")))
        assert all("bloom" in m["file_meta"][f] for f in m["files"])
        # a PRESENT key: its owning file must be kept (no false negatives,
        # exhaustive over all 1000 keys)
        for v in range(0, 1000, 97):
            kept = versioned.prune_files(m, where={"id": v})
            got = sorted(
                r["id"]
                for r in versioned.read_snapshot(spark, base, where={"id": v}).collect()
            )
            assert got == [v], v
        # an ABSENT key: with 4 files at ~2% FPR each, essentially always
        # skips something; assert over a family of absent keys
        skipped_any = any(
            len(versioned.prune_files(m, where={"id": v})) < len(m["files"])
            for v in range(10_001, 10_040)
        )
        assert skipped_any
        # absent key reads are exactly empty regardless of FPR
        out = versioned.read_snapshot(spark, base, where={"id": 10_001})
        assert out.count() == 0

    def test_bloom_composes_with_partitions(self, spark, tmp_path):
        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        base = str(tmp_path / "tbl")
        versioned.write_snapshot(
            spark.range(0, 200).selectExpr("id", "CAST(id % 2 AS STRING) AS grp"),
            base,
            partition_by=["grp"],
            bloom_for=["id"],
        )
        got = [
            r["id"]
            for r in versioned.read_snapshot(
                spark, base, where={"grp": "1", "id": 7}
            ).collect()
        ]
        assert got == [7]
        assert (
            versioned.read_snapshot(spark, base, where={"grp": "0", "id": 7}).count()
            == 0
        )

    def test_bloom_for_missing_column_refused(self, spark, tmp_path):
        import pytest

        from nyc_bikeshare_datawarehouse_spark.sources import versioned

        with pytest.raises(ValueError, match="bloom_for"):
            versioned.write_snapshot(
                spark.range(2), str(tmp_path / "tbl"), bloom_for=["nope"]
            )
