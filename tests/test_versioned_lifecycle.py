"""Row-level DELETE + snapshot ROLLBACK pins (sources/versioned.py, r14).

Engine-level contracts the oracle-checked queries (q_delete_where,
q_snapshot_rollback) cannot see: NULL-predicate SQL semantics, the
replay-guard atomicity rules, retention interplay, and refusal modes.
Reference analog: stage_redshift.py:38-48's truncate-and-load DELETE
contract, generalized to predicates + time travel.
"""

from __future__ import annotations

import json
import os
import sys
import threading
from concurrent.futures import ThreadPoolExecutor

import pytest
from pyspark.sql import functions as F

from nyc_bikeshare_datawarehouse_spark.sources import versioned


def _manifest(base: str, v: int) -> dict:
    with open(versioned._manifest_path(base, v)) as fh:
        return json.load(fh)


def _ids(df) -> list[int]:
    return sorted(r["id"] for r in df.collect())


def _subdirs(base: str) -> set[str]:
    return {d for d in os.listdir(base) if os.path.isdir(os.path.join(base, d))}


class TestDeleteWhere:
    def test_cow_rewrites_only_pruned_files(self, spark, tmp_path):
        base = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, "a" if i < 50 else "b", i) for i in range(100)],
            "id INT, grp STRING, val INT",
        )
        versioned.write_snapshot(df, base, partition_by=["grp"])
        v, n_rw, n_kept = versioned.delete_where(
            spark, base, where={"grp": "a"}, where_range={"val": (None, 10)}
        )
        assert v == 2 and n_rw >= 1 and n_kept >= 1
        m1, m2 = _manifest(base, 1), _manifest(base, 2)
        # untouched files carry over by PATH IDENTITY, and they are
        # exactly the files partition pruning excluded (grp=b)
        kept = set(m1["files"]) & set(m2["files"])
        assert kept and all("__pt_grp=b" in f for f in kept)
        # deleted: grp=a AND val<=10 → ids 0..10; everything else survives
        assert _ids(versioned.read_snapshot(spark, base)) == list(range(11, 100))
        # time travel: v1 still reads the pre-delete table
        assert _ids(versioned.read_snapshot(spark, base, 1)) == list(range(100))

    def test_null_predicate_rows_survive(self, spark, tmp_path):
        # SQL DELETE semantics: rows where the predicate is NULL (not
        # TRUE) survive — the ~coalesce(pred, FALSE) guard, not ~pred
        # (which would DELETE null-valued rows under three-valued logic)
        base = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 5), (2, None), (3, 50)], "id INT, val INT"
        )
        versioned.write_snapshot(df, base)
        versioned.delete_where(spark, base, where_range={"val": (None, 10)})
        assert _ids(versioned.read_snapshot(spark, base)) == [2, 3]

    def test_equality_delete_native_type(self, spark, tmp_path):
        base = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 7), (2, 8), (3, 7)], "id INT, k INT")
        versioned.write_snapshot(df, base)
        versioned.delete_where(spark, base, where={"k": 7})
        assert _ids(versioned.read_snapshot(spark, base)) == [2]

    def test_increment_refuses_across_delete(self, spark, tmp_path):
        base = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 1), (2, 2)], "id INT, v INT")
        versioned.write_snapshot(df, base)
        versioned.write_snapshot(
            spark.createDataFrame([(3, 3)], "id INT, v INT"), base
        )
        versioned.delete_where(spark, base, where={"id": 1})
        with pytest.raises(ValueError, match="non-append"):
            versioned.read_increment(spark, base, 1)

    def test_replay_guard_batch_id_carried(self, spark, tmp_path):
        # the delete rewrites exactly the state the stream batches
        # produced, so the guard must ride the delete manifest ATOMICALLY
        # (the compact_snapshot/merge rule — never a separate write)
        base = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 1), (2, 2)], "id INT, v INT")
        versioned.write_snapshot(df, base, metadata={"batch_id": 7})
        versioned.delete_where(spark, base, where={"id": 1})
        assert versioned.last_metadata_value(base, "batch_id") == 7
        assert _manifest(base, 2)["metadata"]["batch_id"] == 7

    def test_refusals(self, spark, tmp_path):
        base = str(tmp_path / "t")
        with pytest.raises(ValueError, match="no snapshot"):
            versioned.delete_where(spark, base, where={"id": 1})
        versioned.write_snapshot(
            spark.createDataFrame([(1, 1)], "id INT, v INT"), base
        )
        with pytest.raises(ValueError, match="needs a predicate"):
            versioned.delete_where(spark, base)
        with pytest.raises(ValueError, match="not in table schema"):
            versioned.delete_where(spark, base, where={"nope": 1})

    def test_delete_compact_expire_interplay(self, spark, tmp_path):
        # v1 write → v2 delete → v3 compact → expire below v3: content
        # stable throughout, and the sweep reclaims every file only the
        # expired manifests referenced
        base = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 3) for i in range(30)], "id INT, k INT"
        )
        versioned.write_snapshot(df, base)
        versioned.delete_where(spark, base, where={"k": 0})
        survivors = [i for i in range(30) if i % 3 != 0]
        assert _ids(versioned.read_snapshot(spark, base)) == survivors
        versioned.compact_snapshot(spark, base, target_files=1)
        assert _ids(versioned.read_snapshot(spark, base)) == survivors
        dead = [
            f
            for f in _manifest(base, 1)["files"]
            if f not in set(_manifest(base, 3)["files"])
        ]
        assert versioned.expire_snapshots(base, keep_from=3) == [1, 2]
        assert _ids(versioned.read_snapshot(spark, base)) == survivors
        assert dead and not any(os.path.exists(f) for f in dead)


class TestRollback:
    def _three_versions(self, spark, base):
        versioned.write_snapshot(
            spark.createDataFrame([(1, "x")], "id INT, v STRING"), base
        )
        versioned.write_snapshot(
            spark.createDataFrame([(2, "y")], "id INT, v STRING"), base
        )
        versioned.delete_where(spark, base, where={"id": 1})

    def test_repoint_is_exact_and_manifest_only(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._three_versions(spark, base)
        v4 = versioned.rollback_to(base, 2)
        assert v4 == 4
        m2, m3, m4 = (_manifest(base, v) for v in (2, 3, 4))
        assert m4["files"] == m2["files"]
        assert m4["schema"] == m2["schema"]
        assert m4["metadata"]["rollback_of"] == 2
        # nothing deleted: the undone v3 stays fully time-travelable
        assert all(os.path.exists(f) for f in m3["files"])
        assert _ids(versioned.read_snapshot(spark, base)) == [1, 2]
        assert _ids(versioned.read_snapshot(spark, base, 3)) == [2]

    def test_replay_guard_rolls_back_with_the_data(self, spark, tmp_path):
        # rollback restores the batch id AS OF the target version in the
        # SAME manifest: batches after it re-apply onto the rolled-back
        # state instead of being skipped as already-seen
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 1)], "id INT, v INT"),
            base,
            metadata={"batch_id": 3},
        )
        versioned.write_snapshot(
            spark.createDataFrame([(2, 2)], "id INT, v INT"),
            base,
            metadata={"batch_id": 4},
        )
        versioned.rollback_to(base, 1)
        assert versioned.last_metadata_value(base, "batch_id") == 3

    def test_expire_keeps_rolled_back_files_live(self, spark, tmp_path):
        # the rollback commit REFERENCES the old files, so a retention
        # sweep that drops the original manifest keeps them live via the
        # live-set union — rollback never races retention
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, "x")], "id INT, v STRING"), base
        )
        versioned.write_snapshot(
            spark.createDataFrame([(2, "y")], "id INT, v STRING"),
            base,
            mode="overwrite",
        )
        v3 = versioned.rollback_to(base, 1)
        old_files = _manifest(base, 1)["files"]
        gone = [
            f
            for f in _manifest(base, 2)["files"]
            if f not in set(old_files)
        ]
        assert versioned.expire_snapshots(base, keep_from=v3) == [1, 2]
        assert all(os.path.exists(f) for f in old_files)
        assert gone and not any(os.path.exists(f) for f in gone)
        assert _ids(versioned.read_snapshot(spark, base)) == [1]

    def test_rollback_of_rollback_and_refusal(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._three_versions(spark, base)
        versioned.rollback_to(base, 2)  # v4 = v2 state
        v5 = versioned.rollback_to(base, 3)  # undo the undo
        assert _manifest(base, v5)["files"] == _manifest(base, 3)["files"]
        assert _ids(versioned.read_snapshot(spark, base)) == [2]
        with pytest.raises(ValueError, match="no snapshot"):
            versioned.rollback_to(base, 99)
        with pytest.raises(ValueError, match="no snapshot"):
            versioned.rollback_to(base, 0)


class TestConcurrentCommits:
    """Every commit publishes its manifest create-if-absent: appends that
    lose a version rebase onto the new head, every other commit is
    rejected and leaves the winner's manifest alone."""

    def test_concurrent_appends_all_land(self, spark, tmp_path):
        # more writers than the session's 4 cores, released together
        base = str(tmp_path / "t")
        versioned.write_snapshot(spark.range(0, 10), base)
        sizes = {w: 1000 * w for w in range(1, 6)}
        start = threading.Barrier(len(sizes), timeout=120)

        def append(w: int) -> int:
            df = spark.range(w * 10_000, w * 10_000 + sizes[w])
            start.wait()
            return versioned.write_snapshot(df, base, metadata={"writer": w})

        switch = sys.getswitchinterval()
        sys.setswitchinterval(1e-5)
        try:
            with ThreadPoolExecutor(len(sizes)) as pool:
                futures = {w: pool.submit(append, w) for w in sizes}
                got = {w: f.result(timeout=300) for w, f in futures.items()}
        finally:
            sys.setswitchinterval(switch)
        assert sorted(got.values()) == list(range(2, 2 + len(sizes)))
        assert versioned.latest_version(base) == 1 + len(sizes)
        for w, v in got.items():
            assert versioned.manifest_metadata(base, v) == {"writer": w}
        want = list(range(10)) + [
            i for w, n in sizes.items() for i in range(w * 10_000, w * 10_000 + n)
        ]
        assert _ids(versioned.read_snapshot(spark, base)) == sorted(want)

    def test_non_append_commits_reject_a_taken_version(
        self, spark, tmp_path, monkeypatch
    ):
        base = str(tmp_path / "t")
        df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id INT, k INT")
        versioned.write_snapshot(df, base)
        n = versioned.write_snapshot(df.filter("id < 3"), base)
        # another writer's v{n+1}, published after these operations
        # planned against head n: hide it from their head lookup
        mp = versioned._manifest_path(base, n + 1)
        with open(mp, "w") as fh:
            json.dump({**_manifest(base, 1), "version": n + 1}, fh)
        with open(mp, "rb") as fh:
            placed = fh.read()
        real_latest = versioned.latest_version
        monkeypatch.setattr(
            versioned, "latest_version", lambda b: min(real_latest(b), n)
        )
        for op in (
            lambda: versioned.delete_where(spark, base, where={"k": 0}),
            lambda: versioned.merge_into_snapshot(
                spark, base, df.filter("id < 5"), key="id"
            ),
            lambda: versioned.compact_snapshot(spark, base),
        ):
            with pytest.raises(versioned.CommitConflict, match=f"v{n + 1}"):
                op()
        monkeypatch.undo()
        with open(mp, "rb") as fh:
            assert fh.read() == placed
        assert versioned.latest_version(base) == n + 1

    def test_head_moving_mid_write_rejects_dml_and_rebases_append(
        self, spark, tmp_path, monkeypatch
    ):
        base = str(tmp_path / "t")
        df = spark.createDataFrame([(i, i % 3) for i in range(30)], "id INT, k INT")
        versioned.write_snapshot(df, base)
        real_stage = versioned._stage

        def stage_then_lose(*args, **kwargs):
            files = real_stage(*args, **kwargs)
            versioned.rollback_to(base, 1)  # a concurrent commit lands
            return files

        monkeypatch.setattr(versioned, "_stage", stage_then_lose)
        with pytest.raises(versioned.CommitConflict, match="v2"):
            versioned.delete_where(spark, base, where={"k": 0})
        assert versioned.latest_version(base) == 2
        assert versioned.write_snapshot(df, base) == 4  # rebased past v3
        assert versioned.read_snapshot(spark, base).count() == 60

    def test_overlapping_expiries_both_succeed(self, spark, tmp_path, monkeypatch):
        # two folds committing back to back both expire behind their
        # commit: the second sweep runs INSIDE the first one's first file
        # removal, so the first finds that file, the manifests and the
        # commit directory already gone — neither sweep may raise
        base = str(tmp_path / "t")
        versioned.write_snapshot(spark.range(0, 10), base)
        versioned.write_snapshot(spark.range(10, 20), base, mode="overwrite")
        versioned.write_snapshot(spark.range(20, 30), base)
        versioned.write_snapshot(spark.range(30, 40), base)
        live = {v: _ids(versioned.read_snapshot(spark, base, v)) for v in (3, 4)}
        dead = [
            f
            for f in _manifest(base, 1)["files"]
            if f not in set(_manifest(base, 3)["files"])
        ]
        real_remove = os.remove
        nested: list[list[int] | None] = []

        def racing_remove(path):
            if not nested:
                nested.append(None)
                nested[0] = versioned.expire_snapshots(base, keep_from=3)
            real_remove(path)

        monkeypatch.setattr(versioned.os, "remove", racing_remove)
        assert versioned.expire_snapshots(base, keep_from=3) == [1, 2]
        monkeypatch.undo()
        assert nested == [[1, 2]]
        assert dead and not any(os.path.exists(f) for f in dead)
        for v in (1, 2):
            assert not os.path.exists(versioned._manifest_path(base, v))
        for v, ids in live.items():
            assert _ids(versioned.read_snapshot(spark, base, v)) == ids


class TestWherePushdown:
    def test_native_filter_reaches_parquet_scan(self, spark, tmp_path):
        # ADVICE r13: a type-matched `where` value must filter as a bare
        # col = lit so the predicate reaches the parquet reader
        # (PushedFilters / row-group stats) on the kept files — the
        # string-cast fallback wraps the column and defeats pushdown
        base = str(tmp_path / "t")
        df = spark.createDataFrame([(i, i % 5) for i in range(50)], "id INT, k INT")
        versioned.write_snapshot(df, base)
        got = versioned.read_snapshot(spark, base, where={"k": 3})
        plan = got._jdf.queryExecution().executedPlan().toString()
        assert "PushedFilters: [IsNotNull(k), EqualTo(k,3)]" in plan
        assert sorted(r["id"] for r in got.collect()) == list(range(3, 50, 5))
        # cross-type probe keeps the string-form fallback (and its rows)
        got2 = versioned.read_snapshot(spark, base, where={"k": "3"})
        plan2 = got2._jdf.queryExecution().executedPlan().toString()
        assert "EqualTo(k,3)" not in plan2
        assert sorted(r["id"] for r in got2.collect()) == list(range(3, 50, 5))


class TestMergeOnRead:
    def test_zero_io_and_scoped_filtering(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(i, i % 4) for i in range(40)], "id INT, k INT"),
            base,
        )
        dirs = _subdirs(base)
        v2, n_rw, n_kept = versioned.delete_where(
            spark, base, where={"k": 0}, strategy="merge-on-read"
        )
        assert n_rw == 0 and _subdirs(base) == dirs  # no data written
        assert _manifest(base, v2)["files"] == _manifest(base, 1)["files"]
        survivors = [i for i in range(40) if i % 4 != 0]
        assert _ids(versioned.read_snapshot(spark, base)) == survivors
        # v1 time travel still shows the pre-delete table
        assert _ids(versioned.read_snapshot(spark, base, 1)) == list(range(40))
        # the SCOPING rule: rows appended after the delete match the
        # predicate but are never filtered by it
        versioned.write_snapshot(
            spark.createDataFrame([(100, 0), (101, 1)], "id INT, k INT"), base
        )
        assert _ids(versioned.read_snapshot(spark, base)) == survivors + [100, 101]

    def test_stacked_filters_and_null_rows_survive(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame(
                [(1, 5), (2, None), (3, 50), (4, 7)], "id INT, val INT"
            ),
            base,
        )
        versioned.delete_where(
            spark, base, where_range={"val": (None, 6)}, strategy="merge-on-read"
        )
        versioned.delete_where(
            spark, base, where={"val": 7}, strategy="merge-on-read"
        )
        assert len(_manifest(base, 3)["row_filters"]) == 2
        # id=1 (<=6) and id=4 (=7) deleted; NULL row survives both
        assert _ids(versioned.read_snapshot(spark, base)) == [2, 3]

    def test_compaction_materializes_and_clears(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(i, i % 2) for i in range(20)], "id INT, k INT"),
            base,
        )
        versioned.delete_where(spark, base, where={"k": 1}, strategy="merge-on-read")
        v3 = versioned.compact_snapshot(spark, base, target_files=1)
        m3 = _manifest(base, v3)
        assert m3.get("row_filters", []) == []
        evens = list(range(0, 20, 2))
        assert _ids(versioned.read_snapshot(spark, base)) == evens
        # the compacted files contain the filtered content physically
        assert _ids(
            spark.read.schema(
                versioned.read_snapshot(spark, base).schema
            ).parquet(*m3["files"])
        ) == evens

    def test_cow_after_mor_does_not_resurrect(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(i, i % 3) for i in range(30)], "id INT, k INT"),
            base,
        )
        versioned.delete_where(spark, base, where={"k": 0}, strategy="merge-on-read")
        # CoW delete rewrites every file (unpartitioned => all candidates);
        # the rewrite must read THROUGH the MoR filter
        v3, n_rw, _ = versioned.delete_where(spark, base, where={"k": 1})
        assert n_rw >= 1
        assert _ids(versioned.read_snapshot(spark, base)) == [
            i for i in range(30) if i % 3 == 2
        ]
        # fully-rewritten table carries no stale filter entries
        assert _manifest(base, v3)["row_filters"] == []

    def test_rollback_restores_filters(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 0), (2, 1)], "id INT, k INT"), base
        )
        versioned.delete_where(spark, base, where={"k": 0}, strategy="merge-on-read")
        versioned.compact_snapshot(spark, base, target_files=1)  # v3: cleared
        v4 = versioned.rollback_to(base, 2)
        assert len(_manifest(base, v4)["row_filters"]) == 1
        assert _ids(versioned.read_snapshot(spark, base)) == [2]

    def test_increment_refuses_across_mor_delete(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 0)], "id INT, k INT"), base
        )
        versioned.delete_where(spark, base, where={"k": 0}, strategy="merge-on-read")
        versioned.write_snapshot(
            spark.createDataFrame([(2, 1)], "id INT, k INT"), base
        )
        with pytest.raises(ValueError, match="merge-on-read"):
            versioned.read_increment(spark, base, 1)
        # spans that start AFTER the delete are fine
        assert _ids(versioned.read_increment(spark, base, 2)) == [2]

    def test_mor_rejects_non_json_values(self, spark, tmp_path):
        import datetime

        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, datetime.date(2024, 1, 1))], "id INT, d DATE"),
            base,
        )
        with pytest.raises(ValueError, match="JSON-native"):
            versioned.delete_where(
                spark, base,
                where={"d": datetime.date(2024, 1, 1)},
                strategy="merge-on-read",
            )
        with pytest.raises(ValueError, match="unknown delete strategy"):
            versioned.delete_where(spark, base, where={"id": 1}, strategy="nope")


class TestUpdateWhere:
    def test_cow_updates_only_predicated_rows(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame(
                [(i, "a" if i < 5 else "b", i * 10) for i in range(10)],
                "id INT, grp STRING, val INT",
            ),
            base,
            partition_by=["grp"],
        )
        v, n_rw, n_kept = versioned.update_where(
            spark, base, set_values={"val": -1}, where={"grp": "a"},
            where_range={"id": (2, 3)},
        )
        assert n_rw >= 1 and n_kept >= 1
        got = {
            r["id"]: r["val"]
            for r in versioned.read_snapshot(spark, base).collect()
        }
        want = {i: (-1 if i in (2, 3) else i * 10) for i in range(10)}
        assert got == want
        # time travel intact, row count invariant
        assert _ids(versioned.read_snapshot(spark, base, 1)) == list(range(10))

    def test_null_predicate_rows_keep_values(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 5), (2, None)], "id INT, val INT"), base
        )
        versioned.update_where(
            spark, base, set_values={"val": 99}, where_range={"val": (None, 10)}
        )
        got = {
            r["id"]: r["val"]
            for r in versioned.read_snapshot(spark, base).collect()
        }
        assert got == {1: 99, 2: None}

    def test_update_reads_through_mor_filter(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 0, 10), (2, 1, 20), (3, 2, 30)],
                                  "id INT, k INT, val INT"),
            base,
        )
        versioned.delete_where(spark, base, where={"k": 0}, strategy="merge-on-read")
        versioned.update_where(spark, base, set_values={"val": 7}, where={"k": 1})
        got = {
            r["id"]: r["val"]
            for r in versioned.read_snapshot(spark, base).collect()
        }
        assert got == {2: 7, 3: 30}  # id=1 stays deleted, not resurrected

    def test_refusals(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 1)], "id INT, v INT"), base
        )
        with pytest.raises(ValueError, match="at least one SET"):
            versioned.update_where(spark, base, set_values={}, where={"id": 1})
        with pytest.raises(ValueError, match="needs a predicate"):
            versioned.update_where(spark, base, set_values={"v": 2})
        with pytest.raises(ValueError, match="not in table schema"):
            versioned.update_where(spark, base, set_values={"nope": 2}, where={"id": 1})


class TestUpdateMergeOnRead:
    def test_delete_plus_insert_in_one_commit(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame(
                [(i, i % 4, i * 10) for i in range(20)], "id INT, k INT, val INT"
            ),
            base,
        )
        v2, n_rw, _ = versioned.update_where(
            spark, base, set_values={"val": -5}, where={"k": 2},
            strategy="merge-on-read",
        )
        assert n_rw == 0
        m1, m2 = _manifest(base, 1), _manifest(base, 2)
        # old files all still listed; new files hold ONLY the matching rows
        assert set(m1["files"]) <= set(m2["files"])
        new = [f for f in m2["files"] if f not in set(m1["files"])]
        n_match = sum(1 for i in range(20) if i % 4 == 2)
        got_new = spark.read.schema(
            versioned.read_snapshot(spark, base).schema
        ).parquet(*new)
        assert got_new.count() == n_match
        got = {
            r["id"]: r["val"]
            for r in versioned.read_snapshot(spark, base).collect()
        }
        assert got == {i: (-5 if i % 4 == 2 else i * 10) for i in range(20)}
        assert len(got) == 20  # row-count invariant

    def test_stacked_with_mor_delete_and_compaction(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame(
                [(1, 0, 10), (2, 1, 20), (3, 2, 30)], "id INT, k INT, val INT"
            ),
            base,
        )
        versioned.delete_where(spark, base, where={"k": 0}, strategy="merge-on-read")
        versioned.update_where(
            spark, base, set_values={"val": 7}, where={"k": 1},
            strategy="merge-on-read",
        )
        got = {
            r["id"]: r["val"]
            for r in versioned.read_snapshot(spark, base).collect()
        }
        assert got == {2: 7, 3: 30}  # deleted row NOT resurrected as updated
        v = versioned.compact_snapshot(spark, base, target_files=1)
        assert _manifest(base, v)["row_filters"] == []
        got2 = {
            r["id"]: r["val"]
            for r in versioned.read_snapshot(spark, base).collect()
        }
        assert got2 == got

    def test_mor_update_refusals(self, spark, tmp_path):
        import datetime

        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, datetime.date(2024, 1, 1), 5)],
                                  "id INT, d DATE, v INT"),
            base,
        )
        with pytest.raises(ValueError, match="JSON-native"):
            versioned.update_where(
                spark, base, set_values={"v": 9},
                where={"d": datetime.date(2024, 1, 1)},
                strategy="merge-on-read",
            )
        with pytest.raises(ValueError, match="unknown update strategy"):
            versioned.update_where(
                spark, base, set_values={"v": 9}, where={"id": 1}, strategy="x"
            )


# ---------------------------------------------------------------- model-based
# Randomized DML sequences vs a pure-Python reference model: every
# interplay the hand-written pins above cover pairwise (CoW/MoR delete,
# CoW/MoR update, append, compaction, rollback) is exercised here in
# arbitrary order, with the model tracking full version history so
# rollback targets are exact. Few examples — each op is a Spark write.

from hypothesis import HealthCheck, given, settings, strategies as st  # noqa: E402

_OPS = st.lists(
    st.one_of(
        st.tuples(st.just("append"), st.integers(0, 3)),
        st.tuples(st.just("delete_cow"), st.integers(0, 3)),
        st.tuples(st.just("delete_mor"), st.integers(0, 3)),
        st.tuples(st.just("update_cow"), st.integers(0, 3)),
        st.tuples(st.just("update_mor"), st.integers(0, 3)),
        st.tuples(st.just("compact"), st.integers(0, 0)),
        st.tuples(st.just("rollback"), st.integers(0, 100)),
        st.tuples(st.just("expire"), st.integers(0, 100)),
    ),
    min_size=1,
    max_size=6,
)


@settings(max_examples=10, deadline=None,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(ops=_OPS)
def test_random_dml_sequences_match_reference_model(spark, tmp_path_factory, ops):
    base = str(tmp_path_factory.mktemp("dml") / "t")
    rows0 = [(i, i % 4, i * 10) for i in range(12)]
    versioned.write_snapshot(
        spark.createDataFrame(rows0, "id INT, k INT, val INT"), base
    )
    # model: state = {id: (k, val)}; history[v] = state AS OF version v
    state = {i: (k, v) for i, k, v in rows0}
    history = {1: dict(state)}
    expired: set[int] = set()
    next_id = 1000
    version = 1
    for op, arg in ops:
        if op == "append":
            new = [(next_id + j, arg, (next_id + j) * 10) for j in range(3)]
            next_id += 3
            versioned.write_snapshot(
                spark.createDataFrame(new, "id INT, k INT, val INT"), base
            )
            for i, k, v in new:
                state[i] = (k, v)
        elif op in ("delete_cow", "delete_mor"):
            versioned.delete_where(
                spark, base, where={"k": arg},
                strategy="merge-on-read" if op == "delete_mor" else "copy-on-write",
            )
            state = {i: kv for i, kv in state.items() if kv[0] != arg}
        elif op in ("update_cow", "update_mor"):
            versioned.update_where(
                spark, base, set_values={"val": -7}, where={"k": arg},
                strategy="merge-on-read" if op == "update_mor" else "copy-on-write",
            )
            state = {
                i: (k, -7 if k == arg else v) for i, (k, v) in state.items()
            }
        elif op == "compact":
            versioned.compact_snapshot(spark, base, target_files=2)
        elif op == "rollback":
            target = (arg % version) + 1
            if target in expired:
                # retention interplay: an expired snapshot is not a
                # valid rollback target — must refuse, state unchanged
                with pytest.raises(ValueError, match="no snapshot"):
                    versioned.rollback_to(base, target)
            else:
                versioned.rollback_to(base, target)
                state = dict(history[target])
        elif op == "expire":
            keep_from = (arg % version) + 1
            gone = versioned.expire_snapshots(base, keep_from)
            assert gone == [v for v in sorted(history) if v < keep_from
                            and v not in expired]
            expired.update(gone)
            # the CURRENT state must survive any retention sweep
            # (live-set union over surviving manifests)
        version = versioned.latest_version(base)
        history[version] = dict(state)
        got = {
            r["id"]: (r["k"], r["val"])
            for r in versioned.read_snapshot(spark, base).collect()
        }
        assert got == state, (op, arg, version)


class TestSparkStringFormPredicates:
    """r14 review findings: prune_files/bloom used Python str() while
    Spark's casts render booleans lowercase — boolean predicates were
    wrongly PRUNED, which the DML paths turn into silent row loss; and
    float equality fell to the string form, where Java and Python double
    rendering diverge (sci notation at 1e7 vs 1e16)."""

    def test_boolean_partition_predicates_prune_and_match(self, spark, tmp_path):
        base = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, i % 2 == 0, i) for i in range(10)], "id INT, active BOOLEAN, v INT"
        )
        versioned.write_snapshot(df, base, partition_by=["active"])
        m1 = _manifest(base, 1)
        # pruning keeps exactly the matching partition (not zero files)
        kept = versioned.prune_files(m1, where={"active": True})
        assert kept and all("__pt_active=true" in f for f in kept)
        assert _ids(versioned.read_snapshot(spark, base, where={"active": True})) \
            == [0, 2, 4, 6, 8]
        # MoR update on the boolean predicate: rows must be UPDATED,
        # never silently deleted (the data-loss mode of the bug)
        versioned.update_where(
            spark, base, set_values={"v": -1}, where={"active": True},
            strategy="merge-on-read",
        )
        got = {r["id"]: r["v"] for r in versioned.read_snapshot(spark, base).collect()}
        assert got == {i: (-1 if i % 2 == 0 else i) for i in range(10)}

    def test_boolean_bloom_has_no_false_negative(self, spark, tmp_path):
        base = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, True), (2, True)], "id INT, flag BOOLEAN"
        )
        versioned.write_snapshot(df, base, bloom_for=["flag"])
        m1 = _manifest(base, 1)
        assert versioned.prune_files(m1, where={"flag": True}) == m1["files"]
        assert _ids(versioned.read_snapshot(spark, base, where={"flag": True})) \
            == [1, 2]

    def test_float_equality_delete_is_native(self, spark, tmp_path):
        # 1e7 is the Java sci-notation threshold: the old string-cast
        # compare ('10000000.0' vs Spark's '1.0E7') matched nothing
        base = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(1, 10000000.0), (2, 2.5)], "id INT, price DOUBLE"
        )
        versioned.write_snapshot(df, base)
        versioned.delete_where(
            spark, base, where={"price": 10000000.0}, strategy="merge-on-read"
        )
        assert _ids(versioned.read_snapshot(spark, base)) == [2]

    def test_float_predicates_never_prune(self, spark, tmp_path):
        # no portable string form -> conservatively unprunable
        base = str(tmp_path / "t")
        df = spark.createDataFrame([(1, 2.5)], "id INT, price DOUBLE")
        versioned.write_snapshot(df, base, bloom_for=["price"])
        m1 = _manifest(base, 1)
        assert versioned.prune_files(m1, where={"price": 99.0}) == m1["files"]


class TestAdviceR15Hardening:
    """r15 advisor findings: rollback replay-guard scan-back leak, MoR
    update filter scope vs re-insert scope, and predicate-column
    validation consistency across all three predicate entry points."""

    def test_rollback_to_pre_streaming_resets_replay_guard(self, spark, tmp_path):
        # v1 carries no batch_id; v2 is a stream commit (batch_id 7).
        # Rolling back to v1 must NOT let the guard scan past the
        # rollback manifest into the undone v2 — a source replaying
        # batch 7 would be skipped and its rows silently lost.
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 1)], "id INT, v INT"), base
        )
        versioned.write_snapshot(
            spark.createDataFrame([(2, 2)], "id INT, v INT"),
            base,
            metadata={"batch_id": 7},
        )
        versioned.rollback_to(base, 1)
        # explicit null marker committed atomically with the rollback
        m3 = _manifest(base, 3)
        assert "batch_id" in m3["metadata"] and m3["metadata"]["batch_id"] is None
        # guard resolves to the caller's default — batch 7 replays
        assert versioned.last_metadata_value(base, "batch_id", -1) == -1

    def test_mor_update_filter_scoped_to_candidates(self, spark, tmp_path):
        # The MoR row filter hides rows from exactly the files the
        # re-inserted updated rows were built from (prune candidates):
        # a pruning false-negative then degrades to a missed update,
        # never silent row loss.
        base = str(tmp_path / "t")
        df = spark.createDataFrame(
            [(i, "a" if i < 5 else "b", i) for i in range(10)],
            "id INT, grp STRING, v INT",
        )
        versioned.write_snapshot(df, base, partition_by=["grp"])
        m1 = _manifest(base, 1)
        versioned.update_where(
            spark, base, set_values={"v": -1}, where={"grp": "a"},
            strategy="merge-on-read",
        )
        m2 = _manifest(base, 2)
        flt = m2["row_filters"][-1]
        # scope == the pruned candidate set, a strict subset (grp=b out)
        assert set(flt["files"]) == set(
            versioned.prune_files(m1, where={"grp": "a"})
        )
        assert all("__pt_grp=a" in f for f in flt["files"])
        assert set(flt["files"]) < set(m1["files"])
        got = {r["id"]: r["v"] for r in versioned.read_snapshot(spark, base).collect()}
        assert got == {i: (-1 if i < 5 else i) for i in range(10)}

    def test_read_snapshot_unknown_predicate_column_raises(self, spark, tmp_path):
        base = str(tmp_path / "t")
        versioned.write_snapshot(
            spark.createDataFrame([(1, 1)], "id INT, v INT"), base
        )
        with pytest.raises(ValueError, match="not in table schema"):
            versioned.read_snapshot(spark, base, where={"nope": 1})
        with pytest.raises(ValueError, match="not in table schema"):
            versioned.read_snapshot(spark, base, where_range={"nope": (0, 1)})


class TestSchemaEvolution:
    """Field-id schema evolution (r15): rename/widen/drop are
    metadata-only commits; reads map files by FIELD ID, never name."""

    def _write(self, spark, base, rows, ddl, **kw):
        versioned.write_snapshot(spark.createDataFrame(rows, ddl), base, **kw)

    def test_rename_is_metadata_only_and_time_travels(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._write(spark, base, [(1, 10), (2, 20)], "id INT, cents INT")
        m1 = _manifest(base, 1)
        v = versioned.rename_column(base, "cents", "amount")
        m2 = _manifest(base, v)
        # metadata-only: same file list, zero data I/O
        assert m2["files"] == m1["files"]
        # current read: new name, FULL historical data (the silent-NULL
        # failure mode of name-based parquet matching is the bug class
        # field ids exist to prevent)
        cur = versioned.read_snapshot(spark, base)
        assert cur.columns == ["id", "amount"]
        assert sorted((r["id"], r["amount"]) for r in cur.collect()) == \
            [(1, 10), (2, 20)]
        # time travel: v1 reads under its own name
        old = versioned.read_snapshot(spark, base, 1)
        assert old.columns == ["id", "cents"]

    def test_append_after_rename_mixes_schemas(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._write(spark, base, [(1, 10)], "id INT, cents INT")
        versioned.rename_column(base, "cents", "amount")
        self._write(spark, base, [(2, 20)], "id INT, amount INT")
        got = sorted(
            (r["id"], r["amount"])
            for r in versioned.read_snapshot(spark, base).collect()
        )
        assert got == [(1, 10), (2, 20)]

    def test_widen_casts_old_files_up(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._write(spark, base, [(1, 10)], "id INT, v INT")
        versioned.alter_column_type(base, "v", "long")
        df = versioned.read_snapshot(spark, base)
        assert dict(df.dtypes)["v"] == "bigint"
        assert df.collect()[0]["v"] == 10
        # old snapshot keeps its own type
        assert dict(versioned.read_snapshot(spark, base, 1).dtypes)["v"] == "int"
        # narrowing refused
        with pytest.raises(ValueError, match="widening"):
            versioned.alter_column_type(base, "v", "integer")

    def test_drop_then_readd_does_not_resurrect(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._write(spark, base, [(1, "secret")], "id INT, note STRING")
        versioned.drop_column(base, "note")
        assert versioned.read_snapshot(spark, base).columns == ["id"]
        # re-adding the NAME allocates a fresh field id: the old file's
        # values must NOT come back under the new column
        self._write(spark, base, [(2, "fresh")], "id INT, note STRING")
        got = {r["id"]: r["note"]
               for r in versioned.read_snapshot(spark, base).collect()}
        assert got == {1: None, 2: "fresh"}
        # but time travel still shows the dropped data
        assert versioned.read_snapshot(spark, base, 1).collect()[0]["note"] \
            == "secret"

    def test_prune_and_dml_map_through_rename(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._write(
            spark, base,
            [(i, "a" if i < 5 else "b", i) for i in range(10)],
            "id INT, g STRING, v INT",
            partition_by=["g"],
        )
        # move the spec off g so the rename is legal, then rename
        self._write(spark, base, [(99, "c", 99)], "id INT, g STRING, v INT")
        versioned.rename_column(base, "g", "grp")
        m = _manifest(base, versioned.latest_version(base))
        # pruning maps grp -> the written name g for old files: the b
        # partition is skipped, a kept
        pruned = versioned.prune_files(m, where={"grp": "a"})
        assert pruned and set(pruned) < set(m["files"])
        assert any("__pt_g=a" in f for f in pruned)
        assert not any("__pt_g=b" in f for f in pruned)
        assert _ids(
            versioned.read_snapshot(spark, base, where={"grp": "a"})
        ) == [0, 1, 2, 3, 4]
        # DML through the renamed column
        versioned.delete_where(spark, base, where={"grp": "b"})
        assert _ids(versioned.read_snapshot(spark, base)) == [0, 1, 2, 3, 4, 99]

    def test_refusals(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._write(spark, base, [(1, "a", 5)], "id INT, g STRING, v INT",
                    partition_by=["g"])
        with pytest.raises(ValueError, match="partition-spec"):
            versioned.rename_column(base, "g", "h")
        with pytest.raises(ValueError, match="already exists"):
            versioned.rename_column(base, "v", "id")
        with pytest.raises(ValueError, match="not in table schema"):
            versioned.rename_column(base, "nope", "x")
        # live MoR filter blocks evolution of the referenced column
        versioned.delete_where(
            spark, base, where={"v": 5}, strategy="merge-on-read"
        )
        with pytest.raises(ValueError, match="row filter"):
            versioned.rename_column(base, "v", "w")
        with pytest.raises(ValueError, match="row filter"):
            versioned.drop_column(base, "v")
        # compaction materializes the filter and unblocks it
        versioned.compact_snapshot(spark, base)
        versioned.rename_column(base, "v", "w")
        assert "w" in versioned.read_snapshot(spark, base).columns

    def test_increment_reads_across_rename(self, spark, tmp_path):
        base = str(tmp_path / "t")
        self._write(spark, base, [(1, 10)], "id INT, cents INT")
        versioned.rename_column(base, "cents", "amount")
        self._write(spark, base, [(2, 20)], "id INT, amount INT")
        inc = versioned.read_increment(spark, base, 2)
        assert inc.columns == ["id", "amount"]
        assert [(r["id"], r["amount"]) for r in inc.collect()] == [(2, 20)]

    def test_legacy_manifest_upgrade(self, spark, tmp_path):
        # a manifest written WITHOUT the schemas key (pre-r15) must
        # synthesize positional ids and evolve correctly
        import json as _json
        base = str(tmp_path / "t")
        self._write(spark, base, [(1, 10)], "id INT, cents INT")
        mp = versioned._manifest_path(base, 1)
        with open(mp) as fh:
            m = _json.load(fh)
        m.pop("schemas"); m.pop("current_schema")
        for meta in m["file_meta"].values():
            meta.pop("sid", None)
        with open(mp, "w") as fh:
            _json.dump(m, fh)
        versioned.rename_column(base, "cents", "amount")
        cur = versioned.read_snapshot(spark, base)
        assert cur.columns == ["id", "amount"]
        assert cur.collect()[0]["amount"] == 10
