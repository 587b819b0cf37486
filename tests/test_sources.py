"""Sources tests: z-order clustering keys and the transaction-log
table (``TxTable``)."""

from __future__ import annotations

import os

from pyspark.sql import functions as F

from etl_batch_spark.catalog import load_table


def _zordered_files(spark, df, path, cols, *, n_files, equal_frequency=False):
    """Live parquet files of a TxTable holding ``df`` after a z-order
    compaction on ``cols`` (the engine's one z-order write path)."""
    from etl_batch_spark.sources.txlog import TxTable

    t = TxTable(spark, path)
    t.append(df)
    t.compact(target_files=n_files, zorder_cols=cols, equal_frequency=equal_frequency)
    return [os.path.join(t.path, f) for f in t._active_files()]  # noqa: SLF001


class TestZorder:
    def test_key_interleaves_bits(self, spark):
        from etl_batch_spark.sources.io import zorder_key

        # corners of a 2-col grid: (min,min) -> 0, (max,max) -> all bits set
        df = spark.createDataFrame([(0.0, 0.0), (3.0, 3.0), (3.0, 0.0)], "x double, y double")
        z = zorder_key(df, ["x", "y"], bits=2)
        got = [r["z"] for r in df.select(z.alias("z")).collect()]
        assert got[0] == 0 and got[1] == 0b1111
        # x contributes the even bit positions: x=max,y=min -> 0b0101
        assert got[2] == 0b0101

    def test_key_rejects_bad_args(self, spark):
        import pytest as _pytest

        from etl_batch_spark.sources.io import zorder_key

        df = spark.createDataFrame([(1.0,)], "x double")
        with _pytest.raises(ValueError):
            zorder_key(df, [])
        with _pytest.raises(ValueError):
            zorder_key(df, ["x"], bits=63)

    @staticmethod
    def _file_envelopes(files, cols):
        """Per-file footer min/max envelope over ``cols``."""
        import pyarrow.parquet as pq

        out = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = md.schema.to_arrow_schema().names
            lo, hi = {}, {}
            for rg in range(md.num_row_groups):
                for i in range(md.num_columns):
                    c = names[i]
                    st = md.row_group(rg).column(i).statistics
                    if c in cols and st is not None:
                        lo[c] = min(lo.get(c, st.min), st.min)
                        hi[c] = max(hi.get(c, st.max), st.max)
            if lo:
                out.append((lo, hi))
        return out

    def test_zorder_tightens_file_envelopes(self, spark, sf_dir, tmp_path):
        import glob as g

        li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
        plain = str(tmp_path / "plain")
        li.repartition(8).write.parquet(plain)
        cols = ["l_partkey", "l_suppkey"]
        zord = _zordered_files(spark, li, str(tmp_path / "zord"), cols, n_files=8)

        def area_sum(files):
            # sum of per-file bounding-box areas: a random layout's files
            # each span ~the whole (partkey x suppkey) rectangle, so the
            # sum is ~n_files x full area; z-ordered files tile the space
            # with modest overlap, so the sum collapses toward 1x.  This
            # is robust to where the sampled range boundaries land (the
            # repartitionByRange sample seed varies with session RDD ids).
            return sum(
                (hi[cols[0]] - lo[cols[0]] + 1) * (hi[cols[1]] - lo[cols[1]] + 1)
                for lo, hi in self._file_envelopes(files, cols)
            )

        plain_area = area_sum(g.glob(f"{plain}/*.parquet"))
        zord_area = area_sum(zord)
        assert len(self._file_envelopes(zord, cols)) == 8
        assert zord_area < plain_area / 2

        # layout change must not change content
        got = spark.read.parquet(*zord)
        assert got.count() == li.count()
        assert got.agg(F.sum("l_quantity")).first()[0] == li.agg(F.sum("l_quantity")).first()[0]


class TestZorderEqualFrequency:
    def _envelopes(self, files, col):
        import pyarrow.parquet as pq

        spans = []
        for f in files:
            md = pq.ParquetFile(f).metadata
            names = md.schema.to_arrow_schema().names
            ci = names.index(col)
            lo = min(md.row_group(rg).column(ci).statistics.min for rg in range(md.num_row_groups))
            hi = max(md.row_group(rg).column(ci).statistics.max for rg in range(md.num_row_groups))
            spans.append((lo, hi))
        return spans

    def test_outlier_does_not_starve_bucketing(self, spark, tmp_path):
        # mass in [0, 10000), one outlier at 1e9: linear min/max scaling
        # collapses the whole mass into bucket 0 (no k1 clustering at
        # all); quantile buckets ignore the outlier's leverage
        df = spark.range(20_000).select(
            F.when(F.col("id") == 0, F.lit(1_000_000_000))
            .otherwise(F.col("id") * 37 % 10_000)
            .alias("k1"),
            (F.col("id") * 91 % 10_000).alias("k2"),
        )
        lin = _zordered_files(spark, df, str(tmp_path / "lin"), ["k1", "k2"], n_files=16)
        eqf = _zordered_files(
            spark, df, str(tmp_path / "eqf"), ["k1", "k2"], n_files=16,
            equal_frequency=True,
        )

        def median_width(spans):
            ws = sorted(hi - lo for lo, hi in spans if hi < 1_000_000)  # mass files
            return ws[len(ws) // 2]

        lin_w = median_width(self._envelopes(lin, "k1"))
        eqf_w = median_width(self._envelopes(eqf, "k1"))
        assert eqf_w < lin_w / 2, f"eqf {eqf_w} vs linear {lin_w}"
        assert eqf_w < 6_000  # real clustering of the mass region
        # data round-trips intact
        assert spark.read.parquet(*eqf).count() == 20_000

    def test_equal_frequency_still_prunes_both_columns(self, spark, tmp_path):
        df = spark.range(20_000).select(
            (F.col("id") * 37 % 10_000).alias("k1"),
            (F.col("id") * 91 % 10_000).alias("k2"),
        )
        files = _zordered_files(
            spark, df, str(tmp_path / "z"), ["k1", "k2"], n_files=16,
            equal_frequency=True,
        )

        for col in ("k1", "k2"):
            spans = self._envelopes(files, col)
            mean_w = sum(hi - lo for lo, hi in spans) / len(spans)
            # 16 files over a 2-d curve ≈ 4 splits per dimension
            assert mean_w < 0.6 * 10_000, f"{col}: envelope {mean_w}"


class TestTxTable:
    def _table(self, spark, tmp_path):
        from etl_batch_spark.sources.txlog import TxTable

        return TxTable(spark, str(tmp_path / "tx"))

    def test_append_overwrite_time_travel(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        v0 = t.append(spark.range(0, 10))
        v1 = t.append(spark.range(10, 15))
        assert (v0, v1) == (0, 1)
        assert t.read().count() == 15
        assert t.read(version=0).count() == 10  # time travel
        v2 = t.overwrite(spark.range(100, 103))
        assert t.read().count() == 3
        assert t.read(version=v1).count() == 15  # old snapshot intact
        assert [h["action"] for h in t.history()] == ["append", "append", "overwrite"]
        assert t.history()[v2]["n_rows"] == 3

    def test_change_feed_append_fast_path_and_diff(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.append(spark.range(0, 10))           # v0
        t.append(spark.range(10, 15))          # v1
        # append-only range: feed == appended rows, resolved from log
        # metadata — the pre-existing files are never read
        feed = t.changes(0, 1)
        assert sorted(r["id"] for r in feed.collect()) == list(range(10, 15))
        assert {r["_change_type"] for r in feed.collect()} == {"insert"}
        v0_files = set(t._active_files(0))  # noqa: SLF001
        assert not any(
            f.rsplit("/", 2)[-2] + "/" + f.rsplit("/", 2)[-1] in v0_files
            for f in feed.inputFiles()
        )
        # compaction rewrites files but changes no rows: empty feed
        t.compact(target_files=2)              # v2
        assert t.changes(1, 2).count() == 0
        # overwrite: full diff with deletes and inserts
        t.overwrite(spark.range(12, 17))       # v3
        diff = t.changes(1, 3)
        got = {(r["id"], r["_change_type"]) for r in diff.collect()}
        assert got == (
            {(i, "delete") for i in range(0, 12)}
            | {(i, "insert") for i in range(15, 17)}
        )
        # empty append-only range: empty feed with the schema intact
        assert t.changes(3, 3).count() == 0
        # invalid range rejected
        import pytest as _pytest

        with _pytest.raises(ValueError):
            t.changes(3, 1)

    def test_compact_with_zorder_clusters_both_columns(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        df = spark.range(8_000).select(
            (F.col("id") * 37 % 1_000).alias("k1"),
            (F.col("id") * 91 % 1_000).alias("k2"),
        )
        t.append(df)
        before = sorted((r["k1"], r["k2"]) for r in t.read().collect())
        t.compact(target_files=8, zorder_cols=["k1", "k2"])
        after = sorted((r["k1"], r["k2"]) for r in t.read().collect())
        assert before == after  # logically a no-op
        assert t.history()[-1]["action"] == "compact"
        # the compacted snapshot's files have tight envelopes on BOTH cols
        import os as _os

        import pyarrow.parquet as pq

        files = [
            _os.path.join(t.path, f)
            for f in t._active_files()  # noqa: SLF001
        ]
        assert len(files) == 8
        for col in ("k1", "k2"):
            widths = []
            for f in files:
                md = pq.ParquetFile(f).metadata
                names = md.schema.to_arrow_schema().names
                ci = names.index(col)
                st = [md.row_group(rg).column(ci).statistics for rg in range(md.num_row_groups)]
                widths.append(max(s.max for s in st) - min(s.min for s in st))
            assert sum(widths) / len(widths) < 0.7 * 1_000, f"{col}: {widths}"

    def test_compact_preserves_rows_and_old_readers(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        for lo in range(0, 50, 10):
            t.append(spark.range(lo, lo + 10))
        before = sorted(r["id"] for r in t.read().collect())
        pre_version = t.latest_version()
        # a reader resolves its snapshot BEFORE compaction...
        old_snapshot = t.read(version=pre_version)
        t.compact(target_files=2)
        after = sorted(r["id"] for r in t.read().collect())
        assert before == after == list(range(50))
        # ...and still reads consistently afterwards (files not deleted)
        assert old_snapshot.count() == 50

    def test_vacuum_deletes_only_unreferenced_old_files(self, spark, tmp_path):
        import os

        t = self._table(spark, tmp_path)
        t.append(spark.range(0, 20))
        t.append(spark.range(20, 40))
        t.compact(target_files=1)
        removed = t.vacuum(retain_versions=1)
        assert removed  # pre-compaction files physically gone
        assert sorted(r["id"] for r in t.read().collect()) == list(range(40))
        for f in removed:
            assert not os.path.exists(os.path.join(t.path, f))
        # time travel past the vacuum horizon is now (correctly) impossible,
        # but the log itself remains for audit
        assert len(t.history()) == 3

    def test_vacuum_respects_retention_horizon(self, spark, tmp_path):
        """retain_versions=N must keep every file any of the newest N
        snapshots references — the only file a retained version needs
        is never deletable (round-6 verdict item 3c)."""
        t = self._table(spark, tmp_path)
        t.append(spark.range(0, 20))   # v0
        t.append(spark.range(20, 40))  # v1
        t.compact(target_files=1)      # v2 supersedes v0/v1's files
        # v1 is within the retain=2 horizon and references the
        # pre-compaction files: nothing may be deleted
        assert t.vacuum(retain_versions=2) == []
        assert t.read(version=1).count() == 40
        removed = t.vacuum(retain_versions=1)
        assert removed
        # idempotent: a second pass finds nothing
        assert t.vacuum(retain_versions=1) == []

    def test_time_travel_past_vacuum_horizon_refuses_cleanly(
        self, spark, tmp_path
    ):
        import pytest as _pytest

        t = self._table(spark, tmp_path)
        t.append(spark.range(0, 20))
        t.append(spark.range(20, 40))
        t.compact(target_files=1)
        t.vacuum(retain_versions=1)
        with _pytest.raises(ValueError, match="vacuum"):
            t.read(version=0)
        with _pytest.raises(ValueError, match="vacuum"):
            t.read(version=1)
        # HEAD (explicit or implicit) still reads
        assert t.read().count() == 40
        assert t.read(version=t.latest_version()).count() == 40

    def test_partial_write_invisible_without_commit(self, spark, tmp_path):
        import os

        t = self._table(spark, tmp_path)
        t.append(spark.range(5))
        # simulate a crashed writer: data files land but no commit entry
        stray = os.path.join(t.path, "data-stray")
        spark.range(1000).write.mode("overwrite").parquet(stray)
        assert t.read().count() == 5  # unreferenced files are not the table

    def test_compact_carries_meta_forward(self, spark, tmp_path):
        """Compaction is a logical no-op, so it must not erase the commit
        metadata the streaming sinks use for replay/incarnation detection
        — otherwise a routine OPTIMIZE between micro-batches would make
        the next batch look like a foreign run and wipe the state."""
        t = self._table(spark, tmp_path)
        t.overwrite(spark.range(10), meta={"batch_id": 3, "incarnation": "abc"})
        t.compact(target_files=1)
        assert t.latest_meta() == {"batch_id": 3, "incarnation": "abc"}

    def test_vacuum_rejects_nonpositive_retention(self, spark, tmp_path):
        import pytest as _pytest

        t = self._table(spark, tmp_path)
        t.append(spark.range(5))
        with _pytest.raises(ValueError, match="retain_versions"):
            t.vacuum(retain_versions=0)
        # current snapshot untouched
        assert t.read().count() == 5

    def test_change_feed_bootstrap_cursors(self, spark, tmp_path):
        """The natural incremental-consumer bootstrap (cursor = -1) must
        work on an empty table and on a table whose first commit is an
        overwrite — both previously crashed in read()."""
        t = self._table(spark, tmp_path)
        # still-empty table: empty feed, not a ValueError
        assert t.changes(-1).count() == 0
        # a caller-supplied schema types the bootstrap feed so consumers
        # selecting row columns (e.g. ivm.apply_feed) see a no-op, not
        # an AnalysisException
        typed = t.changes(-1, schema="id long, name string")
        assert typed.count() == 0
        assert set(typed.columns) == {"id", "name", "_change_type"}
        typed.select("id", "name").count()  # row columns resolvable
        # first commit is an overwrite (how the streaming sinks commit):
        # bootstrap feed reports every row as an insert via the diff path
        t.overwrite(spark.range(7))
        feed = t.changes(-1)
        assert sorted(r["id"] for r in feed.collect()) == list(range(7))
        assert {r["_change_type"] for r in feed.collect()} == {"insert"}

    # -- optimistic concurrency ---------------------------------------

    def _two_writers(self, spark, tmp_path):
        from etl_batch_spark.sources.txlog import TxTable

        path = str(tmp_path / "tx")
        return TxTable(spark, path), TxTable(spark, path)

    def test_overwrite_conflict_detected_then_retry_serializes(
        self, spark, tmp_path
    ):
        """Two read-modify-writes from the same snapshot: the second
        must refuse (not silently clobber the first), and a retry from
        the fresh snapshot composes both effects."""
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import ConcurrentWriteConflict

        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.range(0, 10))
        snap = a.latest_version()
        assert snap == b.latest_version()
        # both writers derive a rewrite from snapshot v0
        a_df = a.read().withColumn("id", F.col("id") + 100)
        b_df = b.read().withColumn("id", F.col("id") + 1000)
        assert a.overwrite(a_df, read_version=snap) == snap + 1
        with _pytest.raises(ConcurrentWriteConflict):
            b.overwrite(b_df, read_version=snap)
        # a's commit is intact — b lost the race, not the table
        assert sorted(r["id"] for r in b.read().collect()) == list(
            range(100, 110)
        )
        # retry from the fresh snapshot: effects compose serially
        fresh = b.latest_version()
        b.overwrite(
            b.read().withColumn("id", F.col("id") + 1000),
            read_version=fresh,
        )
        assert sorted(r["id"] for r in a.read().collect()) == list(
            range(1100, 1110)
        )

    def test_commit_slot_never_clobbers(self, spark, tmp_path):
        """A direct slot collision must leave the winner's log entry
        byte-identical — the os.link visibility point cannot overwrite."""
        import json as _json
        import os as _os

        import pytest as _pytest

        from etl_batch_spark.sources.txlog import ConcurrentWriteConflict

        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.range(3))
        entry_path = _os.path.join(a.log_dir, "00000000.json")
        with open(entry_path) as f:
            before = _json.load(f)
        with _pytest.raises(ConcurrentWriteConflict):
            b._commit("append", ["data-x/f.parquet"], [], 1,  # noqa: SLF001
                      expected_version=0)
        with open(entry_path) as f:
            assert _json.load(f) == before
        # no orphaned tmp files from the failed attempt
        assert not [n for n in _os.listdir(a.log_dir) if n.startswith(".tmp")]

    def test_append_auto_retries_lost_race(self, spark, tmp_path):
        """Appends commute: a lost slot race re-commits at the new head
        instead of surfacing a conflict."""
        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.range(0, 5))

        # interleave: b resolves its slot, then a commits first
        # (instance-level patch: a shares the class and must stay real)
        real_latest = type(b).latest_version
        calls = {"n": 0}

        def stale_once():
            calls["n"] += 1
            if calls["n"] == 1:
                head = real_latest(b)
                a.append(spark.range(5, 8))  # a wins the slot b resolved
                return head
            return real_latest(b)

        b.latest_version = stale_once
        try:
            v = b.append(spark.range(8, 10))
        finally:
            del b.latest_version
        assert v == 2  # landed AFTER a's surprise commit
        assert sorted(r["id"] for r in a.read().collect()) == list(range(10))

    def test_mid_rewrite_append_conflicts_overwrite_and_compact(
        self, spark, tmp_path
    ):
        """A commit landing while a snapshot rewrite is staging its files
        must fail that rewrite — committing it would remove the stale
        snapshot's files and silently drop the interleaved rows."""
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import ConcurrentWriteConflict

        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.range(0, 10))

        real_write = type(b)._write_files

        def interleaved(df):
            # instance-level patch: a shares the class and must stay real
            files = real_write(b, df)
            a.append(spark.range(10, 12))  # lands before b's commit
            return files

        b._write_files = interleaved
        try:
            with _pytest.raises(ConcurrentWriteConflict):
                b.overwrite(b.read().withColumn("id", F.col("id") + 500))
        finally:
            del b._write_files
        # a's interleaved append survived
        assert sorted(r["id"] for r in a.read().collect()) == list(range(12))

        def interleaved2(df):
            files = real_write(b, df)
            a.append(spark.range(12, 14))
            return files

        b._write_files = interleaved2
        try:
            with _pytest.raises(ConcurrentWriteConflict):
                b.compact(target_files=1)
        finally:
            del b._write_files
        assert sorted(r["id"] for r in a.read().collect()) == list(range(14))

    # -- schema evolution ----------------------------------------------

    def test_append_schema_drift_refuses_without_merge(self, spark, tmp_path):
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import SchemaEvolutionError

        t = self._table(spark, tmp_path)
        t.append(spark.range(3).select("id"))
        with _pytest.raises(SchemaEvolutionError, match="merge_schema=True"):
            t.append(spark.range(3).select("id", F.lit("x").alias("tag")))
        # refused append left no commit and no visible rows
        assert t.latest_version() == 0
        assert t.read().count() == 3

    def test_merge_schema_null_fills_old_files_and_time_travel(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        t.append(spark.range(0, 3).select("id"))                      # v0
        t.append(
            spark.range(3, 5).select("id", F.lit("new").alias("tag")),
            merge_schema=True,
        )                                                             # v1
        head = t.read()
        assert head.columns == ["id", "tag"]
        got = {(r["id"], r["tag"]) for r in head.collect()}
        assert got == {(0, None), (1, None), (2, None),
                       (3, "new"), (4, "new")}
        # time travel reads the HISTORICAL column set, not the head's
        assert t.read(version=0).columns == ["id"]
        # schema is resolved from the log, not footers
        assert t.schema_at(0).fieldNames() == ["id"]
        assert t.schema_at(1).fieldNames() == ["id", "tag"]

    def test_merge_schema_type_change_refuses(self, spark, tmp_path):
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import SchemaEvolutionError

        t = self._table(spark, tmp_path)
        t.append(spark.range(3).select("id", F.lit(1.5).alias("v")))
        with _pytest.raises(SchemaEvolutionError, match="type change"):
            t.append(
                spark.range(3).select("id", F.lit("s").alias("v")),
                merge_schema=True,
            )

    def test_subset_append_under_merge_keeps_table_schema(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        t.append(spark.range(2).select("id", F.lit("a").alias("tag")))
        t.append(spark.range(2, 4).select("id"), merge_schema=True)
        got = {(r["id"], r["tag"]) for r in t.read().collect()}
        assert got == {(0, "a"), (1, "a"), (2, None), (3, None)}

    def test_column_order_is_not_drift(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.append(spark.range(2).select("id", F.lit("a").alias("tag")))
        t.append(spark.range(2, 3).select(F.lit("b").alias("tag"), "id"))
        assert t.read().columns == ["id", "tag"]
        assert t.read().count() == 3

    def test_compact_and_overwrite_schema_semantics(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        t.append(spark.range(2).select("id"))
        t.append(spark.range(2, 4).select("id", F.lit(7).alias("k")),
                 merge_schema=True)
        t.compact(target_files=1)  # carries the evolved schema forward
        assert t.schema_at().fieldNames() == ["id", "k"]
        assert t.read().count() == 4
        # overwrite REPLACES the schema (Delta overwriteSchema shape)
        t.overwrite(spark.range(9, 11).select(F.col("id").alias("fresh")))
        assert t.read().columns == ["fresh"]

    def test_change_feed_across_evolution_uses_target_schema(
        self, spark, tmp_path
    ):
        t = self._table(spark, tmp_path)
        t.append(spark.range(2).select("id"))                          # v0
        t.append(spark.range(2, 4).select("id", F.lit("n").alias("tag")),
                 merge_schema=True)                                    # v1
        feed = t.changes(0, 1)
        assert set(feed.columns) == {"id", "tag", "_change_type"}
        got = {(r["id"], r["tag"], r["_change_type"]) for r in feed.collect()}
        assert got == {(2, "n", "insert"), (3, "n", "insert")}
        # diff path across the evolution (overwrite forces exceptAll):
        # v0 rows read under the v2 schema NULL-fill tag, so (1, NULL)
        # is in BOTH endpoints and is neither insert nor delete
        t.overwrite(t.read().filter(F.col("id") != 0))                 # v2
        rows = {
            (r["id"], r["tag"], r["_change_type"])
            for r in t.changes(0, 2).collect()
        }
        assert rows == {
            (2, "n", "insert"), (3, "n", "insert"), (0, None, "delete"),
        }

    # -- merge with automatic OCC retry --------------------------------

    def test_merge_bootstrap_update_insert_delete(self, spark, tmp_path):
        t = self._table(spark, tmp_path)
        # bootstrap merge on an empty table: inserts minus deletes
        ups = spark.createDataFrame(
            [(1, "a", False), (2, "b", False), (3, "c", True)],
            "k int, v string, del boolean",
        )
        v = t.merge(ups, ["k"], delete_col="del")
        assert v == 0
        assert {(r["k"], r["v"]) for r in t.read().collect()} == {
            (1, "a"), (2, "b"),
        }
        # second merge: update 1, insert 4, delete 2, carry nothing else
        ups2 = spark.createDataFrame(
            [(1, "A", False), (4, "d", False), (2, None, True)],
            "k int, v string, del boolean",
        )
        t.merge(ups2, ["k"], delete_col="del")
        assert {(r["k"], r["v"]) for r in t.read().collect()} == {
            (1, "A"), (4, "d"),
        }

    def test_merge_auto_retries_conflict_and_serializes(self, spark, tmp_path):
        """An append landing mid-merge conflicts the first commit; the
        automatic retry recomputes against the new snapshot, so BOTH
        effects survive."""
        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.createDataFrame([(1, "x"), (2, "y")], "k int, v string"))

        real_write = type(b)._write_files
        fired = {"n": 0}

        def interleave_once(df):
            files = real_write(b, df)
            if fired["n"] == 0:
                fired["n"] += 1
                a.append(spark.createDataFrame([(9, "z")], "k int, v string"))
            return files

        b._write_files = interleave_once
        try:
            b.merge(
                spark.createDataFrame([(2, "Y2")], "k int, v string"), ["k"]
            )
        finally:
            del b._write_files
        got = {(r["k"], r["v"]) for r in a.read().collect()}
        # a's interleaved row AND b's update both present
        assert got == {(1, "x"), (2, "Y2"), (9, "z")}

    def test_merge_bounded_retries_raise(self, spark, tmp_path):
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import ConcurrentWriteConflict

        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.createDataFrame([(1, "x")], "k int, v string"))
        real_write = type(b)._write_files
        n = {"i": 0}

        def always_interleave(df):
            files = real_write(b, df)
            n["i"] += 1
            a.append(spark.createDataFrame([(100 + n["i"], "w")],
                                           "k int, v string"))
            return files

        b._write_files = always_interleave
        try:
            with _pytest.raises(ConcurrentWriteConflict, match="2 times"):
                b.merge(spark.createDataFrame([(1, "X")], "k int, v string"),
                        ["k"], max_retries=2)
        finally:
            del b._write_files
        # every interleaved append survived; b's merge never landed
        assert {r["v"] for r in a.read().collect()} == {"x", "w"}

    # -- merge rewrites only the files that can hold an update key ----

    def _keyed_appends(self, spark, t, ddl, groups):
        """One single-file append per group, so each file's key
        envelope is exactly its group's span."""
        for rows in groups:
            t.append(spark.createDataFrame(rows, ddl).coalesce(1))
        return [v.added for v in t.versions()]

    def test_merge_rewrites_exactly_the_overlapping_files(self, spark, tmp_path):
        from etl_batch_spark.operators.merge import merge_dataframes

        t = self._table(spark, tmp_path)
        added = self._keyed_appends(spark, t, "k int, v string", [
            [(k, "old") for k in range(lo, lo + 5)] for lo in (0, 10, 20, 30)
        ])
        ups = spark.createDataFrame(
            [(12, "new", False), (21, None, True), (25, "ins", False)],
            "k int, v string, del boolean",
        )
        expected = sorted(map(tuple, merge_dataframes(
            t.read(), ups, ["k"], delete_col="del").collect()))
        v = t.merge(ups, ["k"], delete_col="del")
        entry = t.versions()[v]
        # bounds [12, 25]: only the [10, 14] and [20, 24] files overlap
        assert entry.action == "merge"
        assert sorted(entry.removed) == sorted(added[1] + added[2])
        assert sorted(map(tuple, t.read().collect())) == expected
        assert entry.n_rows == t._scan(entry.added, None).count()  # noqa: SLF001

    def test_merge_bounds_aggregate_runs_only_where_it_could_prune(
        self, spark, tmp_path
    ):
        """The bounds aggregate re-runs the updates' plan, so a target
        with fewer than two enveloped files (nothing to prune) skips it;
        with two it runs once and prunes."""
        def counted(df, calls):
            real = df.agg
            df.agg = lambda *cols: calls.append(cols) or real(*cols)
            return df

        one = self._table(spark, tmp_path / "one")
        one.append(spark.createDataFrame([(0, "x"), (9, "x")], "k int, v string")
                   .coalesce(1))
        calls: list = []
        one.merge(counted(spark.createDataFrame([(9, "U")], "k int, v string"),
                          calls), ["k"])
        assert calls == []
        assert sorted(map(tuple, one.read().collect())) == [(0, "x"), (9, "U")]

        two = self._table(spark, tmp_path / "two")
        added = self._keyed_appends(spark, two, "k int, v string",
                                    [[(0, "x")], [(9, "x")]])
        v = two.merge(counted(spark.createDataFrame([(9, "U")], "k int, v string"),
                              calls), ["k"])
        assert len(calls) == 1
        assert two.versions()[v].removed == added[1]
        assert sorted(map(tuple, two.read().collect())) == [(0, "x"), (9, "U")]

    def test_merge_crash_at_commit_keeps_head_and_rerun_converges(
        self, spark, tmp_path, monkeypatch
    ):
        import pytest as _pytest

        from etl_batch_spark.sources import txlog

        groups = [[(0, "a"), (1, "a")], [(10, "b"), (11, "b")]]
        ups = spark.createDataFrame([(1, "A"), (2, "new")], "k int, v string")
        ref = txlog.TxTable(spark, str(tmp_path / "ref"))
        self._keyed_appends(spark, ref, "k int, v string", groups)
        ref.merge(ups, ["k"])
        fault_free = sorted(map(tuple, ref.read().collect()))

        t = self._table(spark, tmp_path)
        self._keyed_appends(spark, t, "k int, v string", groups)
        head = t.latest_version()
        rows = sorted(map(tuple, t.read().collect()))

        def boom(src, dst):
            raise OSError("simulated crash at commit")
        monkeypatch.setattr(txlog.os, "link", boom)
        with _pytest.raises(OSError, match="simulated crash"):
            t.merge(ups, ["k"])
        monkeypatch.undo()
        assert t.latest_version() == head
        assert sorted(map(tuple, t.read().collect())) == rows
        committed = {f.split("/", 1)[0] for v in t.versions() for f in v.added}
        assert self._data_subdirs(t) == committed  # staging reclaimed
        t.merge(ups, ["k"])
        assert sorted(map(tuple, t.read().collect())) == fault_free

    def test_merge_retry_recomputes_files_an_append_landed_in_bounds(
        self, spark, tmp_path
    ):
        """The first attempt read the snapshot before an append landed
        k=5 inside the updates' bounds [1, 5]; the retry must rewrite
        that file too, so k=5 is updated once, not inserted beside it."""
        a, b = self._two_writers(spark, tmp_path)
        added = self._keyed_appends(spark, a, "k int, v string",
                                    [[(0, "x"), (1, "x")], [(20, "x")]])
        real_write = type(b)._write_files
        fired = {"n": 0}

        def interleave_once(df):
            files = real_write(b, df)
            if fired["n"] == 0:
                fired["n"] += 1
                a.append(spark.createDataFrame([(5, "late")], "k int, v string"))
            return files

        b._write_files = interleave_once
        try:
            v = b.merge(spark.createDataFrame(
                [(1, "U"), (5, "U")], "k int, v string"), ["k"])
        finally:
            del b._write_files
        assert fired["n"] == 1 and v == 3
        assert sorted(map(tuple, a.read().collect())) == [
            (0, "x"), (1, "U"), (5, "U"), (20, "x"),
        ]
        assert added[1][0] in a._snapshot()[0]  # noqa: SLF001

    def test_merge_on_timestamp_and_double_keys_reads_every_file(
        self, spark, tmp_path
    ):
        import datetime as _dt

        from etl_batch_spark.operators.merge import merge_dataframes
        from etl_batch_spark.sources.txlog import TxTable

        day = _dt.datetime(2024, 1, 1)
        cases = {
            "ts": ("k timestamp, v string",
                   [[(day, "a")], [(day + _dt.timedelta(days=30), "b")]],
                   [(day, "A")]),
            "dbl": ("k double, v string",
                    [[(0.5, "a"), (1.5, "a")], [(10.5, "b")]],
                    [(1.5, "A"), (2.5, "new")]),
        }
        for name, (ddl, groups, up_rows) in cases.items():
            t = TxTable(spark, str(tmp_path / name))
            self._keyed_appends(spark, t, ddl, groups)
            ups = spark.createDataFrame(up_rows, ddl)
            expected = sorted(map(tuple, merge_dataframes(
                t.read(), ups, ["k"]).collect()))
            live = t._snapshot()[0]  # noqa: SLF001
            v = t.merge(ups, ["k"])
            assert sorted(t.versions()[v].removed) == live, name
            assert sorted(map(tuple, t.read().collect())) == expected, name

    # -- schema OCC + orphan reclamation (round 9) ---------------------

    def test_concurrent_schema_evolution_is_not_lost(self, spark, tmp_path):
        """A commit evolving the schema while another append is staging
        must NOT be regressed by that append: the late commit's slot is
        pinned to the head its schema was resolved against, so it
        conflicts, retries, and re-resolves — landing with the union
        schema instead of silently dropping the evolved column from all
        subsequent reads (a lost update on schema metadata)."""
        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.range(2).select("id"))                          # v0

        real_write = type(b)._write_files
        fired = {"n": 0}

        def evolve_mid_staging(df):
            files = real_write(b, df)
            if fired["n"] == 0:
                fired["n"] += 1
                a.append(
                    spark.range(2, 4).select("id", F.lit("t").alias("tag")),
                    merge_schema=True,
                )                                                      # v1
            return files

        b._write_files = evolve_mid_staging
        try:
            v = b.append(spark.range(4, 6).select("id"), merge_schema=True)
        finally:
            del b._write_files
        assert v == 2  # landed AFTER the evolution, not over it
        # the evolved column survived b's commit...
        assert a.schema_at().fieldNames() == ["id", "tag"]
        got = {(r["id"], r["tag"]) for r in a.read().collect()}
        assert got == {(0, None), (1, None), (2, "t"), (3, "t"),
                       (4, None), (5, None)}
        # ...and the historical schema sequence is monotone
        assert a.schema_at(1).fieldNames() == ["id", "tag"]
        assert a.schema_at(2).fieldNames() == ["id", "tag"]

    def _data_subdirs(self, t):
        import os as _os

        return {
            n for n in _os.listdir(t.path)
            if n.startswith("data-") and _os.path.isdir(
                _os.path.join(t.path, n))
        }

    def test_failed_commits_reclaim_staged_files(self, spark, tmp_path):
        """Staged parquet from a commit that never lands is referenced
        by no log entry; the failure path must delete it (vacuum's
        version walk cannot see it)."""
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import (
            ConcurrentWriteConflict, SchemaEvolutionError,
        )

        a, b = self._two_writers(spark, tmp_path)
        a.append(spark.range(0, 5))

        committed = {f.split("/", 1)[0] for v in a.versions() for f in v.added}
        assert self._data_subdirs(a) == committed

        # conflicted overwrite: staged rewrite reclaimed
        real_write = type(b)._write_files

        def interleave(df):
            files = real_write(b, df)
            a.append(spark.range(5, 7))
            return files

        b._write_files = interleave
        try:
            with _pytest.raises(ConcurrentWriteConflict):
                b.overwrite(b.read().withColumn("id", F.col("id") + 9))
        finally:
            del b._write_files
        committed = {f.split("/", 1)[0] for v in a.versions() for f in v.added}
        assert self._data_subdirs(a) == committed

        # schema refusal on retry re-resolution: staged append reclaimed
        def evolve(df):
            files = real_write(b, df)
            a.append(spark.range(7, 8).select(
                "id", F.lit("t").alias("tag")), merge_schema=True)
            return files

        b._write_files = evolve
        try:
            with _pytest.raises(SchemaEvolutionError):
                # merge_schema=False: fine at staging time, refused on
                # re-resolution after the conflict
                b.append(spark.range(8, 9).select("id"))
        finally:
            del b._write_files
        committed = {f.split("/", 1)[0] for v in a.versions() for f in v.added}
        assert self._data_subdirs(a) == committed
        # the table itself is intact throughout
        assert sorted(r["id"] for r in a.read().collect()) == list(range(8))

    def test_vacuum_sweeps_aged_orphans_only(self, spark, tmp_path):
        """vacuum() reclaims staging dirs no log entry references —
        a crashed writer's leftovers — but only past the age guard
        (a younger dir may belong to a writer between staging and
        commit)."""
        import os as _os

        t = self._table(spark, tmp_path)
        t.append(spark.range(0, 5))
        # simulate a writer killed between staging and commit
        orphan = _os.path.join(t.path, "data-deadbeef")
        spark.range(99).write.mode("overwrite").parquet(orphan)
        assert "data-deadbeef" in self._data_subdirs(t)
        # younger than the guard: untouched
        assert t.vacuum(retain_versions=1) == []
        assert "data-deadbeef" in self._data_subdirs(t)
        # past the guard: swept, and reported
        removed = t.vacuum(retain_versions=1, orphan_age_seconds=0.0)
        assert removed and all(f.startswith("data-deadbeef/") for f in removed)
        assert "data-deadbeef" not in self._data_subdirs(t)
        assert t.read().count() == 5  # committed data untouched

    def test_change_feed_past_vacuum_horizon_refuses_cleanly(
        self, spark, tmp_path
    ):
        """A change feed whose range references vacuumed files must
        raise the retention-horizon ValueError up front — not a
        scan-time path-not-found deep inside the reader — on BOTH the
        all-append fast path and the snapshot-diff path."""
        import pytest as _pytest

        t = self._table(spark, tmp_path)
        t.append(spark.range(0, 10))           # v0
        t.append(spark.range(10, 15))          # v1
        t.compact(target_files=1)              # v2
        t.vacuum(retain_versions=1)            # v0/v1 files gone
        with _pytest.raises(ValueError, match="vacuum"):
            t.changes(0, 1).collect()          # fast path
        t.overwrite(spark.range(20, 25))       # v3
        assert t.changes(2, 3).count() > 0     # in-horizon diff works...
        t.vacuum(retain_versions=1)            # ...then v2 files go
        with _pytest.raises(ValueError, match="vacuum"):
            t.changes(2, 3).collect()          # diff path refuses
        # the current snapshot alone is always readable
        assert t.changes(3, 3).count() == 0

    # -- log checkpointing (round 9) -----------------------------------

    def test_checkpoints_written_and_reads_identical(self, spark, tmp_path):
        """Every Nth commit writes a checkpoint; snapshot resolution
        through checkpoints must be bit-identical to the raw full-log
        fold at EVERY version — and keep working if a checkpoint file
        is deleted (checkpoints are derived data, the entry log is
        authoritative)."""
        import os as _os

        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"), checkpoint_interval=4)
        for lo in range(0, 110, 10):
            t.append(spark.range(lo, lo + 10))                 # v0..v10
        cks = sorted(
            n for n in _os.listdir(t.log_dir) if n.endswith(".checkpoint.json")
        )
        assert cks == ["00000004.checkpoint.json", "00000008.checkpoint.json"]
        raw = t.versions()  # authoritative full log
        for v in (0, 3, 4, 5, 8, 10, None):
            fast_files, fast_schema, _ = t._snapshot(v)  # noqa: SLF001
            assert fast_files == t._active_files(v, versions=raw)  # noqa: SLF001
            assert fast_schema == t.schema_at(v, versions=raw)
        assert t.read().count() == 110
        assert t.read(version=4).count() == 50  # time travel via ckpt
        # deleting a checkpoint only removes the acceleration
        _os.remove(_os.path.join(t.log_dir, "00000008.checkpoint.json"))
        assert t.read(version=8).count() == 90
        assert sorted(r["id"] for r in t.read().collect()) == list(range(110))

    def test_checkpoint_carries_schema_and_meta(self, spark, tmp_path):
        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"), checkpoint_interval=2)
        t.append(spark.range(2).select("id"))                        # v0
        t.append(
            spark.range(2, 4).select("id", F.lit("x").alias("tag")),
            merge_schema=True,
        )                                                            # v1
        t.append(spark.range(4, 6).select("id"), merge_schema=True,
                 meta={"batch": 7})                                  # v2 → ckpt
        # a fresh handle resolving THROUGH the checkpoint sees the
        # evolved schema and the commit meta
        t2 = TxTable(spark, str(tmp_path / "tx"), checkpoint_interval=2)
        assert t2.schema_at().fieldNames() == ["id", "tag"]
        assert t2.latest_meta() == {"batch": 7}
        assert t2.read(version=0).columns == ["id"]  # history intact

    def test_occ_interleave_across_checkpoint_boundary(self, spark, tmp_path):
        """The OCC guarantees must hold unchanged when the conflict
        straddles a checkpoint write: a commit landing mid-rewrite
        still fails the stale rewrite, and the retry composes."""
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import (
            ConcurrentWriteConflict, TxTable,
        )

        path = str(tmp_path / "tx")
        a = TxTable(spark, path, checkpoint_interval=2)
        b = TxTable(spark, path, checkpoint_interval=2)
        a.append(spark.range(0, 5))   # v0
        a.append(spark.range(5, 8))   # v1

        real_write = type(b)._write_files

        def interleaved(df):
            files = real_write(b, df)
            a.append(spark.range(8, 10))  # v2 → writes the checkpoint
            return files

        b._write_files = interleaved
        try:
            with _pytest.raises(ConcurrentWriteConflict):
                b.overwrite(b.read().withColumn("id", F.col("id") + 100))
        finally:
            del b._write_files
        # a's interleaved commit (and its checkpoint) survived
        assert sorted(r["id"] for r in b.read().collect()) == list(range(10))
        # retry from the fresh snapshot lands ON the checkpointed head
        b.overwrite(b.read().withColumn("id", F.col("id") + 100),
                    read_version=b.latest_version())
        assert sorted(r["id"] for r in a.read().collect()) == list(
            range(100, 110)
        )

    def test_change_feed_across_checkpoint_boundary(self, spark, tmp_path):
        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"), checkpoint_interval=2)
        t.append(spark.range(0, 5))         # v0
        t.append(spark.range(5, 8))         # v1
        t.append(spark.range(8, 12))        # v2 → checkpoint
        t.overwrite(spark.range(10, 15))    # v3
        # fast path spanning the checkpointed version
        feed = t.changes(0, 2)
        assert sorted(r["id"] for r in feed.collect()) == list(range(5, 12))
        # diff path anchored BEFORE the checkpoint: before = v1 {0..7},
        # after = v3 {10..14}
        got = {(r["id"], r["_change_type"]) for r in t.changes(1, 3).collect()}
        assert got == (
            {(i, "delete") for i in range(0, 8)}
            | {(i, "insert") for i in range(10, 15)}
        )

    def test_vacuum_time_travel_refusal_with_checkpoints(self, spark, tmp_path):
        import pytest as _pytest

        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"), checkpoint_interval=2)
        for lo in range(0, 40, 10):
            t.append(spark.range(lo, lo + 10))  # v0..v3 (ckpt at v2)
        t.compact(target_files=1)               # v4 → checkpoint
        t.vacuum(retain_versions=1)
        # the checkpoint at v2 references vacuumed files: the refusal
        # must stay clean, not become a scan-time path-not-found
        with _pytest.raises(ValueError, match="vacuum"):
            t.read(version=2)
        assert t.read().count() == 40

    # -- data skipping from log statistics (round 9) -------------------

    def _clustered_table(self, spark, tmp_path, interval=3):
        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"), checkpoint_interval=interval)
        for lo in range(0, 100, 20):
            df = spark.range(lo, lo + 20).select(
                F.col("id").alias("k"),
                (F.col("id") * 2).cast("double").alias("v"),
                F.concat(
                    F.lit("s"),
                    F.lpad(F.col("id").cast("string"), 4, "0"),
                ).alias("s"),
            )
            t.append(df.repartitionByRange(2, "k").sortWithinPartitions("k"))
        return t

    def test_read_where_prunes_files_and_matches_filter(self, spark, tmp_path):
        t = self._clustered_table(spark, tmp_path)
        total = len(t._snapshot()[0])  # noqa: SLF001
        pruned = t.read_where(k=(30, 45))
        full = t.read().filter((F.col("k") >= 30) & (F.col("k") <= 45))
        assert sorted(r["k"] for r in pruned.collect()) == sorted(
            r["k"] for r in full.collect()
        )
        # the point: metadata alone dropped most of the scan
        assert 0 < len(pruned.inputFiles()) < total
        # string envelopes prune too
        ps = t.read_where(s=("s0010", "s0019"))
        assert ps.count() == 10 and len(ps.inputFiles()) < total
        # open-ended bound
        assert t.read_where(k=(90, None)).count() == 10
        # multi-column conjunction
        got = sorted(r["k"] for r in t.read_where(k=(0, 9), v=(10.0, 12.0)).collect())
        assert got == [5, 6]

    def test_read_where_all_pruned_and_no_stats_paths(self, spark, tmp_path):
        import json as _json
        import os as _os

        t = self._clustered_table(spark, tmp_path)
        # disjoint range: zero files scanned, typed empty result
        empty = t.read_where(k=(10_000, 20_000))
        assert empty.count() == 0
        assert empty.columns == t.read().columns
        # strip the stats from every log entry + checkpoint (pre-round-9
        # table shape): pruning degrades to reading everything — same
        # rows, no skips, no crash
        for name in _os.listdir(t.log_dir):
            p = _os.path.join(t.log_dir, name)
            with open(p) as f:
                e = _json.load(f)
            e["stats"] = None if name.endswith(".json") and "checkpoint" not in name else e.get("stats")
            if "checkpoint" in name:
                e["stats"] = {}
            with open(p, "w") as f:
                _json.dump(e, f)
        legacy = t.read_where(k=(30, 45))
        assert legacy.count() == 16
        assert len(legacy.inputFiles()) == len(t._snapshot()[0])  # noqa: SLF001

    def test_read_where_stats_survive_checkpoint_and_compact(
        self, spark, tmp_path
    ):
        t = self._clustered_table(spark, tmp_path, interval=2)
        # resolution through a checkpoint carries the envelopes
        _, _, stats = t._snapshot()  # noqa: SLF001
        assert stats and all("k" in s for s in stats.values())
        # compaction re-harvests envelopes for the rewritten files
        t.compact(target_files=4, zorder_cols=["k"])
        pruned = t.read_where(k=(30, 45))
        assert sorted(r["k"] for r in pruned.collect()) == list(range(30, 46))
        assert len(pruned.inputFiles()) < 4
        # time travel prunes with the HISTORICAL snapshot's stats
        old = t.read_where(version=2, k=(0, 9))
        assert old.count() == 10

    def test_read_where_null_rows_consistent(self, spark, tmp_path):
        """Rows with NULL in the range column never satisfy the
        predicate, so a file skipped on its non-NULL envelope agrees
        with the residual filter."""
        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"))
        t.append(spark.createDataFrame(
            [(1, 10.0), (2, None), (3, 30.0)], "k long, v double"))
        t.append(spark.createDataFrame(
            [(4, None), (5, None)], "k long, v double"))  # all-NULL v
        got = sorted(r["k"] for r in t.read_where(v=(5.0, 15.0)).collect())
        assert got == [1]

    def test_stats_nested_schema_not_misattributed(self, spark, tmp_path):
        """Parquet footers are per LEAF column: a struct column explodes
        into one chunk per field, so positional indexing would attribute
        a nested field's envelope to the next top-level name and prune
        on the wrong column.  Stats must key by path_in_schema, skip
        nested columns, and keep pruning sound for the flat ones."""
        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"))
        df = spark.range(0, 40).select(
            F.col("id").alias("a"),
            F.struct(
                (F.col("id") % 3).alias("x"), (F.col("id") % 5).alias("y")
            ).alias("b"),
            (F.col("id") + 1000).alias("c"),
        )
        t.append(df.repartitionByRange(4, "c").sortWithinPartitions("c"))
        _, _, stats = t._snapshot()  # noqa: SLF001
        for env in stats.values():
            assert "b" not in env           # nested: never statted
            assert env["c"][0] >= 1000      # c's envelope is C's values
        got = sorted(
            r["c"] for r in t.read_where(c=(1015, 1020)).collect()
        )
        assert got == list(range(1015, 1021))
        assert len(t.read_where(c=(1015, 1020)).inputFiles()) < 4

    def test_read_where_mixed_date_timestamp_bounds(self, spark, tmp_path):
        """Dates and timestamps normalize onto ONE scale (epoch
        micros), so a date bound on a timestamp column — and a
        datetime bound on a date column — prunes correctly instead of
        silently emptying the result."""
        import datetime as _dt

        from etl_batch_spark.sources.txlog import TxTable

        t = TxTable(spark, str(tmp_path / "tx"))
        df = spark.range(0, 40).select(
            F.col("id").alias("k"),
            F.date_add(F.lit("2024-01-01").cast("date"),
                       F.col("id").cast("int")).alias("d"),
            (F.lit("2024-01-01 00:00:00").cast("timestamp")
             + F.make_interval(days=F.col("id").cast("int"))).alias("ts"),
        )
        t.append(df.repartitionByRange(4, "k").sortWithinPartitions("k"))
        # datetime bounds on a DATE column
        got = t.read_where(
            d=(_dt.datetime(2024, 1, 11), _dt.datetime(2024, 1, 20))
        )
        assert got.count() == 10 and len(got.inputFiles()) < 4
        # date bounds on a TIMESTAMP column
        got2 = t.read_where(
            ts=(_dt.date(2024, 1, 11), _dt.date(2024, 1, 20))
        )
        assert got2.count() == 10 and len(got2.inputFiles()) < 4

    def test_read_where_past_vacuum_horizon_refuses_cleanly(
        self, spark, tmp_path
    ):
        """read_where(version=) must honor the same retention-horizon
        contract as read(version=): clean refusal, not a scan-time
        path-not-found."""
        import pytest as _pytest

        t = self._clustered_table(spark, tmp_path)
        t.compact(target_files=2)
        t.vacuum(retain_versions=1)
        with _pytest.raises(ValueError, match="vacuum"):
            t.read_where(version=1, k=(0, 50)).collect()
        # the current snapshot still prunes fine
        assert t.read_where(k=(0, 9)).count() == 10

    # -- whole-file review findings (round 9, second pass) -------------

    def test_nonexistent_version_raises(self, spark, tmp_path):
        """Time travel to a version past the head must raise, not
        silently return current data labeled historical."""
        import pytest as _pytest

        t = self._table(spark, tmp_path)
        t.append(spark.range(3))  # head = v0
        for bad in (1, 99):
            with _pytest.raises(ValueError, match="does not exist"):
                t.read(version=bad)
            with _pytest.raises(ValueError, match="does not exist"):
                t.schema_at(version=bad)
        with _pytest.raises(ValueError, match="does not exist"):
            t.changes(0, 5)
        with _pytest.raises(ValueError, match="does not exist"):
            t.read_where(version=7, id=(0, 1))
        with _pytest.raises(ValueError, match="does not exist"):
            t.read(version=-2)
        assert t.read(version=0).count() == 3  # valid version still fine

    def test_emptied_table_stays_operational(self, spark, tmp_path):
        """A merge that deletes every row leaves a VALID empty
        snapshot: reads return a typed empty frame from the log
        schema, and subsequent merge/compact keep working instead of
        bricking until a non-empty overwrite."""
        t = self._table(spark, tmp_path)
        rows = spark.createDataFrame(
            [(1, "a", False), (2, "b", False)], "k int, v string, del boolean"
        )
        t.merge(rows, ["k"], delete_col="del")          # v0: 2 rows
        wipe = spark.createDataFrame(
            [(1, None, True), (2, None, True)], "k int, v string, del boolean"
        )
        t.merge(wipe, ["k"], delete_col="del")          # v1: empty
        empty = t.read()
        assert empty.count() == 0 and empty.columns == ["k", "v"]
        assert t.read_where(k=(0, 10)).count() == 0
        # the table is still writable through every path
        t.compact(target_files=1)                       # v2: empty no-op
        t.merge(spark.createDataFrame(
            [(9, "z", False)], "k int, v string, del boolean"
        ), ["k"], delete_col="del")                     # v3: repopulated
        assert {(r["k"], r["v"]) for r in t.read().collect()} == {(9, "z")}

    def test_bootstrap_feed_survives_vacuumed_probe_file(self, spark, tmp_path):
        """changes(-1) over a table whose every data file was emptied
        out and vacuumed must type the empty feed from the LOG schema,
        not crash probing a deleted file."""
        t = self._table(spark, tmp_path)
        t.append(spark.range(3).select(F.col("id").alias("k")))   # v0
        t.overwrite(
            spark.createDataFrame([], "k bigint"),
            read_version=t.latest_version(),
        )                                                         # v1 empty
        t.vacuum(retain_versions=1)  # v0's file physically gone
        feed = t.changes(-1)
        assert feed.count() == 0
        assert set(feed.columns) == {"k", "_change_type"}

    def test_unserializable_meta_fails_fast_without_staging(
        self, spark, tmp_path
    ):
        import datetime as _dt

        import pytest as _pytest

        t = self._table(spark, tmp_path)
        with _pytest.raises(TypeError, match="JSON-serializable"):
            t.append(spark.range(3), meta={"ts": _dt.datetime.now()})
        # failed BEFORE staging: no data dirs, no log entries, no tmp
        import os as _os

        assert self._data_subdirs(t) == set()
        assert t.latest_version() == -1
        assert not [n for n in _os.listdir(t.log_dir) if n.startswith(".tmp")]
        # overwrite path fails fast too
        t.append(spark.range(2))
        with _pytest.raises(TypeError, match="JSON-serializable"):
            t.overwrite(spark.range(5), meta={"d": _dt.date.today()})
        committed = {f.split("/", 1)[0] for v in t.versions() for f in v.added}
        assert self._data_subdirs(t) == committed
