"""Versioned-table Spark DataSources (sources/lakesource.py):
batch scan parity with versioned_read (DVs, renames, evolution, time
travel), manifest file pruning through pushFilters, and the streaming
change-feed source's exactly-once version offsets."""

from __future__ import annotations

import os

import pytest

from skopje_spark.sinks.versioned import (
    versioned_append,
    versioned_compact,
    versioned_delete,
    versioned_read,
    versioned_rename_column,
    versioned_upsert,
    versioned_write,
)
from skopje_spark.sources.pysource import register_all


@pytest.fixture()
def lake(spark, tmp_path):
    register_all(spark)
    return str(tmp_path)


def _mk_table(spark, path, n=40, files=4):
    df = spark.createDataFrame(
        [(i, f"r{i}", float(i)) for i in range(n)],
        "k long, v string, x double",
    )
    versioned_write(
        df.repartitionByRange(files, "k").sortWithinPartitions("k"), path
    )
    return df


def test_batch_source_full_lifecycle_parity(spark, lake):
    """The connector's rows are identical to versioned_read across the
    whole feature surface: deletion vectors, rename-without-rewrite,
    additive evolution, and version/timestamp time travel."""
    path = os.path.join(lake, "t")
    _mk_table(spark, path)
    versioned_delete(spark, path, "k = 7")
    versioned_rename_column(path, "x", "score")
    upd = spark.createDataFrame(
        [(3, "NEW", 9.9, "extra"), (100, "ins", 1.0, "e2")],
        "k long, v string, score double, tag string",
    )
    versioned_upsert(spark, path, upd, ["k"], evolve_schema=True)

    r = spark.read.format("skopje_versioned").option("path", path).load()
    assert r.columns == ["k", "v", "score", "tag"]
    got = {t["k"]: (t["v"], t["score"], t["tag"]) for t in r.collect()}
    exp = {
        t["k"]: (t["v"], t["score"], t["tag"])
        for t in versioned_read(spark, path).collect()
    }
    assert got == exp
    assert 7 not in got and got[3] == ("NEW", 9.9, "extra")

    # version time travel serves the as-committed logical schema
    v0 = (
        spark.read.format("skopje_versioned")
        .option("path", path).option("versionAsOf", "0").load()
    )
    assert v0.columns == ["k", "v", "x"] and v0.count() == 40


def test_batch_source_prunes_files_via_pushdown(spark, lake):
    """pushFilters turns comparison predicates into manifest pruning:
    a narrow range plans a fraction of the file partitions, and the
    result is still exact because every filter is re-applied."""
    from pyspark.sql.datasource import EqualTo, GreaterThanOrEqual, LessThanOrEqual

    from skopje_spark.sources.lakesource import VersionedTableReader

    path = os.path.join(lake, "t")
    _mk_table(spark, path, n=80, files=8)

    rd = VersionedTableReader({"path": path})
    assert len(rd.partitions()) == 8
    residual = list(
        rd.pushFilters(
            [GreaterThanOrEqual(("k",), 70), LessThanOrEqual(("k",), 75)]
        )
    )
    assert len(residual) == 2  # every filter handed back for re-application
    assert len(rd.partitions()) == 1

    rd2 = VersionedTableReader({"path": path})
    list(rd2.pushFilters([EqualTo(("k",), 5)]))
    assert len(rd2.partitions()) == 1

    # end to end: rows exact under the pruned plan
    got = (
        spark.read.format("skopje_versioned").option("path", path).load()
        .filter("k >= 70 and k <= 75")
    )
    assert sorted(r["k"] for r in got.collect()) == list(range(70, 76))


def test_batch_source_pruning_keys_physical_name_after_rename(spark, lake):
    """Footer stats stay keyed by the physical name: pruning on the
    RENAMED key column still skips files."""
    from pyspark.sql.datasource import EqualTo

    from skopje_spark.sources.lakesource import VersionedTableReader

    path = os.path.join(lake, "t")
    _mk_table(spark, path, n=80, files=8)
    versioned_rename_column(path, "k", "key_id")
    rd = VersionedTableReader({"path": path})
    list(rd.pushFilters([EqualTo(("key_id",), 5)]))
    assert len(rd.partitions()) == 1
    got = (
        spark.read.format("skopje_versioned").option("path", path).load()
        .filter("key_id = 5")
    )
    assert [r["key_id"] for r in got.collect()] == [5]


def test_changes_stream_serves_snapshot_then_commits(spark, lake, tmp_path):
    """availableNow run over a table with snapshot + CDF commits +
    a zero-change compaction: every logical change served once, with
    commit versions; a restart from the same checkpoint serves ONLY
    commits landed since (exactly-once offsets)."""
    path = os.path.join(lake, "t")
    out = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    df = spark.createDataFrame([(i, f"r{i}") for i in range(6)], "k long, v string")
    versioned_write(df.coalesce(2), path)                               # v0
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(3, "U3"), (20, "I20")], "k long, v string"),
        ["k"], change_feed=True,
    )                                                                   # v1
    versioned_compact(spark, path, target_files=1)                      # v2
    versioned_delete(spark, path, "k = 5", change_feed=True)            # v3

    def run():
        q = (
            spark.readStream.format("skopje_versioned_changes")
            .option("path", path).load()
            .writeStream.format("parquet").option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    run()
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["v"])
        for r in spark.read.parquet(out).collect()
    )
    assert rows == sorted(
        [(0, "insert", i, f"r{i}") for i in range(6)]
        + [
            (1, "update_preimage", 3, "r3"),
            (1, "update_postimage", 3, "U3"),
            (1, "insert", 20, "I20"),
            (3, "delete", 5, "r5"),
        ]
    )
    # restart: only the commit landed since is served, no replays
    versioned_append(
        spark, path,
        spark.createDataFrame([(30, "A30")], "k long, v string"),
        change_feed=True,
    )                                                                   # v4
    run()
    g = spark.read.parquet(out)
    assert g.count() == 11 and g.distinct().count() == 11
    new = g.filter("_commit_version = 4").collect()
    assert [(r["_change_type"], r["k"]) for r in new] == [("insert", 30)]


def test_changes_stream_refuses_unrecorded_data_commit(spark, lake, tmp_path):
    """A data commit without change_feed=True fails the stream loudly
    by default; allowUnrecorded=true downgrades it to a skip."""
    path = os.path.join(lake, "t")
    df = spark.createDataFrame([(1, "a")], "k long, v string")
    versioned_write(df, path)                                           # v0
    versioned_upsert(
        spark, path, spark.createDataFrame([(2, "b")], "k long, v string"),
        ["k"],  # no change_feed
    )                                                                   # v1

    def run(tag, extra):
        q = (
            spark.readStream.format("skopje_versioned_changes")
            .option("path", path).options(**extra).load()
            .writeStream.format("parquet")
            .option("path", str(tmp_path / f"out{tag}"))
            .option("checkpointLocation", str(tmp_path / f"ck{tag}"))
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    from pyspark.errors import StreamingQueryException

    with pytest.raises(StreamingQueryException, match="no.*recorded change feed|recorded change feed"):
        run("a", {})
    run("b", {"allowUnrecorded": "true"})
    served = spark.read.parquet(str(tmp_path / "outb"))
    assert [r["k"] for r in served.collect()] == [1]  # v1 skipped


def test_changes_stream_starting_version_without_snapshot(spark, lake, tmp_path):
    """startingVersion + initialSnapshot=false serves CHANGES only,
    from the requested commit onward."""
    path = os.path.join(lake, "t")
    versioned_write(
        spark.createDataFrame([(1, "a")], "k long, v string"), path
    )                                                                   # v0
    versioned_upsert(
        spark, path, spark.createDataFrame([(2, "b")], "k long, v string"),
        ["k"], change_feed=True,
    )                                                                   # v1
    q = (
        spark.readStream.format("skopje_versioned_changes")
        .option("path", path)
        .option("startingVersion", "1")
        .option("initialSnapshot", "false")
        .load()
        .writeStream.format("parquet").option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(str(tmp_path / "out")).collect()
    assert [(r["_commit_version"], r["_change_type"], r["k"]) for r in rows] == [
        (1, "insert", 2)
    ]


def test_writer_create_append_overwrite_history(spark, lake):
    """df.write.format("skopje_versioned"): create commits v0, append
    commits O(batch), overwrite is a COMMIT (history retained), and a
    schema-drifted append is refused (evolution stays explicit)."""
    from skopje_spark.sinks.versioned import latest_version, snapshot_meta

    path = os.path.join(lake, "w")
    df = spark.createDataFrame([(i, f"r{i}") for i in range(20)], "k long, v string")
    df.write.format("skopje_versioned").option("path", path).mode("append").save()
    assert latest_version(path) == 0
    spark.createDataFrame([(100, "x")], "k long, v string").write.format(
        "skopje_versioned"
    ).option("path", path).mode("append").save()
    assert versioned_read(spark, path).count() == 21
    assert snapshot_meta(path, "op", version=1) == "append"
    assert snapshot_meta(path, "n_files_rewritten", version=1) == "0"
    spark.createDataFrame([(1, "only")], "k long, v string").write.format(
        "skopje_versioned"
    ).option("path", path).mode("overwrite").save()
    assert versioned_read(spark, path).count() == 1
    assert versioned_read(spark, path, version=1).count() == 21  # time travel
    with pytest.raises(Exception, match="differs from table schema"):
        spark.createDataFrame([(1,)], "k long").write.format(
            "skopje_versioned"
        ).option("path", path).mode("append").save()


def test_writer_respects_rename_and_constraints(spark, lake):
    """Connector appends after a rename write PHYSICAL column names
    (old and new files co-serve), and a CHECK violation publishes
    nothing — the staged pool files stay unreferenced orphans."""
    import pyarrow.parquet as pq

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        latest_version,
        set_check_constraint,
    )

    path = os.path.join(lake, "w")
    spark.createDataFrame([(1, 5.0)], "k long, x double").write.format(
        "skopje_versioned"
    ).option("path", path).mode("append").save()
    versioned_rename_column(path, "x", "score")
    spark.createDataFrame([(2, 7.0)], "k long, score double").write.format(
        "skopje_versioned"
    ).option("path", path).mode("append").save()
    got = {r["k"]: r["score"] for r in (
        spark.read.format("skopje_versioned").option("path", path).load().collect()
    )}
    assert got == {1: 5.0, 2: 7.0}
    for e in _read_manifest(path, latest_version(path))["files"]:
        assert set(pq.read_schema(os.path.join(path, e["path"])).names) == {"k", "x"}

    set_check_constraint(spark, path, "score_pos", "score > 0")
    before = latest_version(path)
    # the violation surfaces wrapped in Spark's data-source error
    with pytest.raises(Exception, match="score_pos|Constraint"):
        spark.createDataFrame([(3, -1.0)], "k long, score double").write.format(
            "skopje_versioned"
        ).option("path", path).mode("append").save()
    assert latest_version(path) == before  # nothing published


def test_stream_writer_exactly_once_ledger(spark, lake, tmp_path):
    """writeStream.format("skopje_versioned"): micro-batches append
    O(batch) commits with a per-stream batch ledger carried as a
    table property; a REPLAYED batchId drops its staged files instead
    of double-appending, and the ledger survives interleaved
    non-stream commits."""
    import json as _json

    import pyarrow as pa
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as ST

    from skopje_spark.sinks.versioned import (
        latest_version,
        snapshot_meta,
        versioned_upsert,
    )
    from skopje_spark.sources.lakesource import VersionedStreamWriter

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text('{"k": 1, "v": "a"}\n{"k": 2, "v": "b"}\n')
    table = os.path.join(lake, "t")
    ck = str(tmp_path / "ck")

    def drain():
        q = (
            spark.readStream.schema("k long, v string").json(str(src))
            .writeStream.format("skopje_versioned").option("path", table)
            .option("checkpointLocation", ck)
            .trigger(availableNow=True).start()
        )
        q.awaitTermination(180)

    drain()
    assert versioned_read(spark, table).count() == 2
    assert snapshot_meta(table, "op", version=0) == "stream_append"
    (src / "b.json").write_text('{"k": 3, "v": "c"}\n')
    drain()
    assert versioned_read(spark, table).count() == 3
    assert _json.loads(
        snapshot_meta(table, "stream_ledger", version=latest_version(table))
    ) == {"default": 1}

    # an interleaved NON-stream commit must not lose the ledger
    versioned_upsert(
        spark, table,
        spark.createDataFrame([(3, "C")], "k long, v string"), ["k"],
    )
    assert _json.loads(
        snapshot_meta(table, "stream_ledger", version=latest_version(table))
    ) == {"default": 1}

    # replay: same batchId committed twice lands once
    sch = ST([StructField("k", LongType()), StructField("v", StringType())])
    w = VersionedStreamWriter(sch, {"path": table})
    batch = pa.record_batch({"k": pa.array([9], pa.int64()),
                             "v": pa.array(["z"])})
    w.commit([w.write(iter([batch]))], 2)
    n, v = versioned_read(spark, table).count(), latest_version(table)
    w.commit([w.write(iter([batch]))], 2)  # replay
    assert versioned_read(spark, table).count() == n
    assert latest_version(table) == v
    # the replay's staged pool file was dropped, not orphaned
    pool = os.path.join(table, "data")
    from skopje_spark.sinks.versioned import _read_manifest

    referenced = {
        os.path.basename(e["path"])
        for e in _read_manifest(table, v)["files"]
    }
    on_disk_data = {
        f for f in os.listdir(pool)
        if f.endswith(".parquet") and "-w" in f
    }
    assert on_disk_data <= referenced | {
        os.path.basename(e["path"])
        for vv in range(v + 1)
        for e in _read_manifest(table, vv)["files"]
    }


def test_attach_versioned_sql_surface(spark, lake):
    """attach_versioned: versioned tables join plain SQL — including a
    time-traveled attachment under its own name."""
    from skopje_spark.sources.lakesource import attach_versioned

    path = os.path.join(lake, "t")
    _mk_table(spark, path, n=10, files=2)
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(3, "NEW", 0.0)], "k long, v string, x double"),
        ["k"],
    )
    attach_versioned(spark, "cur", path)
    attach_versioned(spark, "orig", path, version=0)
    got = spark.sql(
        """
        SELECT c.k, c.v AS now_v, o.v AS then_v
        FROM cur c JOIN orig o USING (k)
        WHERE c.v <> o.v
        """
    ).collect()
    assert [(r["k"], r["now_v"], r["then_v"]) for r in got] == [(3, "NEW", "r3")]


def test_batch_source_prunes_segments_unopened(spark, lake, monkeypatch):
    """Two-level connector planning: a narrow pushed filter skips
    whole manifest SEGMENTS from their kilobyte aggregate stats —
    never parsed — before per-file footer pruning, and the rows stay
    exact. The O(all segments) driver parse per planned scan is gone."""
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sources.lakesource import VersionedTableReader

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = os.path.join(lake, "t")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(800)], "k long, v string"
    )
    versioned_write(
        df.repartitionByRange(80, "k").sortWithinPartitions("k"), path
    )
    rd = VersionedTableReader({"path": path})
    assert rd.segments_total >= 6
    list(rd.pushFilters(
        [GreaterThanOrEqual(("k",), 50), LessThanOrEqual(("k",), 55)]
    ))
    parts = rd.partitions()
    assert rd.segments_opened < rd.segments_total  # skipped unopened
    assert 1 <= len(parts) <= 3
    got = (
        spark.read.format("skopje_versioned").option("path", path).load()
        .filter("k >= 50 and k <= 55")
    )
    assert sorted(r["k"] for r in got.collect()) == list(range(50, 56))
    # no pushdown: every segment opened, full table served
    rd2 = VersionedTableReader({"path": path})
    assert len(rd2.partitions()) == 80 and rd2.segments_opened == rd2.segments_total


def test_writer_commit_refuses_concurrent_schema_evolution(spark, lake):
    """The writer pins the table schema at planning; a schema
    evolution landing before its commit must refuse (the rebase
    refusal taxonomy), never silently NULL-fill the batch through a
    schema the writer never saw — and a fresh writer then lands."""
    import pyarrow as pa

    from skopje_spark.sinks.versioned import CommitConflict
    from skopje_spark.sources.lakesource import VersionedTableWriter

    path = os.path.join(lake, "t")
    _mk_table(spark, path, n=8, files=1)
    tbl = versioned_read(spark, path)
    w = VersionedTableWriter(tbl.schema, {"path": path}, overwrite=False)
    # concurrent additive evolution lands after the writer planned
    wide = spark.createDataFrame(
        [(200, "w", 1.0, "tag")], "k long, v string, x double, t string"
    )
    versioned_upsert(spark, path, wide, ["k"], evolve_schema=True)
    with pytest.raises(CommitConflict, match="schema"):
        w.commit([])
    # fresh writer against the evolved table commits cleanly
    w2 = VersionedTableWriter(
        versioned_read(spark, path).schema, {"path": path}, overwrite=False
    )
    msg = w2.write(iter([pa.record_batch(
        {"k": [300], "v": ["z"], "x": [2.0], "t": ["u"]}
    )]))
    w2.commit([msg])
    assert any(r["k"] == 300 for r in versioned_read(spark, path).collect())


def test_writer_commit_refuses_constraint_added_after_validation(
    spark, lake, monkeypatch
):
    """A CHECK constraint landing between the writer's validation pass
    and its manifest CAS never saw the batch — the commit must refuse
    instead of publishing rows the constraint never proved."""
    import pyarrow as pa

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        CommitConflict,
        set_check_constraint,
    )
    from skopje_spark.sources.lakesource import VersionedTableWriter

    path = os.path.join(lake, "t")
    _mk_table(spark, path, n=8, files=1)
    w = VersionedTableWriter(
        versioned_read(spark, path).schema, {"path": path}, overwrite=False
    )
    msg = w.write(iter([pa.record_batch(
        {"k": [100], "v": ["z"], "x": [1.0]}
    )]))

    orig = V._enforce_constraints

    def sneaky(spark_, path_, entries_, mapping_=None):
        orig(spark_, path_, entries_, mapping_)
        set_check_constraint(spark, path, "k_small", "k < 1000")

    monkeypatch.setattr(V, "_enforce_constraints", sneaky)
    with pytest.raises(CommitConflict, match="constraints changed"):
        w.commit([msg])


def test_changes_stream_spans_rename_without_null_fill(spark, lake, tmp_path):
    """cdc files recorded BEFORE a column rename carry the old logical
    name; the stream resolves each commit's columns through the stable
    physical name, so pre-rename changes serve real values under the
    stream's (post-rename) schema instead of silent NULL-fill."""
    path = os.path.join(lake, "t")
    versioned_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
        .coalesce(1),
        path,
    )                                                                   # v0
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(2, "B2"), (3, "c")], "k long, v string"),
        ["k"], change_feed=True,
    )                                                                   # v1
    versioned_rename_column(path, "v", "val")                           # v2
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(4, "d")], "k long, val string"),
        ["k"], change_feed=True,
    )                                                                   # v3
    q = (
        spark.readStream.format("skopje_versioned_changes")
        .option("path", path).load()
        .writeStream.format("parquet").option("path", str(tmp_path / "out"))
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    rows = spark.read.parquet(str(tmp_path / "out"))
    assert "val" in rows.columns
    got = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["val"])
        for r in rows.collect()
    )
    # v1's pre-rename changes carry REAL values under the new name
    assert got == sorted([
        (0, "insert", 1, "a"), (0, "insert", 2, "b"),
        (1, "update_preimage", 2, "b"), (1, "update_postimage", 2, "B2"),
        (1, "insert", 3, "c"),
        (3, "insert", 4, "d"),
    ])


def test_stream_create_records_partition_spec(spark, lake, tmp_path):
    """A stream that CREATES the table must record its declared
    layout exactly like the batch writer's create branch: without it
    the fanout files land correctly but table_partitioning() answers
    [], hidden-target reads KeyError, and later appends silently
    drop the layout."""
    import json as _json

    from skopje_spark.sinks.versioned import (
        latest_version,
        snapshot_meta,
        table_partitioning,
        versioned_append,
        versioned_partitions,
    )

    src = tmp_path / "src"
    src.mkdir()
    (src / "a.json").write_text(
        '{"k": 1, "s": "web"}\n{"k": 2, "s": "pdf"}\n'
        '{"k": 3, "s": "web"}\n'
    )
    table = os.path.join(lake, "t")
    q = (
        spark.readStream.schema("k long, s string").json(str(src))
        .writeStream.format("skopje_versioned").option("path", table)
        .option("partitionBy", "s")
        .option("checkpointLocation", str(tmp_path / "ck"))
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(180)
    assert table_partitioning(table) == ["s"]
    assert _json.loads(
        snapshot_meta(table, "partition_specs", version=latest_version(table))
        or "x"
    ) == []
    assert {
        p["s"]: p["n_rows"] for p in versioned_partitions(table)
    } == {"web": 2, "pdf": 1}
    # a later native append preserves the layout
    versioned_append(
        spark, table,
        spark.createDataFrame([(4, "web")], "k long, s string"),
    )
    assert {
        p["s"]: p["n_rows"] for p in versioned_partitions(table)
    } == {"web": 3, "pdf": 1}


def test_writer_append_refuses_conflicting_partitionby(spark, lake):
    """An append with a DECLARED partitionBy that conflicts with the
    table's layout must refuse loudly, not silently inherit; a
    matching declaration is accepted."""
    from skopje_spark.sinks.versioned import versioned_write
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    path = os.path.join(lake, "t")
    df = spark.createDataFrame([(1, "a")], "k long, s string")
    versioned_write(df, path, partition_by=["s"])
    with pytest.raises(Exception, match="conflicts with the existing"):
        (df.write.format("skopje_versioned").option("path", path)
         .option("partitionBy", "k").mode("append").save())
    # matching declaration: accepted
    (df.write.format("skopje_versioned").option("path", path)
     .option("partitionBy", "s").mode("append").save())
    assert versioned_read(spark, path).count() == 2


def test_connector_ref_tier_prunes_by_in_value_sets(spark, lake, monkeypatch):
    """Ref-tier IN pruning: a two-value IN on a value-indexed
    scattered categorical closes whole manifest segments whose
    value-set UNION excludes both sought values — fewer segments
    opened than the interval span (which covers everything for a
    categorical scattered by range on another key)."""
    from pyspark.sql.datasource import In

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import versioned_value_index
    from skopje_spark.sources.lakesource import VersionedTableReader

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = os.path.join(lake, "t")
    # lang clusters with k ranges, but lang intervals per segment
    # overlap lexicographically (l0..l9 scattered): only the value
    # union proves absence
    df = spark.createDataFrame(
        [(i, f"l{i // 100}", f"r{i}") for i in range(800)],
        "k long, lang string, v string",
    )
    versioned_write(
        df.repartitionByRange(80, "k").sortWithinPartitions("k"), path
    )
    versioned_value_index(spark, path, ["lang"])
    rd = VersionedTableReader({"path": path})
    assert rd.segments_total >= 6
    list(rd.pushFilters([In(("lang",), ("l2", "l3"))]))
    parts = rd.partitions()
    assert rd.segments_opened < rd.segments_total
    got = (
        spark.read.format("skopje_versioned").option("path", path).load()
        .filter("lang in ('l2','l3')")
    )
    assert sorted(r["k"] for r in got.collect()) == list(range(200, 400))
    assert len(parts) <= 25  # file tier also pruned by membership


def test_fanout_writer_caps_open_writers(spark, lake, monkeypatch):
    """The fanout writer's per-task memory is bounded: a single task
    spanning 100 partition tuples with maxOpenWriters=8 never holds
    more than 8 open ParquetWriters (LRU eviction closes-and-
    finalizes; a re-seen tuple opens a FRESH pool file), and the
    committed layout still satisfies every one-value-per-file and
    stats invariant."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.types import LongType, StringType, StructField
    from pyspark.sql.types import StructType as ST

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        latest_version,
        versioned_read,
    )
    from skopje_spark.sources.lakesource import VersionedTableWriter

    real_writer = pq.ParquetWriter
    state = {"open": 0, "peak": 0, "total": 0}

    class CountingWriter(real_writer):
        def __init__(self, *a, **kw):
            super().__init__(*a, **kw)
            state["open"] += 1
            state["total"] += 1
            state["peak"] = max(state["peak"], state["open"])

        def close(self):
            if not self.is_open:
                return
            super().close()
            state["open"] -= 1

    monkeypatch.setattr(pq, "ParquetWriter", CountingWriter)
    path = os.path.join(lake, "t")
    schema = ST([
        StructField("k", LongType()),
        StructField("v", StringType()),
    ])
    w = VersionedTableWriter(
        schema,
        {"path": path, "partitionby": "k", "maxopenwriters": "8"},
        overwrite=False,
    )
    # one task, 100 tuples, interleaved so eviction must re-open:
    # batches of k = i % 100 arriving round-robin
    batches = [
        pa.record_batch(
            {"k": [int(j % 100) for j in range(i, i + 10)],
             "v": [f"r{j}" for j in range(i, i + 10)]},
            schema=pa.schema([("k", pa.int64()), ("v", pa.string())]),
        )
        for i in range(0, 1000, 10)
    ]
    msg = w.write(iter(batches))
    assert state["peak"] <= 8
    assert state["open"] == 0  # everything closed at task end
    assert state["total"] >= 100  # evicted tuples re-opened fresh files
    # the staged entries keep the fanout invariants: single-valued
    # stats per file, several files per tuple allowed
    tuples = {}
    for e in msg.entries:
        st = e["stats"]["k"]
        assert st["min"] == st["max"] == e["partition"]["k"]
        tuples.setdefault(e["partition"]["k"], 0)
        tuples[e["partition"]["k"]] += 1
    assert len(tuples) == 100
    w.commit([msg])
    assert latest_version(path) == 0
    got = versioned_read(spark, path)
    assert got.count() == 1000
    assert got.filter("k = 42").count() == 10
    assert len(_read_manifest(path, 0)["files"]) == len(msg.entries)


def test_cluster_for_layout_hits_file_count_floor(spark, tmp_path):
    """Hash-clustering on the derived partition tuple before a
    connector write emits exactly one pool file per tuple (the floor),
    where the same unclustered input under a small maxOpenWriters cap
    fans out into strictly more files."""
    from skopje_spark.sinks.versioned import _read_manifest, latest_version
    from skopje_spark.sources.lakesource import cluster_for_layout

    register_all(spark)
    df = spark.range(0, 2000).selectExpr(
        "id AS k", "CAST(id % 10 AS STRING) AS lang", "id * 2 AS v"
    ).repartition(8)  # unclustered: every task sees every lang

    def write_to(path, frame):
        (
            frame.write.format("skopje_versioned")
            .option("path", path)
            .option("partitionBy", "lang")
            .option("maxOpenWriters", "2")
            .mode("overwrite")
            .save()
        )
        man = _read_manifest(path, latest_version(path))
        return man["files"]

    loose = write_to(str(tmp_path / "loose"), df)
    tight = write_to(
        str(tmp_path / "tight"), cluster_for_layout(df, ["lang"])
    )
    assert len(tight) == 10  # one file per lang — the floor
    assert len(loose) > len(tight)
    # identical one-value-per-file layout facts either way
    assert {e["partition"]["lang"] for e in tight} == {
        str(i) for i in range(10)
    }
    # hidden-transform spec path: bucket tuple derived driver-side
    b = cluster_for_layout(df, ["b=bucket(4,k)"])
    bp = str(tmp_path / "bucketed")
    (
        b.write.format("skopje_versioned")
        .option("path", bp)
        .option("partitionBy", "b=bucket(4,k)")
        .option("maxOpenWriters", "2")
        .mode("overwrite")
        .save()
    )
    man = _read_manifest(bp, latest_version(bp))
    assert len(man["files"]) == 4
    # reading a table path resolves its committed layout
    again = cluster_for_layout(df, bp)
    assert again.rdd.getNumPartitions() >= 1


def test_connector_plans_exactly_like_read_where(spark, lake):
    """The connector keeps no planner of its own: for every pushed
    filter shape it plans exactly the file set ``versioned_read_where``
    picks for the equivalent bounds dict, on a table with an identity,
    a hidden ``date()`` and a ``bucket()`` partition plus a value
    index, and both reads return the same rows."""
    import datetime as dt

    from pyspark.sql import functions as F
    from pyspark.sql.datasource import (
        EqualTo,
        GreaterThanOrEqual,
        In,
        LessThanOrEqual,
    )

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        latest_version,
        versioned_read_where,
        versioned_value_index,
    )
    from skopje_spark.sources.lakesource import VersionedTableReader

    path = os.path.join(lake, "t")
    t0 = dt.datetime(2024, 5, 1, 6, 0)
    df = spark.createDataFrame(
        [
            (i, i % 100, f"s{i % 3}", t0 + dt.timedelta(hours=9 * i),
             f"l{i % 5}")
            for i in range(40)
        ],
        "id long, k long, src string, ts timestamp, lang string",
    )
    versioned_write(
        df, path, partition_by=["src", "day=date(ts)", "b=bucket(4,id)"]
    )
    versioned_value_index(spark, path, ["lang"])
    n_files = len(_read_manifest(path, latest_version(path))["files"])
    lo_ts, hi_ts = t0 + dt.timedelta(days=3), t0 + dt.timedelta(days=5)
    shapes = [  # (pushed filters, equivalent bounds dict, exact predicate)
        ([GreaterThanOrEqual(("k",), 10), LessThanOrEqual(("k",), 20)],
         {"k": (10, 20)}, F.col("k").between(10, 20)),
        ([GreaterThanOrEqual(("k",), 30)], {"k": (30, None)},
         F.col("k") >= 30),
        ([EqualTo(("lang",), "l2")], {"lang": "l2"}, F.col("lang") == "l2"),
        ([In(("src",), ("s0", "s2"))], {"src": ["s0", "s2"]},
         F.col("src").isin("s0", "s2")),
        ([In(("id",), (3, 9, 17, 33)), GreaterThanOrEqual(("id",), 5),
          LessThanOrEqual(("id",), 20)], {"id": [9, 17]},
         F.col("id").isin(9, 17)),
        ([EqualTo(("id",), 13)], {"id": 13}, F.col("id") == 13),
        ([GreaterThanOrEqual(("ts",), lo_ts), LessThanOrEqual(("ts",), hi_ts)],
         {"ts": (lo_ts, hi_ts)}, F.col("ts").between(lo_ts, hi_ts)),
    ]
    for filters, bounds, pred in shapes:
        rd = VersionedTableReader({"path": path})
        assert list(rd.pushFilters(filters)) == filters  # all yielded back
        planned = {os.path.basename(p.rel_path) for p in rd.partitions()}
        native = versioned_read_where(spark, path, bounds)
        picked = {os.path.basename(f) for f in native.inputFiles()}
        assert planned == picked, bounds
        assert 0 < len(planned) < n_files, bounds  # every shape prunes
        got = (
            spark.read.format("skopje_versioned").option("path", path)
            .load().filter(pred)
        )
        assert sorted(map(tuple, got.collect())) == sorted(
            map(tuple, native.collect())
        ), bounds


def test_connector_write_from_another_cwd_without_pythonpath(tmp_path):
    """Spark's Python workers import ``skopje_spark`` by name, so
    registration must give them the package's location: a driver that
    makes the package importable only through ``sys.path`` — run from
    another working directory, with no ``PYTHONPATH`` — still writes
    through the connector and reads the rows back."""
    import subprocess
    import sys
    import textwrap

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    table = str(tmp_path / "t")
    script = textwrap.dedent(
        f"""
        import sys
        sys.path.insert(0, {repo!r})
        from pyspark.sql import SparkSession
        from skopje_spark.sources.pysource import register_all

        spark = (
            SparkSession.builder.master("local[1]")
            .config("spark.ui.enabled", "false")
            .config("spark.driver.memory", "1g")
            .getOrCreate()
        )
        register_all(spark)
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string") \\
            .write.format("skopje_versioned").option("path", {table!r}) \\
            .mode("append").save()
        rows = spark.read.format("skopje_versioned") \\
            .option("path", {table!r}).load().collect()
        print("ROWS", sorted(tuple(r) for r in rows))
        spark.stop()
        """
    )
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    done = subprocess.run(
        [sys.executable, "-c", script], cwd=str(tmp_path), env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert "ROWS [(1, 'a'), (2, 'b')]" in done.stdout, done.stderr[-4000:]
