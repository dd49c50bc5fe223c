"""Unit tests: declarative incremental live pipelines
(pipeline_live.py) — streaming-table append nodes fed by change
feeds, materialized-view replace nodes, expectation gating, and the
exactly-once cursor-in-commit contract."""

from __future__ import annotations

import json

import pytest
from pyspark.sql import functions as F

from skopje_spark.pipeline_live import LiveNode, LivePipeline
from skopje_spark.sinks.versioned import (
    latest_version,
    snapshot_meta,
    versioned_append,
    versioned_delete,
    versioned_read,
    versioned_write,
)


def _ingest(spark, path, lo, hi, feed=True):
    df = spark.range(lo, hi).selectExpr(
        "CAST(id AS INT) AS k",
        "CAST(id % 3 AS INT) AS g",
        "CAST(id * 2.0 AS DOUBLE) AS x",
    )
    if latest_version(path) is None:
        return versioned_write(df, path)
    return versioned_append(spark, path, df, change_feed=feed)


def _clean_node(src, tgt, **kw):
    return LiveNode(
        name="clean",
        target=tgt,
        inputs=[src],
        transform=lambda spark, f: f[src].withColumn(
            "x2", F.col("x") * 2
        ),
        mode="append",
        **kw,
    )


def test_two_node_incremental_run(spark, tmp_path):
    src = str(tmp_path / "src")
    clean = str(tmp_path / "clean")
    agg = str(tmp_path / "agg")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([
        _clean_node(src, clean),
        LiveNode(
            name="agg",
            target=agg,
            inputs=["clean"],
            transform=lambda spark, f: f["clean"]
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.sum("x2").alias("sx")),
            mode="replace",
            input_keys={"clean": ["k"]},
        ),
    ])
    r1 = pipe.run(spark)
    assert r1["clean"]["action"] == "build"
    assert versioned_read(spark, clean).count() == 10
    assert {row["n"] for row in versioned_read(spark, agg).collect()} == {3, 4}
    # second ingest: only the delta flows through the append node
    _ingest(spark, src, 10, 16)
    r2 = pipe.run(spark)
    assert r2["clean"]["action"] == "append"
    assert r2["clean"]["cursors"][src] == latest_version(src)
    assert versioned_read(spark, clean).count() == 16
    total = versioned_read(spark, agg).agg(F.sum("n")).first()[0]
    assert total == 16
    # no new input: both nodes no-op (exactly-once, no empty commits)
    v_clean, v_agg = latest_version(clean), latest_version(agg)
    r3 = pipe.run(spark)
    assert r3["clean"]["action"] == "noop"
    assert latest_version(clean) == v_clean
    # replace nodes recompute only when... they always recompute;
    # content is unchanged either way
    assert versioned_read(spark, agg).agg(F.sum("n")).first()[0] == 16


def test_append_node_delta_is_only_new_rows(spark, tmp_path):
    """The second run's transform sees ONLY the new rows — proven by a
    transform that would produce different output on a rescan."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 5)
    seen = []

    def spy(spark_, f):
        rows = sorted(r["k"] for r in f[src].select("k").collect())
        seen.append(rows)
        return f[src]

    pipe = LivePipeline([
        LiveNode(name="n", target=tgt, inputs=[src], transform=spy)
    ])
    pipe.run(spark)
    _ingest(spark, src, 5, 8)
    pipe.run(spark)
    assert seen[0] == [0, 1, 2, 3, 4]
    assert seen[1] == [5, 6, 7]


def test_append_node_cursors_survive_metadata_commits_and_vacuum(
    spark, tmp_path
):
    """The cursors are a carried table property of the target: two
    metadata commits and a vacuum that retires every pipeline-written
    version must not make the next run re-append the input from v0."""
    from skopje_spark.sinks.versioned import (
        drop_check_constraint,
        set_check_constraint,
        vacuum,
    )

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([_clean_node(src, tgt)])
    pipe.run(spark)
    _ingest(spark, src, 10, 16)
    pipe.run(spark)
    set_check_constraint(spark, tgt, "k_nonneg", "k >= 0")
    drop_check_constraint(tgt, "k_nonneg")
    vacuum(tgt, keep=2, min_file_age_s=0)
    _ingest(spark, src, 16, 18)
    assert pipe.run(spark)["clean"]["action"] == "append"
    out = versioned_read(spark, tgt)
    assert out.count() == 18
    assert out.select("k").distinct().count() == 18


def test_append_node_refuses_upstream_deletes(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([_clean_node(src, tgt, input_keys={src: ["k"]})])
    pipe.run(spark)
    versioned_delete(spark, src, "k = 3", change_feed=True)
    with pytest.raises(ValueError, match="cannot fold"):
        pipe.run(spark)


def test_expectations_quarantine_on_append_node(spark, tmp_path):
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([
        _clean_node(
            src, tgt,
            expectations={"k_small": "k < 8", "g_ok": "g IS NOT NULL"},
        )
    ])
    pipe.run(spark)
    assert versioned_read(spark, tgt).count() == 8
    q = versioned_read(spark, f"{tgt}_quarantine")
    assert {r["k"] for r in q.collect()} == {8, 9}
    assert q.columns[-1] == "_violations"
    # violation counts ride the node commit
    rec = json.loads(snapshot_meta(tgt, "expectations",
                                   version=latest_version(tgt)))
    assert rec["k_small"]["violations"] == 2
    # incremental run quarantines only new offenders
    _ingest(spark, src, 10, 12)
    pipe.run(spark)
    assert versioned_read(spark, f"{tgt}_quarantine").count() == 4


def test_expectations_fail_mode_commits_nothing(spark, tmp_path):
    from skopje_spark.sinks.expect import ExpectationViolation

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([
        _clean_node(
            src, tgt,
            expectations={"k_small": "k < 8"}, on_violation="fail",
        )
    ])
    with pytest.raises(ExpectationViolation):
        pipe.run(spark)
    assert latest_version(tgt) is None


def test_static_input_does_not_trigger(spark, tmp_path):
    """Stream-static join: a dimension update neither reprocesses
    history nor triggers a run by itself."""
    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 5)
    versioned_write(
        spark.createDataFrame([(0, "a"), (1, "b"), (2, "c")], ["g", "lab"]),
        dim,
    )
    pipe = LivePipeline([
        LiveNode(
            name="j", target=tgt, inputs=[src], static_inputs=[dim],
            transform=lambda s, f: f[src].join(
                F.broadcast(f[dim]), "g", "left"
            ),
        )
    ])
    pipe.run(spark)
    assert versioned_read(spark, tgt).filter("lab IS NULL").count() == 0
    v = latest_version(tgt)
    # dim-only change: no streamed input advanced → noop
    versioned_write(
        spark.createDataFrame([(0, "A"), (1, "B"), (2, "C")], ["g", "lab"]),
        dim,
    )
    r = pipe.run(spark)
    assert r["j"]["action"] == "noop" and latest_version(tgt) == v
    # new facts join against the CURRENT dim
    _ingest(spark, src, 5, 6)
    pipe.run(spark)
    labs = {
        r["lab"]
        for r in versioned_read(spark, tgt).filter("k = 5").collect()
    }
    assert labs == {"C"}  # k=5 → g=2 → new dim value


def test_cycle_and_validation_errors(spark, tmp_path):
    with pytest.raises(ValueError, match="cycle"):
        LivePipeline([
            LiveNode(name="a", target="x", inputs=["b"],
                     transform=lambda s, f: None),
            LiveNode(name="b", target="y", inputs=["a"],
                     transform=lambda s, f: None),
        ])
    with pytest.raises(ValueError, match="no inputs"):
        LiveNode(name="a", target="x", inputs=[],
                 transform=lambda s, f: None)
    with pytest.raises(ValueError, match="mode"):
        LiveNode(name="a", target="x", inputs=["s"], mode="merge",
                 transform=lambda s, f: None)


def test_upsert_node_apply_changes(spark, tmp_path):
    """mode='upsert': updates and deletes on the source propagate as a
    net-final MERGE + key-frame delete; multi-commit chains telescope."""
    from skopje_spark.sinks.versioned import versioned_upsert

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([
        LiveNode(
            name="mirror", target=tgt, inputs=[src], mode="upsert",
            keys=["k"],
            transform=lambda s, f: f[src].withColumn(
                "x2", F.col("x") * 2
            ),
        )
    ])
    r1 = pipe.run(spark)
    assert r1["mirror"]["action"] == "build"
    assert versioned_read(spark, tgt).count() == 10
    # source: update k=1, delete k=2, insert k=50, then delete k=50
    # (insert+delete telescopes to a delete of a key the target may
    # or may not hold — the key-frame delete absorbs it)
    versioned_upsert(
        spark, src,
        spark.createDataFrame([(1, 0, 99.0)], ["k", "g", "x"]),
        ["k"], change_feed=True,
    )
    versioned_delete(spark, src, "k = 2", change_feed=True)
    versioned_upsert(
        spark, src,
        spark.createDataFrame([(50, 2, 1.0)], ["k", "g", "x"]),
        ["k"], change_feed=True,
    )
    versioned_delete(spark, src, "k = 50", change_feed=True)
    r2 = pipe.run(spark)
    assert r2["mirror"]["action"] == "apply_changes"
    rows = {r["k"]: (r["x"], r["x2"])
            for r in versioned_read(spark, tgt).collect()}
    assert 2 not in rows and 50 not in rows
    assert rows[1] == (99.0, 198.0)
    assert len(rows) == 9
    # idle rerun: noop
    v = latest_version(tgt)
    r3 = pipe.run(spark)
    assert r3["mirror"]["action"] == "noop" and latest_version(tgt) == v


def test_upsert_node_cursor_advances_on_net_zero(spark, tmp_path):
    """A source range that nets to zero changes still advances the
    cursor (empty append) so the feed range never grows unboundedly."""
    from skopje_spark.sinks.versioned import versioned_tag

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 5)
    pipe = LivePipeline([
        LiveNode(
            name="m", target=tgt, inputs=[src], mode="upsert",
            keys=["k"], transform=lambda s, f: f[src],
        )
    ])
    pipe.run(spark)
    versioned_tag(src, "rel")  # metadata-only source commit
    r = pipe.run(spark)
    assert r["m"]["action"] == "apply_changes"
    assert r["m"]["cursors"][src] == latest_version(src)
    assert versioned_read(spark, tgt).count() == 5
    # and the NEXT run is a true noop
    assert pipe.run(spark)["m"]["action"] == "noop"


def test_upsert_node_validation(spark, tmp_path):
    with pytest.raises(ValueError, match="requires keys"):
        LiveNode(name="a", target="x", inputs=["s"], mode="upsert",
                 transform=lambda s, f: None)
    with pytest.raises(ValueError, match="exactly ONE"):
        LiveNode(name="a", target="x", inputs=["s", "t"], mode="upsert",
                 keys=["k"], transform=lambda s, f: None)


def test_crash_between_upsert_and_delete_replays_deletes(
    spark, tmp_path, monkeypatch
):
    """THE exactly-once crash window: a run needing both a MERGE and a
    key-frame delete must not advance the cursor on the merge commit.
    Inject a failure in versioned_delete after the upsert commit; the
    rerun must NOT noop — it replays the range and the net-deleted key
    is gone."""
    import skopje_spark.sinks.versioned as V

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([
        LiveNode(
            name="m", target=tgt, inputs=[src], mode="upsert",
            keys=["k"], transform=lambda s, f: f[src],
        )
    ])
    pipe.run(spark)
    # a range with BOTH an update (k=1) and a delete (k=2)
    from skopje_spark.sinks.versioned import versioned_upsert

    versioned_upsert(
        spark, src,
        spark.createDataFrame([(1, 0, 99.0)], ["k", "g", "x"]),
        ["k"], change_feed=True,
    )
    versioned_delete(spark, src, "k = 2", change_feed=True)

    real_delete = V.versioned_delete

    def boom(*a, **kw):
        raise RuntimeError("injected crash before the delete commit")

    monkeypatch.setattr(V, "versioned_delete", boom)
    with pytest.raises(RuntimeError, match="injected"):
        pipe.run(spark)
    monkeypatch.setattr(V, "versioned_delete", real_delete)
    # the merge committed but the cursor must NOT have advanced
    rows = {r["k"]: r["x"] for r in versioned_read(spark, tgt).collect()}
    assert rows[1] == 99.0 and 2 in rows  # delete not yet applied
    r = pipe.run(spark)["m"]
    assert r["action"] == "apply_changes"  # NOT noop
    rows = {r["k"]: r["x"] for r in versioned_read(spark, tgt).collect()}
    assert 2 not in rows and rows[1] == 99.0 and len(rows) == 9
    # and a further idle run is a clean noop
    assert pipe.run(spark)["m"]["action"] == "noop"


def test_upsert_tie_break_replace_where_converges(spark, tmp_path):
    """A replace_where(change_feed=True) commit records the delete and
    the insert of a replaced key in the SAME commit; the net-final
    reduction must deterministically elect the insert — the key keeps
    its replaced value, never vanishes."""
    from skopje_spark.sinks.versioned import versioned_replace_where

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 6)
    pipe = LivePipeline([
        LiveNode(
            name="m", target=tgt, inputs=[src], mode="upsert",
            keys=["k"], transform=lambda s, f: f[src],
        )
    ])
    pipe.run(spark)
    versioned_replace_where(
        spark, src, {"k": (2, 4)},
        spark.createDataFrame(
            [(2, 7, -2.0), (3, 7, -3.0), (4, 7, -4.0)], ["k", "g", "x"]
        ),
        change_feed=True,
    )
    r = pipe.run(spark)["m"]
    assert r["action"] == "apply_changes"
    rows = {q["k"]: q["x"] for q in versioned_read(spark, tgt).collect()}
    # replaced keys converge to the NEW values — present, not deleted
    assert rows[2] == -2.0 and rows[3] == -3.0 and rows[4] == -4.0
    assert len(rows) == 6


def test_quarantine_survives_crash_before_data_commit(
    spark, tmp_path, monkeypatch
):
    """Quarantine rows are staged BEFORE the cursor-carrying commit:
    crash the data commit and the violating rows are already on disk;
    the replayed run still commits the clean rows."""
    import skopje_spark.pipeline_live as PL

    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 5)
    pipe = LivePipeline([
        _clean_node(src, tgt, expectations={"k_small": "k < 8"})
    ])
    pipe.run(spark)  # clean build, no offenders
    _ingest(spark, src, 8, 10)  # two offenders

    real_append = PL.versioned_append

    def crash_on_target(s, path, *a, **kw):
        if path == tgt:
            raise RuntimeError("injected crash on the data commit")
        return real_append(s, path, *a, **kw)

    monkeypatch.setattr(PL, "versioned_append", crash_on_target)
    with pytest.raises(RuntimeError, match="injected"):
        pipe.run(spark)
    # the audit trail survived the crash
    q = versioned_read(spark, f"{tgt}_quarantine")
    assert {r["k"] for r in q.collect()} == {8, 9}
    monkeypatch.setattr(PL, "versioned_append", real_append)
    r = pipe.run(spark)["clean"]
    assert r["action"] == "append"
    assert versioned_read(spark, tgt).filter("k >= 8").count() == 0
    # replay may re-stage (at-least-once): same KEYS, possibly twice
    q2 = versioned_read(spark, f"{tgt}_quarantine")
    assert {r["k"] for r in q2.collect()} == {8, 9}


def test_replace_node_noops_when_inputs_unchanged(spark, tmp_path):
    """A replace node with streamed inputs skips the recompute (and
    the commit) when no input advanced — idle polls stop growing
    version debt."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 6)
    calls = []

    def xf(s, f):
        calls.append(1)
        return f[src].groupBy("g").agg(F.count(F.lit(1)).alias("n"))

    pipe = LivePipeline([
        LiveNode(name="mv", target=tgt, inputs=[src], mode="replace",
                 transform=xf)
    ])
    pipe.run(spark)
    v = latest_version(tgt)
    r = pipe.run(spark)["mv"]
    assert r["action"] == "noop" and latest_version(tgt) == v
    assert len(calls) == 1
    _ingest(spark, src, 6, 9)
    assert pipe.run(spark)["mv"]["action"] == "replace"
    assert len(calls) == 2


def test_on_violation_validated(spark, tmp_path):
    with pytest.raises(ValueError, match="on_violation"):
        LiveNode(name="a", target="x", inputs=["s"],
                 on_violation="quarentine", transform=lambda s, f: None)


def test_full_refresh_rebuilds_and_resets_cursors(spark, tmp_path):
    """full_refresh recomputes a node from the CURRENT full snapshots
    — the recovery move after an upstream rewrite an append node
    cannot fold — and the next incremental run continues from there."""
    src = str(tmp_path / "src")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 10)
    pipe = LivePipeline([_clean_node(src, tgt, input_keys={src: ["k"]})])
    pipe.run(spark)
    # upstream DELETE: the append node refuses...
    versioned_delete(spark, src, "k >= 8", change_feed=True)
    with pytest.raises(ValueError, match="cannot fold"):
        pipe.run(spark)
    # ...full refresh recovers
    r = pipe.full_refresh(spark, "clean")
    assert r["action"] == "full_refresh"
    assert versioned_read(spark, tgt).count() == 8
    # and incremental processing resumes cleanly after
    _ingest(spark, src, 20, 23)
    r2 = pipe.run(spark)
    assert r2["clean"]["action"] == "append"
    assert versioned_read(spark, tgt).count() == 11


def test_replace_node_recomputes_on_static_change(spark, tmp_path):
    """A replace node with BOTH streamed and static inputs: a
    static-only (dimension) change must trigger a recompute — and a
    fully idle poll still no-ops."""
    src = str(tmp_path / "src")
    dim = str(tmp_path / "dim")
    tgt = str(tmp_path / "t")
    _ingest(spark, src, 0, 6)
    versioned_write(
        spark.createDataFrame([(0, 1), (1, 10), (2, 100)], ["g", "w"]), dim
    )
    pipe = LivePipeline([
        LiveNode(
            name="mv", target=tgt, inputs=[src], static_inputs=[dim],
            mode="replace",
            transform=lambda s, f: f[src].join(F.broadcast(f[dim]), "g")
            .groupBy("g").agg(F.sum("w").alias("sw")),
        )
    ])
    pipe.run(spark)
    v = latest_version(tgt)
    # fully idle: noop
    assert pipe.run(spark)["mv"]["action"] == "noop"
    assert latest_version(tgt) == v
    # dimension-only change: the materialized view must refresh
    versioned_write(
        spark.createDataFrame([(0, 2), (1, 20), (2, 200)], ["g", "w"]), dim
    )
    r = pipe.run(spark)["mv"]
    assert r["action"] == "replace"
    got = {x["g"]: x["sw"] for x in versioned_read(spark, tgt).collect()}
    assert got[0] == 2 * 2  # two g=0 rows × new weight
    # and idle again after the refresh
    assert pipe.run(spark)["mv"]["action"] == "noop"
