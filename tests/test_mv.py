"""Units for versioned-store compaction and the incrementally
maintained materialized view (sinks/versioned.py:versioned_compact /
versioned_ivm_view)."""

from __future__ import annotations

import os

import pytest

from skopje_spark.operators.ivm import ivm_build
from skopje_spark.sinks.versioned import (
    latest_version,
    snapshot_meta,
    versioned_compact,
    versioned_ivm_view,
    versioned_read,
    versioned_write,
)


def _rows(df):
    cols = sorted(df.columns)
    return sorted(tuple(r) for r in df.select(*cols).collect())


def _base(spark, rows):
    return spark.createDataFrame(rows, "id int, grp string, v int")


def _n_files(p, v):
    from skopje_spark.sinks.versioned import _read_manifest

    return len(_read_manifest(p, v)["files"])


def test_compact_preserves_content_and_reduces_files(spark, tmp_path):
    p = str(tmp_path / "t")
    df = _base(spark, [(i, "g", i) for i in range(100)]).repartition(16)
    versioned_write(df, p)
    assert _n_files(p, 0) > 1
    v = versioned_compact(spark, p, target_files=1)
    assert v == 1
    assert _n_files(p, 1) == 1
    assert _rows(versioned_read(spark, p)) == _rows(versioned_read(spark, p, version=0))
    assert snapshot_meta(p, "op", version=1) == "compact"
    assert snapshot_meta(p, "source_version", version=1) == "0"


def test_compact_autosizes_from_bytes(spark, tmp_path):
    p = str(tmp_path / "t")
    versioned_write(_base(spark, [(i, "g", i) for i in range(50)]).repartition(8), p)
    versioned_compact(spark, p)  # default 128MB target -> 1 file
    assert _n_files(p, 1) == 1


def test_ivm_view_full_then_incremental(spark, tmp_path):
    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")
    old_rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30), (5, "gone", 50)]
    versioned_write(_base(spark, old_rows), base_p)

    v = versioned_ivm_view(
        spark, base_p, view_p,
        table_keys=["id"], group_keys=["grp"], sum_cols=["v"],
    )
    assert v == 0 and snapshot_meta(view_p, "op", version=0) == "ivm_full"

    # commit a new base snapshot: update, insert, delete, group-empty
    new_rows = [(1, "a", 11), (2, "b", 20), (3, "b", 30), (7, "c", 70)]
    versioned_write(_base(spark, new_rows), base_p)

    v = versioned_ivm_view(
        spark, base_p, view_p,
        table_keys=["id"], group_keys=["grp"], sum_cols=["v"],
    )
    assert v == 1 and snapshot_meta(view_p, "op", version=1) == "ivm_incremental"
    assert snapshot_meta(view_p, "base_version", version=1) == "1"

    expect = ivm_build(_base(spark, new_rows), ["grp"], sum_cols=["v"])
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)


def test_ivm_fold_exact_with_null_measures(spark, tmp_path):
    # updates that set a SUM measure to NULL — including a group whose
    # EVERY measure value becomes NULL (fold must yield NULL, not 0) —
    # keep the maintained view identical to a recompute
    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")
    old_rows = [(1, "a", 10), (2, "a", 20), (3, "b", 30), (4, "c", None)]
    versioned_write(_base(spark, old_rows), base_p)
    versioned_ivm_view(
        spark, base_p, view_p,
        table_keys=["id"], group_keys=["grp"], sum_cols=["v"],
    )
    # group b: its only value goes NULL; group a: one value goes NULL;
    # group c: NULL -> value
    new_rows = [(1, "a", None), (2, "a", 20), (3, "b", None), (4, "c", 40)]
    versioned_write(_base(spark, new_rows), base_p)
    versioned_ivm_view(
        spark, base_p, view_p,
        table_keys=["id"], group_keys=["grp"], sum_cols=["v"],
    )
    expect = ivm_build(_base(spark, new_rows), ["grp"], sum_cols=["v"])
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)


def test_ivm_view_refresh_is_idempotent(spark, tmp_path):
    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")
    versioned_write(_base(spark, [(1, "a", 1)]), base_p)
    kw = dict(table_keys=["id"], group_keys=["grp"], sum_cols=["v"])
    v0 = versioned_ivm_view(spark, base_p, view_p, **kw)
    v1 = versioned_ivm_view(spark, base_p, view_p, **kw)
    assert v0 == v1 == 0  # base unchanged -> no new view version
    assert latest_version(view_p) == 0


def test_ivm_view_minmax_across_commits(spark, tmp_path):
    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")
    versioned_write(_base(spark, [(1, "a", 10), (2, "a", 99), (3, "b", 5)]), base_p)
    kw = dict(
        table_keys=["id"], group_keys=["grp"],
        sum_cols=["v"], min_cols=["v"], max_cols=["v"],
    )
    versioned_ivm_view(spark, base_p, view_p, **kw)
    # delete the current max of group a — the non-foldable case
    versioned_write(_base(spark, [(1, "a", 10), (3, "b", 5)]), base_p)
    versioned_ivm_view(spark, base_p, view_p, **kw)
    expect = ivm_build(
        _base(spark, [(1, "a", 10), (3, "b", 5)]),
        ["grp"], sum_cols=["v"], min_cols=["v"], max_cols=["v"],
    )
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)


def test_ivm_view_missing_marker_raises(spark, tmp_path):
    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")
    versioned_write(_base(spark, [(1, "a", 1)]), base_p)
    # a view commit without the marker (e.g. manual write) must fail loudly
    versioned_write(
        ivm_build(_base(spark, [(1, "a", 1)]), ["grp"], sum_cols=["v"]), view_p
    )
    versioned_write(_base(spark, [(1, "a", 2)]), base_p)
    with pytest.raises(ValueError, match="base_version"):
        versioned_ivm_view(
            spark, base_p, view_p,
            table_keys=["id"], group_keys=["grp"], sum_cols=["v"],
        )


def test_stream_materialized_view_exactly_once(spark, tmp_path):
    """Stream → versioned base → maintained rollup
    (sinks/versioned.py:versioned_stream_materialized_view): per-batch
    base MERGE + IVM view refresh; a full replay from a fresh
    checkpoint (a NEW incarnation) re-applies content-idempotently —
    base and view stay content-identical and the view tracks the
    base's latest version."""
    import json as _json
    import os as _os
    import time as _time

    from skopje_spark.streaming.streams import file_stream
    from skopje_spark.sinks.versioned import versioned_stream_materialized_view

    schema = "id long, grp string, v long"
    src = tmp_path / "src"
    src.mkdir()
    batches = [
        [{"id": 1, "grp": "a", "v": 10}, {"id": 2, "grp": "a", "v": 20}],
        [{"id": 2, "grp": "b", "v": 21}, {"id": 3, "grp": "b", "v": 30}],  # 2 moves group
        [{"id": 4, "grp": "a", "v": 40}],
    ]
    now = _time.time()
    for i, b in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for r in b:
                f.write(_json.dumps(r) + "\n")
        _os.utime(src / f"b{i}.json", (now - (3 - i) * 10,) * 2)

    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")

    def run(ckpt):
        stream = file_stream(spark, str(src), schema=schema, max_files_per_trigger=1)
        q = versioned_stream_materialized_view(
            stream, base_p, view_p, ["id"], str(tmp_path / ckpt),
            group_keys=["grp"], sum_cols=["v"],
        )
        q.awaitTermination()

    run("ck1")
    final_base = [(1, "a", 10), (2, "b", 21), (3, "b", 30), (4, "a", 40)]
    expect = ivm_build(
        spark.createDataFrame(final_base, schema), ["grp"], sum_cols=["v"]
    )
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)
    bv, vv = latest_version(base_p), latest_version(view_p)
    assert snapshot_meta(view_p, "base_version", version=vv) == str(bv)

    # full replay from a fresh checkpoint = new incarnation: batches
    # re-apply (content-idempotent MERGE, no data lost) and the view
    # keeps folding empty diffs — BOTH stay content-identical
    run("ck2")
    assert _rows(versioned_read(spark, base_p)) == _rows(
        spark.createDataFrame(final_base, schema)
    )
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)
    new_vv = latest_version(view_p)
    assert snapshot_meta(view_p, "base_version", version=new_vv) == str(
        latest_version(base_p)
    )


@pytest.mark.parametrize(
    "where", [None, {"grp": ("a", "z")}], ids=["full", "scoped"]
)
def test_compact_inherits_markers_and_view_still_refreshes(
    spark, tmp_path, where
):
    """Compacting a maintained view's own table must not strand it:
    the compaction commit keeps the source commit's ``base_version``
    on every scope, a ``where=`` compaction as much as the full
    rewrite, so the next refresh still resolves."""
    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")
    versioned_write(_base(spark, [(1, "a", 10), (2, "b", 20)]), base_p)
    kw = dict(table_keys=["id"], group_keys=["grp"], sum_cols=["v"])
    versioned_ivm_view(spark, base_p, view_p, **kw)

    cv = versioned_compact(spark, view_p, target_files=1, where=where)
    assert cv == 1
    assert snapshot_meta(view_p, "base_version", version=cv) == "0"
    assert snapshot_meta(view_p, "op", version=cv) == "compact"
    assert snapshot_meta(view_p, "source_version", version=cv) == "0"
    assert snapshot_meta(view_p, "commit_ts", version=cv) != snapshot_meta(
        view_p, "commit_ts", version=0
    )

    versioned_write(_base(spark, [(1, "a", 11), (2, "b", 20)]), base_p)
    versioned_ivm_view(spark, base_p, view_p, **kw)  # must not raise
    expect = ivm_build(
        _base(spark, [(1, "a", 11), (2, "b", 20)]), ["grp"], sum_cols=["v"]
    )
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)


def test_ivm_view_touched_keys_hint_prunes_correctly(spark, tmp_path):
    """With a correct touched_keys hint the pruned-diff refresh equals
    the full rebuild."""
    base_p, view_p = str(tmp_path / "base"), str(tmp_path / "view")
    versioned_write(
        _base(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]), base_p
    )
    kw = dict(table_keys=["id"], group_keys=["grp"], sum_cols=["v"])
    versioned_ivm_view(spark, base_p, view_p, **kw)
    new_rows = [(1, "a", 10), (2, "b", 25), (3, "b", 30), (4, "c", 40)]
    versioned_write(_base(spark, new_rows), base_p)
    hint = spark.createDataFrame([(2,), (4,)], "id int")
    versioned_ivm_view(spark, base_p, view_p, touched_keys=hint, **kw)
    expect = ivm_build(_base(spark, new_rows), ["grp"], sum_cols=["v"])
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)


def test_first_commit_crash_residue_cleared_and_unserved(spark, tmp_path):
    """A first-ever commit that crashed after writing v=0 but before
    the pointer swap must not poison the table: the junk directory is
    cleared by the next write (which then commits as v=0 itself), and
    an above-pointer version is never served as time travel."""
    p = str(tmp_path / "t")
    os.makedirs(os.path.join(p, "v=0"))
    # half-written junk: a parquet file without a committing pointer
    _base(spark, [(99, "junk", 0)]).coalesce(1).write.mode("overwrite").parquet(
        os.path.join(p, "v=0")
    )
    assert latest_version(p) is None
    v = versioned_write(_base(spark, [(1, "a", 1)]), p)
    assert v == 0  # numbering restarts cleanly — no skipped junk slot
    assert [tuple(r) for r in versioned_read(spark, p).collect()] == [(1, "a", 1)]
    # residue above the pointer is never served
    os.makedirs(os.path.join(p, "v=5"))
    with pytest.raises(FileNotFoundError, match="not committed"):
        versioned_read(spark, p, version=5)


def test_ivm_view_refresh_from_change_feed(spark, tmp_path):
    """use_change_feed=True: the view refresh folds the base's RECORDED
    feed (no snapshot diff, no before-image join) across MULTIPLE
    commits — including a key that is inserted then updated then
    deleted, whose signed micro-rows must telescope to nothing — and
    lands row-identical to a full rebuild, min/max included."""
    from skopje_spark.operators.ivm import ivm_build
    from skopje_spark.sinks.versioned import versioned_delete, versioned_upsert

    base_p, view_p = str(tmp_path / "cfb"), str(tmp_path / "cfv")
    versioned_write(
        _base(spark, [(1, "a", 10), (2, "a", 20), (3, "b", 30)]), base_p
    )
    kw = dict(
        table_keys=["id"], group_keys=["grp"], sum_cols=["v"],
        min_cols=["v"], max_cols=["v"],
    )
    versioned_ivm_view(spark, base_p, view_p, **kw)

    # commit chain, all CDF-recorded: insert 9, update it, update 1,
    # delete 9 and 3 — key 9 must net to zero across the chain
    versioned_upsert(
        spark, base_p, _base(spark, [(9, "c", 90)]), ["id"], change_feed=True
    )
    versioned_upsert(
        spark, base_p, _base(spark, [(9, "c", 91), (1, "a", 11)]), ["id"],
        change_feed=True,
    )
    versioned_delete(spark, base_p, "id IN (9, 3)", change_feed=True)

    v = versioned_ivm_view(spark, base_p, view_p, use_change_feed=True, **kw)
    assert snapshot_meta(view_p, "op", version=v) == "ivm_feed"
    final_rows = [(1, "a", 11), (2, "a", 20)]
    expect = ivm_build(
        _base(spark, final_rows), ["grp"], sum_cols=["v"],
        min_cols=["v"], max_cols=["v"],
    )
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)
    # base content sanity: the feed described exactly what happened
    assert _rows(versioned_read(spark, base_p)) == _rows(_base(spark, final_rows))

    # a NON-recorded commit in the range makes the feed refresh refuse
    versioned_upsert(spark, base_p, _base(spark, [(4, "d", 40)]), ["id"])
    with pytest.raises(ValueError, match="change_feed=True"):
        versioned_ivm_view(spark, base_p, view_p, use_change_feed=True, **kw)


def test_stream_materialized_view_via_change_feed(spark, tmp_path):
    """use_change_feed=True end to end: every stream MERGE records its
    logical changes and the per-batch view refresh folds the FEED —
    base commits carry cdc markers, view commits carry op=ivm_feed,
    and the final rollup is row-identical to a rebuild (group move
    included)."""
    import json as _json
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import (
        versioned_stream_materialized_view,
    )
    from skopje_spark.streaming.streams import file_stream

    schema = "id long, grp string, v long"
    src = tmp_path / "srccf"
    src.mkdir()
    batches = [
        [{"id": 1, "grp": "a", "v": 10}, {"id": 2, "grp": "a", "v": 20}],
        [{"id": 2, "grp": "b", "v": 21}, {"id": 3, "grp": "b", "v": 30}],
        [{"id": 4, "grp": "a", "v": 40}],
    ]
    now = _time.time()
    for i, b in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for r in b:
                f.write(_json.dumps(r) + "\n")
        _os.utime(src / f"b{i}.json", (now - (3 - i) * 10,) * 2)

    base_p, view_p = str(tmp_path / "basecf"), str(tmp_path / "viewcf")
    stream = file_stream(spark, str(src), schema=schema, max_files_per_trigger=1)
    q = versioned_stream_materialized_view(
        stream, base_p, view_p, ["id"], str(tmp_path / "ckcf"),
        group_keys=["grp"], sum_cols=["v"], use_change_feed=True,
    )
    q.awaitTermination()

    final_base = [(1, "a", 10), (2, "b", 21), (3, "b", 30), (4, "a", 40)]
    expect = ivm_build(
        spark.createDataFrame(final_base, schema), ["grp"], sum_cols=["v"]
    )
    assert _rows(versioned_read(spark, view_p)) == _rows(expect)
    bv, vv = latest_version(base_p), latest_version(view_p)
    assert snapshot_meta(view_p, "base_version", version=vv) == str(bv)
    assert snapshot_meta(view_p, "op", version=vv) == "ivm_feed"
    # every post-creation base commit recorded its feed
    for v in range(1, bv + 1):
        assert snapshot_meta(base_p, "cdc_files", version=v) is not None
