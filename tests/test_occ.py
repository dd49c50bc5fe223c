"""Optimistic concurrency for the versioned store
(sinks/versioned.py: expected_version CAS commits, _commit_lock,
versioned_merge_concurrent)."""

from __future__ import annotations

import os
import threading
import time

import pytest

from skopje_spark.sinks.versioned import (
    CommitConflict,
    latest_version,
    versioned_merge_concurrent,
    versioned_read,
    versioned_write,
)


def _df(spark, rows):
    return spark.createDataFrame(rows, "k long, v string")


def test_cas_commit_rejects_stale_base(spark, tmp_path):
    path = str(tmp_path / "t")
    assert versioned_write(_df(spark, [(1, "a")]), path, expected_version=None) == 0
    # writer A advances from 0
    assert versioned_write(_df(spark, [(1, "b")]), path, expected_version=0) == 1
    # writer B still believes base is 0 → must lose, nothing published
    with pytest.raises(CommitConflict, match="expected 0"):
        versioned_write(_df(spark, [(1, "c")]), path, expected_version=0)
    assert latest_version(path) == 1
    assert versioned_read(spark, path).collect()[0]["v"] == "b"
    # a lost race leaves no staged residue behind
    assert not [d for d in os.listdir(path) if d.startswith(".staged-")]


def test_cas_empty_table_assertion(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a")]), path)
    with pytest.raises(CommitConflict):
        versioned_write(_df(spark, [(2, "b")]), path, expected_version=None)


def test_fresh_lock_conflicts_stale_lock_is_stolen(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a")]), path)
    lock = os.path.join(path, "_COMMIT_LOCK")
    # fresh lock (live writer): guarded commit must conflict fast
    with open(lock, "w") as f:
        f.write("someone")
    with pytest.raises(CommitConflict, match="holds the lock"):
        versioned_write(_df(spark, [(1, "b")]), path, expected_version=0)
    # stale lock (crashed writer): stolen, commit proceeds
    old = time.time() - 10_000
    os.utime(lock, (old, old))
    assert (
        versioned_write(
            _df(spark, [(1, "b")]), path, expected_version=0, lock_timeout_s=600
        )
        == 1
    )
    assert not os.path.exists(lock)


def test_concurrent_merges_all_land(spark, tmp_path):
    """8 racing writers upserting disjoint keys through the optimistic
    retry loop: every update lands, versions serialize consecutively,
    no lost updates."""
    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(999, "base")]), path)

    n_writers, errors = 8, []

    def worker(i: int) -> None:
        try:
            versioned_merge_concurrent(
                spark, path, _df(spark, [(i, f"w{i}")]), ["k"],
                max_retries=16, backoff_s=0.05,
            )
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(n_writers)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert latest_version(path) == n_writers  # base v0 + one commit each
    rows = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert rows[999] == "base"
    for i in range(n_writers):
        assert rows[i] == f"w{i}"


def test_same_key_races_serialize_last_commit_wins(spark, tmp_path):
    """Two writers updating the SAME key: both commits land (two new
    versions), the later commit's value survives — sequential-upsert
    semantics in commit order, no torn state."""
    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(7, "orig")]), path)
    results = {}

    def worker(tag: str) -> None:
        results[tag] = versioned_merge_concurrent(
            spark, path, _df(spark, [(7, tag)]), ["k"],
            max_retries=16, backoff_s=0.05,
        )

    a = threading.Thread(target=worker, args=("alpha",))
    b = threading.Thread(target=worker, args=("beta",))
    a.start(); b.start(); a.join(); b.join()
    assert sorted(results.values()) == [1, 2]
    winner = max(results, key=results.get)
    rows = versioned_read(spark, path).collect()
    assert len(rows) == 1 and rows[0]["v"] == winner
    # history: the loser's intermediate value is time-travelable
    loser = min(results, key=results.get)
    prev = versioned_read(spark, path, version=results[loser]).collect()
    assert prev[0]["v"] == loser


def test_schema_evolution_opt_in(spark, tmp_path):
    """evolve_schema=True: an upsert adding a column commits with NULL
    backfill for kept rows; a later narrow upsert keeps the evolved
    column (NULL for its own rows); strict default still raises; time
    travel serves each version's own schema."""
    from skopje_spark.sinks.versioned import versioned_upsert

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a"), (2, "b")]), path)

    wide = spark.createDataFrame([(2, "b2", 9.5)], "k long, v string, score double")
    with pytest.raises(Exception):  # strict default: schema drift is an error
        versioned_upsert(spark, path, wide, ["k"])
    v1 = versioned_upsert(spark, path, wide, ["k"], evolve_schema=True)
    rows = {r["k"]: r for r in versioned_read(spark, path).collect()}
    assert rows[1]["score"] is None and rows[2]["score"] == 9.5

    narrow = _df(spark, [(3, "c")])
    versioned_upsert(spark, path, narrow, ["k"], evolve_schema=True)
    rows = {r["k"]: r for r in versioned_read(spark, path).collect()}
    assert set(rows) == {1, 2, 3}
    assert rows[3]["score"] is None and rows[2]["score"] == 9.5

    # time travel: v0 has the original two-column schema
    v0 = versioned_read(spark, path, version=0)
    assert v0.columns == ["k", "v"]
    assert versioned_read(spark, path, version=v1).columns == ["k", "v", "score"]

    # the concurrent merge honors the same flag
    wider = spark.createDataFrame([(4, "d", 1.0, "x")],
                                  "k long, v string, score double, tag string")
    versioned_merge_concurrent(spark, path, wider, ["k"], evolve_schema=True)
    rows = {r["k"]: r for r in versioned_read(spark, path).collect()}
    assert rows[4]["tag"] == "x" and rows[1]["tag"] is None


def test_guarded_compaction_loses_race_loudly(spark, tmp_path):
    """The compaction/ingest race: an unguarded compactor that read v0
    would overwrite a merge that landed v1 (dropping its rows);
    guarded=True turns that silent data loss into a CommitConflict,
    and a re-run against the new latest preserves everything."""
    from skopje_spark.sinks.versioned import versioned_compact, versioned_upsert

    path = str(tmp_path / "t")
    versioned_write(
        _df(spark, [(i, f"v{i}") for i in range(50)]).repartition(8), path
    )

    # simulate the race: a merge lands AFTER the compactor resolved v0
    # but BEFORE its commit — with the guard the stale commit must fail.
    # (Interleave by hand: upsert first, then attempt a guarded commit
    # carrying expected_version=0 the way the compactor would.)
    versioned_upsert(spark, path, _df(spark, [(999, "landed")]), ["k"])
    stale = versioned_read(spark, path, version=0).coalesce(1)
    with pytest.raises(CommitConflict):
        versioned_write(stale, path, expected_version=0)
    assert any(r["k"] == 999 for r in versioned_read(spark, path).collect())

    # the re-run path: guarded compaction against the current latest
    v = versioned_compact(spark, path, target_files=1, guarded=True)
    got = versioned_read(spark, path, version=v)
    assert got.count() == 51 and any(r["k"] == 999 for r in got.collect())


def test_versioned_history_surface(spark, tmp_path):
    """versioned_history: committed versions only (crash residue
    excluded), latest flagged, byte/file metadata present, counts on
    demand, markers JSON-sorted."""
    import json
    import os as _os

    from skopje_spark.sinks.versioned import versioned_history

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a"), (2, "b")]), path)
    versioned_write(_df(spark, [(1, "a")]), path, meta={"op": "shrink", "z": "1"})
    # crash residue past the pointer: must not appear in history
    _os.makedirs(_os.path.join(path, "v=9"))
    h = versioned_history(spark, path, with_counts=True).collect()
    assert [r["version"] for r in h] == [0, 1]
    assert [r["is_latest"] for r in h] == [False, True]
    assert [r["n_rows"] for r in h] == [2, 1]
    assert all(r["n_files"] >= 1 and r["n_bytes"] > 0 for r in h)
    meta = json.loads(h[1]["meta"])
    assert float(meta.pop("commit_ts")) > 0  # every commit is timestamped
    assert meta == {"op": "shrink", "z": "1"}
    # without counts: no job-per-version, no n_rows column
    h2 = versioned_history(spark, path)
    assert "n_rows" not in h2.columns


def _clustered(spark, path, n=80, files=8):
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(n)], "k long, v string"
    )
    versioned_write(
        df.repartitionByRange(files, "k").sortWithinPartitions("k"), path
    )
    return df


def test_rebase_lands_metadata_only_on_disjoint_race(spark, tmp_path):
    """A lost CAS race against a key-disjoint interloper resolves by
    manifest rebase: no re-derive, interloper's file carried by
    reference, rebase markers recorded, content = serial result."""
    from skopje_spark.sinks.versioned import (
        _read_manifest,
        snapshot_meta,
        versioned_append,
        versioned_upsert,
    )

    path = str(tmp_path / "t")
    _clustered(spark, path)
    # interloper: blind append of provably-disjoint keys → v1
    versioned_append(
        spark, path, _df(spark, [(1000, "x"), (1001, "y")])
    )
    appended = {
        e["path"] for e in _read_manifest(path, 1)["files"]
    } - {e["path"] for e in _read_manifest(path, 0)["files"]}
    # our writer still pinned to base v0: rebase resolves the race
    v = versioned_upsert(
        spark, path, _df(spark, [(3, "NEW")]), ["k"],
        expected_version=0, rebase_on_conflict=True,
    )
    assert v == 2
    assert snapshot_meta(path, "rebased_onto", version=2) == "1"
    assert snapshot_meta(path, "n_rebased_over", version=2) == "1"
    # interloper's appended file rides into v2 BY REFERENCE
    assert appended <= {e["path"] for e in _read_manifest(path, 2)["files"]}
    rows = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert rows[3] == "NEW" and rows[1000] == "x" and len(rows) == 82
    # partial-rewrite economics survived the rebase
    assert int(snapshot_meta(path, "n_files_rewritten", version=2)) <= 2


def test_rebase_refused_when_candidate_file_touched(spark, tmp_path):
    """An interloper that rewrote (or DV-deleted) a file our merge
    read from makes the staged output stale — rebase must refuse."""
    from skopje_spark.sinks.versioned import versioned_delete, versioned_upsert

    path = str(tmp_path / "t")
    _clustered(spark, path)
    # interloper rewrites the bucket holding key 3
    versioned_upsert(spark, path, _df(spark, [(4, "theirs")]), ["k"])
    with pytest.raises(CommitConflict, match="touched rewritten file"):
        versioned_upsert(
            spark, path, _df(spark, [(3, "ours")]), ["k"],
            expected_version=0, rebase_on_conflict=True,
        )
    # DV flavor: a concurrent DELETE pinning a vector onto our candidate
    path2 = str(tmp_path / "t2")
    _clustered(spark, path2)
    versioned_delete(spark, path2, "k = 2")
    with pytest.raises(CommitConflict, match="touched rewritten file"):
        versioned_upsert(
            spark, path2, _df(spark, [(3, "ours")]), ["k"],
            expected_version=0, rebase_on_conflict=True,
        )


def test_rebase_refused_when_added_files_may_match(spark, tmp_path):
    """Concurrently ADDED files whose stats overlap our update keys
    would have been merge candidates under serial order — refuse."""
    from skopje_spark.sinks.versioned import versioned_append, versioned_upsert

    path = str(tmp_path / "t")
    _clustered(spark, path)
    versioned_append(
        spark, path, _df(spark, [(200, "x"), (300, "y")]).coalesce(1)
    )
    with pytest.raises(CommitConflict, match="may contain update keys"):
        versioned_upsert(
            spark, path, _df(spark, [(250, "ours")]), ["k"],
            expected_version=0, rebase_on_conflict=True,
        )


def test_rebase_refused_on_schema_or_constraint_change(spark, tmp_path):
    """A concurrent rename or CHECK-constraint change invalidates the
    staged commit's read/validation premises — refuse both."""
    from skopje_spark.sinks.versioned import (
        set_check_constraint,
        versioned_rename_column,
        versioned_upsert,
    )

    path = str(tmp_path / "t")
    _clustered(spark, path)
    versioned_rename_column(path, "v", "val")
    with pytest.raises(CommitConflict, match="changed the table schema"):
        versioned_upsert(
            spark, path, _df(spark, [(3, "ours")]), ["k"],
            expected_version=0, rebase_on_conflict=True,
        )
    path2 = str(tmp_path / "t2")
    _clustered(spark, path2)
    set_check_constraint(spark, path2, "k_small", "k < 10000")
    with pytest.raises(CommitConflict, match="CHECK"):
        versioned_upsert(
            spark, path2, _df(spark, [(3, "ours")]), ["k"],
            expected_version=0, rebase_on_conflict=True,
        )


def test_append_rebase_commutes_with_any_commit(spark, tmp_path):
    """A guarded blind append rebases over even a key-overlapping
    interloper merge: appends read nothing, so they commute."""
    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_append,
        versioned_upsert,
    )

    path = str(tmp_path / "t")
    _clustered(spark, path)
    versioned_upsert(spark, path, _df(spark, [(3, "theirs")]), ["k"])
    v = versioned_append(
        spark, path, _df(spark, [(3, "dup-ok"), (5000, "new")]),
        expected_version=0, rebase_on_conflict=True,
    )
    assert v == 2 and snapshot_meta(path, "rebased_onto", version=2) == "1"
    rows = [r["v"] for r in versioned_read(spark, path).collect()]
    assert "theirs" in rows and "dup-ok" in rows and "new" in rows
    assert len(rows) == 82  # 80 base + 2 appended (k=3 duplicated verbatim)


def test_append_rebase_carries_segments_unopened(
    spark, tmp_path, monkeypatch
):
    """A guarded append that loses its CAS to a concurrent append
    re-targets the new latest through the blind-append loop: both
    batches land, and the latest's segments ride by reference, so no
    manifest segment file is ever read."""
    import builtins

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import snapshot_meta, versioned_append

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = str(tmp_path / "t")
    _clustered(spark, path)
    versioned_append(spark, path, _df(spark, [(1000, "theirs")]))  # v1
    assert V._read_manifest(path, 1)["segments"]
    seg_reads: list[str] = []

    def counting_open(file, mode="r", *a, **kw):
        name = os.path.basename(str(file))
        if name.startswith("seg-") and name.endswith(".json") and "w" not in mode:
            seg_reads.append(name)
        return builtins.open(file, mode, *a, **kw)

    monkeypatch.setattr(V, "open", counting_open, raising=False)
    v = versioned_append(
        spark, path, _df(spark, [(2000, "ours")]),
        expected_version=0, rebase_on_conflict=True,
    )
    monkeypatch.undo()
    assert seg_reads == []
    assert v == 2 and snapshot_meta(path, "rebased_onto", version=2) == "1"
    rows = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert rows[1000] == "theirs" and rows[2000] == "ours"
    assert len(rows) == 82


def test_dml_rebase_opens_only_touched_and_changed_segments(
    spark, tmp_path, monkeypatch
):
    """A rebased upsert, merge and key-frame delete each lose their CAS
    to a key-disjoint append. Each opens only the segments its plan
    opened, the latest's segments the base lacks and the base's
    segments the latest lacks; every other segment of the latest rides
    into the rebased commit by reference, and the rows equal the serial
    result."""
    import builtins
    import json

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_append,
        versioned_delete,
        versioned_merge,
        versioned_upsert,
    )

    monkeypatch.setattr(V, "_SEG_TARGET", 4)

    def refs(path, v):
        with open(os.path.join(path, f"v={v}", "_MANIFEST.json")) as f:
            return {r["path"] for r in json.load(f)["segments"]}

    def holding(path, v, key):
        """The version's segments with a file whose key range holds key."""
        out = set()
        for rel in refs(path, v):
            with open(os.path.join(path, rel)) as f:
                entries = json.load(f)
            if any(
                e["stats"]["k"]["min"] <= key <= e["stats"]["k"]["max"]
                for e in entries
            ):
                out.add(rel)
        return out

    ops = {
        "upsert": lambda p: versioned_upsert(
            spark, p, _df(spark, [(3, "NEW")]), ["k"],
            expected_version=0, rebase_on_conflict=True,
        ),
        "merge": lambda p: versioned_merge(
            spark, p, _df(spark, [(3, "NEW")]), ["k"],
            expected_version=0, rebase_on_conflict=True,
        ),
        "delete": lambda p: versioned_delete(
            spark, p, spark.createDataFrame([(3,)], "k long"),
            expected_version=0, rebase_on_conflict=True,
        ),
    }
    for name, op in ops.items():
        path = str(tmp_path / name)
        _clustered(spark, path, n=320, files=32)
        versioned_append(spark, path, _df(spark, [(1000, "theirs")]))  # v1
        allowed = holding(path, 0, 3) | (refs(path, 0) ^ refs(path, 1))
        seg_reads: list[str] = []

        def counting_open(file, mode="r", *a, **kw):
            name_ = os.path.basename(str(file))
            if name_.startswith("seg-") and name_.endswith(".json") and (
                "w" not in mode
            ):
                seg_reads.append(f"data/{name_}")
            return builtins.open(file, mode, *a, **kw)

        monkeypatch.setattr(V, "open", counting_open, raising=False)
        v = op(path)
        monkeypatch.delattr(V, "open")
        assert set(seg_reads) <= allowed, (name, set(seg_reads) - allowed)
        assert v == 2 and snapshot_meta(path, "rebased_onto", version=2) == "1"
        opened = int(snapshot_meta(path, "n_segments_opened", version=2))
        total = int(snapshot_meta(path, "n_segments_total", version=2))
        assert opened < total, (name, opened, total)
        expected = [(i, f"r{i}") for i in range(320) if i != 3] + [
            (1000, "theirs")
        ]
        if name != "delete":
            expected.append((3, "NEW"))
        got = sorted(tuple(r) for r in versioned_read(spark, path).collect())
        assert got == sorted(expected), name


def test_scoped_compaction_and_purge_open_only_their_segments(
    spark, tmp_path, monkeypatch
):
    """A ``where=`` compaction opens no segment whose ref aggregates are
    disjoint from the scope, and a purge opens no segment whose ref
    records zero deleted rows; every other segment rides into the
    commit by reference, and the rows equal the parent version's."""
    import builtins
    import json

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_compact,
        versioned_delete,
        versioned_purge,
    )

    monkeypatch.setattr(V, "_SEG_TARGET", 4)

    def refs(path, v):
        with open(os.path.join(path, f"v={v}", "_MANIFEST.json")) as f:
            return json.load(f)["segments"]

    def rows(path, v):
        return sorted(tuple(r) for r in versioned_read(
            spark, path, version=v
        ).collect())

    def run_counting(fn):
        seg_reads: list[str] = []

        def counting_open(file, mode="r", *a, **kw):
            name_ = os.path.basename(str(file))
            if name_.startswith("seg-") and name_.endswith(".json") and (
                "w" not in mode
            ):
                seg_reads.append(f"data/{name_}")
            return builtins.open(file, mode, *a, **kw)

        monkeypatch.setattr(V, "open", counting_open, raising=False)
        try:
            return fn(), set(seg_reads)
        finally:
            monkeypatch.delattr(V, "open")

    def opened_lt_total(path, v):
        opened = int(snapshot_meta(path, "n_segments_opened", version=v))
        total = int(snapshot_meta(path, "n_segments_total", version=v))
        return opened < total

    # scoped compaction: segments whose k range misses [0, 59] stay shut
    path = str(tmp_path / "compact")
    _clustered(spark, path, n=320, files=32)
    allowed = {
        r["path"] for r in refs(path, 0)
        if r["stats"]["k"]["min"] <= 59 and r["stats"]["k"]["max"] >= 0
    }
    v, seg_reads = run_counting(lambda: versioned_compact(
        spark, path, where={"k": (0, 59)}, target_files=1
    ))
    assert v == 1 and int(snapshot_meta(path, "n_files_compacted", version=1))
    assert seg_reads <= allowed, seg_reads - allowed
    assert opened_lt_total(path, 1)
    assert rows(path, 1) == rows(path, 0)

    # purge: only segments whose ref records deleted rows are opened
    path = str(tmp_path / "purge")
    _clustered(spark, path, n=320, files=32)
    versioned_delete(spark, path, "k IN (3, 4, 5)")  # v1: one file's DVs
    allowed = {r["path"] for r in refs(path, 1) if r["dv_rows"]}
    v, seg_reads = run_counting(lambda: versioned_purge(
        spark, path, min_dv_ratio=0.1
    ))
    assert v == 2 and int(snapshot_meta(path, "n_files_purged", version=2))
    assert seg_reads <= allowed, seg_reads - allowed
    assert opened_lt_total(path, 2)
    assert rows(path, 2) == rows(path, 1)
    assert not [r for r in refs(path, 2) if r["dv_rows"]]


def test_dv_delete_rebase_on_disjoint_delete_race(spark, tmp_path):
    """Two DV deletes racing on DIFFERENT files: the loser rebases
    metadata-only and BOTH deletes are effective in the final
    snapshot."""
    from skopje_spark.sinks.versioned import snapshot_meta, versioned_delete

    path = str(tmp_path / "t")
    _clustered(spark, path)  # keys 0..79 in 8 range files
    # interloper deletes from the low bucket -> v1
    versioned_delete(spark, path, "k = 2")
    # our delete, pinned to v0, targets the HIGH bucket -> rebase
    v = versioned_delete(
        spark, path, "k = 75",
        expected_version=0, rebase_on_conflict=True,
    )
    assert v == 2
    assert snapshot_meta(path, "rebased_onto", version=2) == "1"
    keys = {r["k"] for r in versioned_read(spark, path).collect()}
    assert 2 not in keys and 75 not in keys and len(keys) == 78


def test_dv_delete_rebase_keyframe_vs_append(spark, tmp_path):
    """A KEY-FRAME delete (replica-apply shape) proves disjointness
    against a concurrently appended file by stats and rebases; a
    PREDICATE delete racing an append must refuse."""
    from skopje_spark.sinks.versioned import versioned_append, versioned_delete

    path = str(tmp_path / "t")
    _clustered(spark, path)
    versioned_append(
        spark, path, _df(spark, [(1000, "x")]).coalesce(1)
    )                                                                   # v1
    kf = spark.createDataFrame([(5,)], "k long")
    v = versioned_delete(
        spark, path, kf, expected_version=0, rebase_on_conflict=True
    )
    assert v == 2
    keys = {r["k"] for r in versioned_read(spark, path).collect()}
    assert 5 not in keys and 1000 in keys

    path2 = str(tmp_path / "t2")
    _clustered(spark, path2)
    versioned_append(spark, path2, _df(spark, [(1000, "x")]).coalesce(1))
    with pytest.raises(CommitConflict, match="predicate delete"):
        versioned_delete(
            spark, path2, "k = 5",
            expected_version=0, rebase_on_conflict=True,
        )


def test_dv_delete_rebase_refused_when_vectorized_file_touched(spark, tmp_path):
    """An interloper that rewrote (or double-vectorized) the file our
    delete pinned positions into makes the positions stale — refuse."""
    from skopje_spark.sinks.versioned import versioned_delete, versioned_upsert

    path = str(tmp_path / "t")
    _clustered(spark, path)
    versioned_upsert(spark, path, _df(spark, [(6, "theirs")]), ["k"])   # v1
    with pytest.raises(CommitConflict, match="vectorized file"):
        versioned_delete(
            spark, path, "k = 5",
            expected_version=0, rebase_on_conflict=True,
        )


def test_racing_disjoint_range_writers_rebase_under_contention(spark, tmp_path):
    """6 writers racing on DISJOINT key ranges of a clustered table
    with rebase enabled (the default): every update lands, versions
    serialize consecutively, content is the serial union — and the
    rebase path itself is exercised under real thread contention
    (any lost race that rebased recorded its marker)."""
    from skopje_spark.sinks.versioned import snapshot_meta

    path = str(tmp_path / "t")
    rows = [(i, f"base{i}") for i in range(60)]
    versioned_write(
        spark.createDataFrame(rows, "k long, v string")
        .repartitionByRange(6, "k").sortWithinPartitions("k"),
        path,
    )
    errors = []

    def worker(i: int) -> None:
        try:
            upd = spark.createDataFrame(
                [(i * 10 + j, f"w{i}") for j in range(3)], "k long, v string"
            )
            versioned_merge_concurrent(
                spark, path, upd, ["k"], max_retries=16, backoff_s=0.05
            )
        except Exception as e:  # pragma: no cover - failure surface
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(6)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert latest_version(path) == 6
    got = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert len(got) == 60
    for i in range(6):
        for j in range(3):
            assert got[i * 10 + j] == f"w{i}"
    # rebase observability: any commit that rebased carries its markers
    for v in range(1, 7):
        onto = snapshot_meta(path, "rebased_onto", version=v)
        if onto is not None:
            assert int(onto) == v - 1


# ---------------------------------------------------------------------------
# metadata-only commits racing data commits: both effects must survive
# ---------------------------------------------------------------------------

def _inject_append_before_commit(monkeypatch, spark, path, rows, *, on_op):
    """Deterministically reproduce the round-9 hazard: a data commit
    lands in the window between a metadata op reading the latest
    version and publishing its manifest. The wrapper intercepts the
    metadata op's FIRST commit attempt (identified by its op marker),
    lands a real append, then lets the original commit proceed — the
    guarded CAS must lose and the retry must carry the appended
    files."""
    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import versioned_append

    orig = V._commit_manifest
    state = {"fired": False}

    def racy(p, schema_json, entries, meta, expected_version,
             lock_timeout_s, reuse_refs=None):
        if not state["fired"] and (meta or {}).get("op") == on_op:
            state["fired"] = True
            versioned_append(spark, path, _df(spark, rows))
        return orig(p, schema_json, entries, meta, expected_version,
                    lock_timeout_s, reuse_refs=reuse_refs)

    monkeypatch.setattr(V, "_commit_manifest", racy)
    return state


def test_analyze_racing_append_loses_cas_and_carries_it(
    spark, tmp_path, monkeypatch
):
    """ANALYZE racing one ingest commit: the ingest's rows survive
    (never silently reverted), the stats marker lands, and its
    as_of_version honestly reports the scanned (now stale) version."""
    from skopje_spark.sinks.versioned import table_stats, versioned_analyze

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a"), (2, "b")]), path)        # v0
    state = _inject_append_before_commit(
        monkeypatch, spark, path, [(3, "mid-race")], on_op="analyze"
    )
    v = versioned_analyze(spark, path)
    assert state["fired"] and v == 2  # append took v1, analyze v2
    rows = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert rows == {1: "a", 2: "b", 3: "mid-race"}  # ingest survived
    st = table_stats(path)
    assert st["n_rows"] == 2                 # describes the scanned v0
    assert st["as_of_version"] == 0          # not claimed current
    assert st["versions_stale"] == 2


def test_rename_racing_append_carries_the_ingest(spark, tmp_path, monkeypatch):
    from skopje_spark.sinks.versioned import versioned_rename_column

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a")]), path)                   # v0
    state = _inject_append_before_commit(
        monkeypatch, spark, path, [(2, "mid-race")], on_op="rename_column"
    )
    v = versioned_rename_column(path, "v", "val")
    assert state["fired"] and v == 2
    got = {r["k"]: r["val"] for r in versioned_read(spark, path).collect()}
    assert got == {1: "a", 2: "mid-race"}  # rename AND ingest both landed


def test_constraint_racing_append_validates_the_raced_rows(
    spark, tmp_path, monkeypatch
):
    """set_check_constraint racing an ingest: the retry re-validates
    against the NEW base, so rows landed mid-race are proven too — a
    violating mid-race batch turns the constraint commit into a loud
    ConstraintViolation instead of an unenforced constraint."""
    from skopje_spark.sinks.versioned import (
        ConstraintViolation,
        set_check_constraint,
        table_constraints,
    )

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a")]), path)                   # v0
    state = _inject_append_before_commit(
        monkeypatch, spark, path, [(5, "mid-race")], on_op="set_constraint"
    )
    v = set_check_constraint(spark, path, "k_pos", "k > 0")
    assert state["fired"] and v == 2
    assert table_constraints(path) == {"k_pos": "k > 0"}
    got = {r["k"] for r in versioned_read(spark, path).collect()}
    assert got == {1, 5}

    # violating flavor: the mid-race batch falsifies the constraint
    path2 = str(tmp_path / "t2")
    versioned_write(_df(spark, [(1, "a")]), path2)
    _inject_append_before_commit(
        monkeypatch, spark, path2, [(-9, "bad")], on_op="set_constraint"
    )
    with pytest.raises(ConstraintViolation):
        set_check_constraint(spark, path2, "k_pos", "k > 0")
    assert table_constraints(path2) == {}  # nothing published


def test_restore_racing_append_serializes_after_it(
    spark, tmp_path, monkeypatch
):
    """RESTORE racing an ingest: restore wins the serial order (that
    is what rolling back means) but the race is explicit — the
    ingest's commit stays in history, time-travelable, never
    silently overwritten by a stale manifest."""
    from skopje_spark.sinks.versioned import versioned_restore

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a")]), path)                   # v0
    versioned_write(_df(spark, [(1, "a"), (2, "b")]), path)         # v1
    state = _inject_append_before_commit(
        monkeypatch, spark, path, [(3, "mid-race")], on_op="restore"
    )
    v = versioned_restore(path, 0, spark=spark)
    assert state["fired"] and v == 3  # append v2, restore v3 (CAS retried)
    got = {r["k"] for r in versioned_read(spark, path).collect()}
    assert got == {1}  # restored content is the new latest
    mid = {r["k"] for r in versioned_read(spark, path, version=2).collect()}
    assert mid == {1, 2, 3}  # the raced ingest is real, committed history


def test_commits_wait_out_a_held_lock(spark, tmp_path, monkeypatch):
    """Another writer holds the commit lock for 0.3 s at each commit's
    first publish attempt. A connector-path blind append, a guarded
    append rebased off a stale base and a tag each back off through
    the lost-race loop and land once the lock frees."""
    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        table_refs,
        versioned_append,
        versioned_tag,
    )

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a")]), path)              # v0
    versioned_append(spark, path, _df(spark, [(2, "b")]))     # v1
    lock = os.path.join(path, "_COMMIT_LOCK")
    real = V._commit_manifest
    holders: list[threading.Timer] = []

    def lock_held_at_first_publish(*a, **kw):
        if not holders:
            with open(lock, "x") as f:
                f.write("another writer")
            holders.append(threading.Timer(0.3, os.unlink, args=(lock,)))
            holders[0].start()
        return real(*a, **kw)

    monkeypatch.setattr(V, "_commit_manifest", lock_held_at_first_publish)

    def commit_under_held_lock(commit):
        holders.clear()
        t0 = time.monotonic()
        v = commit()
        waited = time.monotonic() - t0
        holders[0].join(timeout=5)
        assert not holders[0].is_alive() and not os.path.exists(lock)
        return v, waited

    schema = V._read_manifest(path, 1)["schema"]
    v, waited = commit_under_held_lock(
        lambda: V._commit_blind_append(
            path, [], {"op": "append"}, schema_json=schema,
            constraints=None,
        )
    )
    assert v == 2 and waited >= 0.3
    v, _ = commit_under_held_lock(
        lambda: versioned_append(
            spark, path, _df(spark, [(3, "c")]),
            expected_version=1, rebase_on_conflict=True,
        )
    )
    assert v == 3 and snapshot_meta(path, "rebased_onto", version=3) == "2"
    v, waited = commit_under_held_lock(lambda: versioned_tag(path, "t1"))
    assert v == 4 and waited >= 0.3
    assert table_refs(path)["t1"]["version"] == 3
    assert {r["k"] for r in versioned_read(spark, path).collect()} == {1, 2, 3}


def test_publish_contract(spark, tmp_path, monkeypatch):
    """Every manifest is staged before the commit lock is taken; a
    refusal never reaches the publish step; a commit that loses every
    race makes exactly ``_COMMIT_TRIES`` tries with capped exponential
    backoff, then raises a plain (not retryable) CommitConflict."""
    import types

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import versioned_append

    path = str(tmp_path / "t")
    versioned_write(_df(spark, [(1, "a")]), path)
    lock = os.path.join(path, "_COMMIT_LOCK")
    real_write = V._write_manifest_dir
    locked_at_write: list[bool] = []

    def recording_write(*a, **kw):
        locked_at_write.append(os.path.exists(lock))
        return real_write(*a, **kw)

    monkeypatch.setattr(V, "_write_manifest_dir", recording_write)
    assert versioned_append(spark, path, _df(spark, [(2, "b")])) == 1
    assert locked_at_write == [False]

    real_publish = V._publish
    publishes: list[str] = []

    def counting_publish(p, *a, **kw):
        publishes.append(p)
        return real_publish(p, *a, **kw)

    monkeypatch.setattr(V, "_publish", counting_publish)
    with pytest.raises(CommitConflict, match="schema") as refused:
        V._commit_blind_append(
            path, [], {"op": "append"},
            schema_json={"type": "struct", "fields": []}, constraints=None,
        )
    assert type(refused.value) is CommitConflict and publishes == []

    def losing_publish(p, *a, **kw):
        publishes.append(p)
        raise V.LostRace(f"table at {p} moved")

    sleeps: list[float] = []
    monkeypatch.setattr(V, "_publish", losing_publish)
    monkeypatch.setattr(
        V, "time", types.SimpleNamespace(time=time.time, sleep=sleeps.append)
    )
    schema = V._read_manifest(path, 1)["schema"]
    with pytest.raises(CommitConflict, match="consecutive races") as lost:
        V._commit_blind_append(
            path, [], {"op": "append"}, schema_json=schema, constraints=None,
        )
    assert type(lost.value) is CommitConflict
    assert len(publishes) == V._COMMIT_TRIES
    assert sleeps == [
        min(V._BACKOFF_CAP_S, V._BACKOFF_S * 2**i)
        for i in range(V._COMMIT_TRIES - 1)
    ]
    assert latest_version(path) == 1
