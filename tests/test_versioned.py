"""Unit tests: versioned snapshot table (time travel, atomic commit,
upsert-as-commit, vacuum), manifest data skipping, and the streaming
join helpers."""

from __future__ import annotations

import json
import os

import pytest
from pyspark.sql import functions as F

from skopje_spark.sinks.versioned import (
    latest_version,
    vacuum,
    versioned_read,
    versioned_upsert,
    versioned_write,
)
from skopje_spark.sources.skipping import (
    pruned_scan,
    write_clustered,
    write_manifest,
)
from skopje_spark.streaming import (
    file_stream,
    run_available_now,
    stream_static_join,
    stream_stream_join,
)


def _kv(spark, pairs):
    return spark.createDataFrame(pairs, ["k", "v"])


def test_versioned_write_read_time_travel(spark, tmp_path):
    path = str(tmp_path / "vt")
    v0 = versioned_write(_kv(spark, [(1, "a"), (2, "b")]), path)
    v1 = versioned_write(_kv(spark, [(1, "a2"), (3, "c")]), path)
    assert (v0, v1) == (0, 1)
    assert latest_version(path) == 1
    # latest reflects the last commit; pinned read sees history
    assert {r["v"] for r in versioned_read(spark, path).collect()} == {"a2", "c"}
    assert {r["v"] for r in versioned_read(spark, path, version=0).collect()} == {
        "a",
        "b",
    }


def test_versioned_upsert_merges_and_preserves_history(spark, tmp_path):
    path = str(tmp_path / "vu")
    versioned_write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    versioned_upsert(spark, path, _kv(spark, [(2, "B"), (4, "d")]), ["k"])
    now = dict((r["k"], r["v"]) for r in versioned_read(spark, path).collect())
    assert now == {1: "a", 2: "B", 3: "c", 4: "d"}
    before = dict(
        (r["k"], r["v"]) for r in versioned_read(spark, path, version=0).collect()
    )
    assert before == {1: "a", 2: "b", 3: "c"}


def test_vacuum_drops_old_keeps_current(spark, tmp_path):
    path = str(tmp_path / "vv")
    for i in range(4):
        versioned_write(_kv(spark, [(i, str(i))]), path)
    removed = vacuum(path, keep=2)
    assert removed == [0, 1]
    assert versioned_read(spark, path).count() == 1  # v3 intact
    with pytest.raises(FileNotFoundError):
        versioned_read(spark, path, version=0)


def test_upsert_partial_rewrite_touches_only_matched_files(spark, tmp_path):
    """The manifest MERGE economics: on a key-clustered table, a
    narrow upsert rewrites ONLY the files whose [min,max] key stats
    can contain a matched key — every other file is carried into the
    new manifest by reference — while the committed content is
    identical to a full read-all/rewrite-all merge."""
    from skopje_spark.sinks.versioned import _read_manifest, snapshot_meta

    path = str(tmp_path / "pr")
    base = (
        spark.range(0, 1000)
        .select(F.col("id").alias("k"), (F.col("id") % 97).alias("v"))
        .repartitionByRange(8, "k")
        .sortWithinPartitions("k")
    )
    versioned_write(base, path)
    files0 = {e["path"] for e in _read_manifest(path, 0)["files"]}
    assert len(files0) == 8

    # updates hit keys 10..19 — one range bucket
    upd = spark.range(10, 20).select(
        F.col("id").alias("k"), F.lit(-1).cast("long").alias("v")
    )
    versioned_upsert(spark, path, upd, ["k"])
    files1 = {e["path"] for e in _read_manifest(path, 1)["files"]}

    carried = files0 & files1
    assert len(carried) == 7, f"expected 7 carried files, got {len(carried)}"
    assert snapshot_meta(path, "n_files_rewritten", version=1) == "1"
    assert snapshot_meta(path, "n_files_carried", version=1) == "7"

    # content identical to the full merge, history intact
    got = {(r["k"], r["v"]) for r in versioned_read(spark, path).collect()}
    want = {(i, -1 if 10 <= i < 20 else i % 97) for i in range(1000)}
    assert got == want
    assert versioned_read(spark, path, version=0).count() == 1000


def test_upsert_null_keys_and_statless_files_stay_correct(spark, tmp_path):
    """NULL update keys follow SQL MERGE semantics (NULL never equals
    NULL in the match, so they INSERT — same as the pre-manifest
    merge), and pruning stays conservative around them: the committed
    result is identical to a full rewrite regardless of which files
    the stats elected."""
    path = str(tmp_path / "nullk")
    base = spark.createDataFrame(
        [(None, "n0"), (1, "a"), (2, "b"), (50, "z")], "k int, v string"
    ).repartitionByRange(2, "k")
    versioned_write(base, path)
    upd = spark.createDataFrame([(None, "N!"), (2, "B")], "k int, v string")
    versioned_upsert(spark, path, upd, ["k"])
    got = {(r["k"], r["v"]) for r in versioned_read(spark, path).collect()}
    # NULL-keyed rows never match: old NULL row kept, update NULL row
    # inserted alongside; keyed row 2 replaced
    assert got == {(None, "n0"), (None, "N!"), (1, "a"), (2, "B"), (50, "z")}


def test_vacuum_keep_window_ignores_residue_and_refcounts_pool(spark, tmp_path):
    """keep counts COMMITTED versions only (crash residue above the
    pointer never consumes a retention slot — it is deleted, not
    retained), and the data pool is ref-counted: files referenced by
    no retained manifest are unlinked once aged, files a retained
    manifest still lists survive."""
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import _DATA_DIR, _read_manifest

    path = str(tmp_path / "vrc")
    for i in range(4):
        versioned_write(_kv(spark, [(i, str(i))]), path)
    # crash residue above the pointer — aged past the residue sweep's
    # age gate (a FRESH v>committed dir is indistinguishable from an
    # in-flight commit and must survive; see
    # test_vacuum_age_gate_protects_in_flight_commit_dir)
    _os.makedirs(_os.path.join(path, "v=9"))

    v3_files = {e["path"] for e in _read_manifest(path, 3)["files"]}
    pool = _os.path.join(path, _DATA_DIR)
    # age every pooled file AND the residue dir so the age gate cannot
    # mask the refcount / residue semantics under test
    old = _time.time() - 3600
    _os.utime(_os.path.join(path, "v=9"), (old, old))
    for f in _os.listdir(pool):
        _os.utime(_os.path.join(pool, f), (old, old))

    removed = vacuum(path, keep=2, min_file_age_s=600)
    assert removed == [0, 1]
    assert not _os.path.isdir(_os.path.join(path, "v=9"))  # residue gone
    # retained versions fully readable; their files survived
    assert versioned_read(spark, path, version=2).count() == 1
    assert versioned_read(spark, path).count() == 1
    kept_pool = {f"{_DATA_DIR}/{f}" for f in _os.listdir(pool)}
    assert v3_files <= kept_pool
    # v0/v1's files (unreferenced + aged) are gone from the pool;
    # retained versions' manifest SEGMENT files survive the ref-count,
    # vacuumed versions' segments go with them
    kept_data = {p for p in kept_pool if not p.endswith(".json")}
    kept_segs = {p for p in kept_pool if p.endswith(".json")}
    assert kept_data == (
        {e["path"] for e in _read_manifest(path, 2)["files"]} | v3_files
    )
    referenced_segs = set()
    for v in (2, 3):
        with open(_os.path.join(path, f"v={v}", "_MANIFEST.json")) as f:
            import json as _json

            referenced_segs |= {
                r["path"] for r in _json.load(f)["segments"]
            }
    assert kept_segs == referenced_segs


def test_vacuum_age_gate_protects_fresh_orphans(spark, tmp_path):
    """A freshly pooled orphan (an in-flight or crashed writer's data
    file, not yet referenced by any manifest) must survive vacuum
    until it ages past min_file_age_s."""
    import os as _os

    from skopje_spark.sinks.versioned import _DATA_DIR

    path = str(tmp_path / "vage")
    versioned_write(_kv(spark, [(1, "a")]), path)
    pool = _os.path.join(path, _DATA_DIR)
    orphan = _os.path.join(pool, "deadbeef-orphan.parquet")
    with open(orphan, "wb") as f:
        f.write(b"not yet committed")
    vacuum(path, keep=1, min_file_age_s=600)
    assert _os.path.exists(orphan)  # too fresh to collect
    old = __import__("time").time() - 3600
    _os.utime(orphan, (old, old))
    vacuum(path, keep=1, min_file_age_s=600)
    assert not _os.path.exists(orphan)


def test_pointer_store_interface_routes_all_paths(spark, tmp_path, monkeypatch):
    """The commit backend contract (PosixPointerStore): swapping in a
    delegating store routes EVERY pointer resolution, version listing,
    and atomic swap through the interface — the store is the single
    correctness boundary an object-store backend must reimplement."""
    from skopje_spark.sinks import versioned as V

    calls = {"list": 0, "read": 0, "swap": 0}

    class CountingStore(V.PosixPointerStore):
        def list_versions(self, path):
            calls["list"] += 1
            return super().list_versions(path)

        def read_pointer(self, path):
            calls["read"] += 1
            return super().read_pointer(path)

        def swap_pointer(self, path, version):
            calls["swap"] += 1
            return super().swap_pointer(path, version)

    monkeypatch.setattr(V, "POINTER_STORE", CountingStore())
    path = str(tmp_path / "ps")
    versioned_write(_kv(spark, [(1, "a")]), path)
    versioned_upsert(spark, path, _kv(spark, [(1, "A"), (2, "b")]), ["k"])
    assert {r["k"]: r["v"] for r in versioned_read(spark, path).collect()} == {
        1: "A",
        2: "b",
    }
    vacuum(path, keep=1, min_file_age_s=0)
    assert calls["swap"] == 2  # one per commit
    assert calls["read"] > 0 and calls["list"] > 0


def test_pruned_scan_skips_files_and_matches_full_scan(spark, tmp_path):
    path = str(tmp_path / "skip")
    df = spark.range(0, 10000).select(
        F.col("id"), (F.col("id") % 13).alias("x")
    )
    write_clustered(df, path, "id", n_files=16)
    n = write_manifest(spark, path, ["id"])
    assert n == 16
    pruned = pruned_scan(spark, path, "id", 100, 299)
    full = spark.read.parquet(path).filter((F.col("id") >= 100) & (F.col("id") <= 299))
    # correctness: identical result set
    assert pruned.exceptAll(full).count() == 0 and full.exceptAll(pruned).count() == 0
    # skipping: touches a strict subset of files
    assert 0 < len(pruned.inputFiles()) < len(full.inputFiles())
    # empty-range predicate still yields a typed, empty result
    assert pruned_scan(spark, path, "id", 50000, 60000).count() == 0


def _write_json(dirpath, rows, fname="p0.json"):
    dirpath.mkdir(parents=True, exist_ok=True)
    with open(dirpath / fname, "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def test_stream_static_join_enriches(spark, tmp_path):
    src = tmp_path / "ss_src"
    _write_json(
        src,
        [
            {"event_id": 1, "ts": "2024-01-01T00:00:10", "user_id": "a", "value": 1.0},
            {"event_id": 2, "ts": "2024-01-01T00:00:20", "user_id": "b", "value": 2.0},
            {"event_id": 3, "ts": "2024-01-01T00:00:30", "user_id": "zz", "value": 3.0},
        ],
    )
    stream = file_stream(
        spark, str(src), schema="event_id long, ts timestamp, user_id string, value double"
    )
    dim = spark.createDataFrame([("a", "alice"), ("b", "bob")], ["user_id", "name"])
    out = run_available_now(
        stream_static_join(stream, dim, "user_id"), name="ssj"
    )
    got = {(r["event_id"], r["name"]) for r in out.collect()}
    assert got == {(1, "alice"), (2, "bob")}


def test_stream_stream_join_within_interval(spark, tmp_path):
    imp, clk = tmp_path / "imp", tmp_path / "clk"
    _write_json(
        imp,
        [
            {"ad": "x", "its": "2024-01-01T00:00:00"},
            {"ad": "y", "its": "2024-01-01T00:10:00"},
        ],
    )
    _write_json(
        clk,
        [
            {"ad": "x", "cts": "2024-01-01T00:03:00"},   # within 5 min of x
            {"ad": "y", "cts": "2024-01-01T00:30:00"},   # too late for y
        ],
    )
    left = file_stream(spark, str(imp), schema="ad string, its timestamp")
    right = file_stream(spark, str(clk), schema="ad string, cts timestamp")
    joined = stream_stream_join(
        left, right, on="ad", left_ts="its", right_ts="cts",
        watermark="1 minute", within="5 minutes",
    )
    out = run_available_now(joined.select(F.col("l.ad").alias("ad")), name="ssj2")
    assert [r["ad"] for r in out.collect()] == ["x"]
    # checkpoint dirs cleaned up by tmp_path; nothing persistent
    assert os.path.isdir(str(imp))


def test_versioned_changes_between_snapshots(spark, tmp_path):
    """CDC from time travel: the changelog between v0 and the upserted
    v1 must contain exactly the upsert's inserts and updates (and a
    delete when a key is dropped by a rewrite commit)."""
    from pyspark.sql import functions as F

    from skopje_spark.sinks.versioned import (
        versioned_changes,
        versioned_read,
        versioned_write,
    )

    path = str(tmp_path / "vt")
    base = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k bigint, v string"
    )
    v0 = versioned_write(base, path)
    # rewrite commit: update k=2, insert k=4, drop k=3
    nxt = spark.createDataFrame(
        [(1, "a"), (2, "B"), (4, "d")], "k bigint, v string"
    )
    v1 = versioned_write(nxt, path)

    ops = {
        r["k"]: r["__op"]
        for r in versioned_changes(
            spark, path, ["k"], from_version=v0, to_version=v1
        ).collect()
    }
    assert ops == {2: "U", 3: "D", 4: "I"}
    # default to_version resolves the committed latest
    assert {
        r["k"]: r["__op"]
        for r in versioned_changes(spark, path, ["k"], from_version=v0).collect()
    } == ops
    # sanity: both snapshots still readable (time travel intact)
    assert versioned_read(spark, path, version=v0).count() == 3
    assert versioned_read(spark, path, version=v1).count() == 3


def test_bloom_manifest_point_lookup_prunes_where_minmax_cannot(spark, tmp_path):
    """Bloom file-skipping (sources/skipping.py): a point lookup on a
    high-cardinality column whose per-file [min,max] ranges all
    overlap prunes via the per-file bloom bitmaps to a strict subset
    of the min/max survivors, with exact-result equivalence; the
    Python probe recipe agrees bit-for-bit with the Spark builder."""
    import numpy as np

    from skopje_spark.operators.bloom import (
        _bit_positions,
        bit_positions_py,
    )
    from skopje_spark.sources.skipping import pruned_point_scan

    path = str(tmp_path / "bloomskip")
    # cluster on id; uid is a sha-scrambled high-cardinality key, so
    # every file's [min_uid, max_uid] spans nearly the whole domain
    df = spark.range(0, 8000).select(
        F.col("id"),
        F.conv(F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 15), 16, 10)
        .cast("bigint")
        .alias("uid"),
    )
    write_clustered(df, path, "id", n_files=16)
    n = write_manifest(
        spark, path, ["id", "uid"], bloom_cols=["uid"], bloom_bits=1 << 14
    )
    assert n == 16

    # python/Spark probe agreement (int and string values)
    probe_df = spark.createDataFrame([(12345,), (999,)], "v bigint").select(
        F.array(*_bit_positions(F.col("v"), num_bits=1 << 14, k=5)).alias("p"),
        "v",
    )
    for r in probe_df.collect():
        assert list(r["p"]) == bit_positions_py(r["v"], num_bits=1 << 14, k=5)

    # pick a real uid; min/max alone keeps ~all files, bloom prunes
    target = df.filter(F.col("id") == 4321).collect()[0]["uid"]
    got = pruned_point_scan(spark, path, "uid", target)
    want = spark.read.parquet(path).filter(F.col("uid") == target)
    assert sorted(r["id"] for r in got.collect()) == sorted(
        r["id"] for r in want.collect()
    )
    minmax_survivors = pruned_scan(spark, path, "uid", target, target)
    n_bloom = len(got.inputFiles())
    n_minmax = len(minmax_survivors.inputFiles())
    assert n_bloom <= n_minmax  # bloom set ⊆ min/max set, always
    assert n_bloom < 16  # and it actually prunes on this layout
    assert n_minmax > n_bloom  # where min/max alone could not

    # absent value: definitely-absent everywhere -> empty typed frame
    assert pruned_point_scan(spark, path, "uid", -12345).count() == 0


def test_update_manifest_incremental_equals_rebuild(spark, tmp_path):
    """Incremental manifest maintenance (sources/skipping.py:
    update_manifest): after an append, stat-ing only the new files
    yields the same manifest rows as a full rebuild (min/max AND
    bloom bitmaps), pruning stays exact, and mismatched stat columns
    are rejected."""
    import pytest as _pytest

    from skopje_spark.sources.skipping import update_manifest

    path = str(tmp_path / "incman")
    df = spark.range(0, 4000).select(
        F.col("id"),
        F.conv(F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 15), 16, 10)
        .cast("bigint")
        .alias("uid"),
    )
    write_clustered(df, path, "id", n_files=8)
    n0 = write_manifest(
        spark, path, ["id", "uid"], bloom_cols=["uid"], bloom_bits=1 << 14
    )
    assert n0 == 8

    extra = spark.range(4000, 5000).select(
        F.col("id"),
        F.conv(F.substring(F.sha2(F.col("id").cast("string"), 256), 1, 15), 16, 10)
        .cast("bigint")
        .alias("uid"),
    )
    extra.coalesce(2).write.mode("append").parquet(path)

    n1 = update_manifest(spark, path, ["id", "uid"])
    assert n1 > n0

    import os as _os

    from skopje_spark.sources.skipping import MANIFEST_DIR, pruned_point_scan

    inc_rows = sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in spark.read.parquet(_os.path.join(path, MANIFEST_DIR)).collect()
    )
    # full rebuild (same geometry) must produce identical rows
    write_manifest(
        spark, path, ["id", "uid"], bloom_cols=["uid"], bloom_bits=1 << 14
    )
    full_rows = sorted(
        tuple(bytes(v) if isinstance(v, (bytes, bytearray)) else v for v in r)
        for r in spark.read.parquet(_os.path.join(path, MANIFEST_DIR)).collect()
    )
    assert inc_rows == full_rows

    # pruning still exact for an appended-range key
    target = extra.filter(F.col("id") == 4500).collect()[0]["uid"]
    got = sorted(r["id"] for r in pruned_point_scan(spark, path, "uid", target).collect())
    want = sorted(
        r["id"] for r in spark.read.parquet(path).filter(F.col("uid") == target).collect()
    )
    assert got == want and got  # found it

    # idempotent: nothing new -> same coverage, no error
    assert update_manifest(spark, path, ["id", "uid"]) == n1

    with _pytest.raises(ValueError, match="do not match"):
        update_manifest(spark, path, ["id"])


def test_versioned_write_recovers_from_crashed_commit(spark, tmp_path):
    """A writer that died after writing its snapshot but before the
    pointer swap leaves an uncommitted v=N directory; the next commit
    must clear the residue and succeed instead of wedging forever on
    errorifexists — readers never saw the orphan (they follow the
    pointer), so removal is safe under single-writer discipline."""
    import os as _os

    from skopje_spark.sinks.versioned import (
        latest_version,
        versioned_read,
        versioned_write,
    )

    path = str(tmp_path / "crashv")
    versioned_write(_kv(spark, [(1, "a")]), path)
    assert latest_version(path) == 0

    # simulate the crash: v=1 exists (with data files!) but was never
    # committed — the pointer still says 0
    _kv(spark, [(9, "junk")]).write.parquet(_os.path.join(path, "v=1"))
    assert latest_version(path) == 0

    v = versioned_write(_kv(spark, [(2, "b")]), path)
    assert v == 1 and latest_version(path) == 1
    got = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert got == {2: "b"}  # the junk residue is gone


def test_bloom_manifest_tolerates_null_keys(spark, tmp_path):
    """A NULL in a bloom column must not crash the manifest build
    (operators/bloom.py:fold_positions drops NULL probe rows — NULL
    never equals a point-lookup value, so no false negative), and
    pruning still returns exact results afterward."""
    from skopje_spark.sources.skipping import (
        pruned_point_scan,
        write_manifest,
    )

    path = str(tmp_path / "bloomnull")
    df = spark.range(0, 400).select(
        F.col("id"),
        F.when(F.col("id") % 7 == 0, None)
        .otherwise(F.concat(F.lit("u"), F.col("id")))
        .alias("uid"),
    )
    df.repartition(4).write.mode("overwrite").parquet(path)
    n = write_manifest(spark, path, ["id", "uid"], bloom_cols=["uid"])
    assert n >= 1
    got = pruned_point_scan(spark, path, "uid", "u123").collect()
    assert [r["id"] for r in got] == [123]
    assert pruned_point_scan(spark, path, "uid", "nope").count() == 0


def test_versioned_pruned_read_matches_filtered_scan(spark, tmp_path):
    """Scan-side file skipping (versioned_pruned_read): row-identical
    to the full read + exact filter, while the manifest interval split
    proves most files were never opened — and an interval past the key
    range short-circuits to an empty (correctly-typed) frame."""
    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        versioned_pruned_read,
        versioned_write,
    )

    path = str(tmp_path / "vpr")
    df = spark.range(0, 800).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 2).alias("v")
    )
    versioned_write(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"), path
    )
    got = sorted(
        (r["k"], r["v"])
        for r in versioned_pruned_read(spark, path, "k", 100, 250).collect()
    )
    exp = sorted(
        (r["k"], r["v"])
        for r in versioned_read(spark, path)
        .filter("k BETWEEN 100 AND 250")
        .collect()
    )
    assert got == exp and len(got) == 151
    cand, skipped = _interval_split(
        _read_manifest(path, 0)["files"], "k", 100, 250
    )
    assert len(cand) <= 3 and len(skipped) >= 5
    empty = versioned_pruned_read(spark, path, "k", 10_000, 10_001)
    assert empty.count() == 0 and [f.name for f in empty.schema] == ["k", "v"]


def test_vacuum_age_gate_protects_in_flight_commit_dir(spark, tmp_path):
    """The residue sweep must not delete a FRESH v>committed directory:
    a racing commit that has renamed its manifest dir into place but
    not yet swapped the pointer looks exactly like crash residue, and
    deleting it would leave _LATEST pointing at a missing manifest.
    Genuine residue is old; the sweep is age-gated like the pool pass."""
    import os as _os
    import time as _time

    path = str(tmp_path / "vres")
    versioned_write(_kv(spark, [(1, "a")]), path)
    vdir = _os.path.join(path, "v=7")
    _os.makedirs(vdir)
    with open(_os.path.join(vdir, "manifest.json"), "w") as f:
        f.write("{}")
    vacuum(path, keep=1, min_file_age_s=600)
    assert _os.path.isdir(vdir)  # fresh: could be an in-flight commit
    old = _time.time() - 3600
    _os.utime(vdir, (old, old))
    vacuum(path, keep=1, min_file_age_s=600)
    assert not _os.path.exists(vdir)  # aged residue collected


def test_upsert_nan_float_keys_replace_stale_rows(spark, tmp_path):
    """NaN merge keys: Spark's equi-join matches NaN = NaN, but NaN
    fails every ordered comparison, so interval pruning must never
    carry a file on the strength of min/max when the update set holds
    NaN keys — the stale NaN row has to be rewritten away, not survive
    alongside its replacement."""
    import math

    path = str(tmp_path / "vnan")
    base = spark.createDataFrame(
        [(1.0, "a"), (float("nan"), "old"), (5.0, "b")], "k double, v string"
    )
    versioned_write(base.repartitionByRange(2, "k"), path)
    upd = spark.createDataFrame([(float("nan"), "new")], "k double, v string")
    versioned_upsert(spark, path, upd, ["k"])
    rows = versioned_read(spark, path).collect()
    nan_vals = [r["v"] for r in rows if math.isnan(r["k"])]
    assert nan_vals == ["new"]  # replaced, not duplicated
    assert {r["v"] for r in rows if not math.isnan(r["k"])} == {"a", "b"}


def test_semantic_dedup_multiprobe_single_cell_is_safe(spark):
    """n_probe > 1 with k=1 (or a corpus whose training collapses to
    one centroid) has no 2nd cell to probe — the extra-probe branch
    must be skipped, not crash concatenating zero frames."""
    from skopje_spark.operators.dedup import semantic_dedup

    df = spark.createDataFrame(
        [(1, [1.0, 0.0]), (2, [0.99, 0.14]), (3, [0.0, 1.0])],
        "vec_id int, vec array<double>",
    )
    out = {
        r["vec_id"]: r["kept"]
        for r in semantic_dedup(
            df, id_col="vec_id", vec_col="vec", k=1, n_probe=3,
            threshold=0.95, iters=2,
        ).collect()
    }
    assert out[1] == 1 and out[2] == 0 and out[3] == 1


def test_delete_vectors_rewrite_nothing_and_read_applies(spark, tmp_path):
    """versioned_delete is merge-on-read: the commit writes DV sidecars
    only (zero data files rewritten — the marker and the pool listing
    both prove it), reads apply the vectors exactly, a second
    overlapping delete stays position-disjoint, and time travel still
    serves the undeleted snapshot."""
    import os as _os

    from skopje_spark.sinks.versioned import (
        _DATA_DIR,
        snapshot_meta,
        versioned_delete,
    )

    path = str(tmp_path / "vdv")
    df = spark.range(0, 100).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 10).alias("v")
    )
    versioned_write(df.repartitionByRange(4, "k"), path)
    pool = _os.path.join(path, _DATA_DIR)
    data_before = {
        f for f in _os.listdir(pool)
        if not f.startswith(("dv-", "seg-"))  # seg-* = manifest metadata
    }

    v1 = versioned_delete(spark, path, "k % 10 = 3")
    assert snapshot_meta(path, "op", version=v1) == "delete"
    assert snapshot_meta(path, "n_files_rewritten", version=v1) == "0"
    assert snapshot_meta(path, "n_rows_deleted", version=v1) == "10"
    data_after = {
        f for f in _os.listdir(pool) if not f.startswith(("dv-", "seg-"))
    }
    assert data_after == data_before  # no data file written or removed
    got = sorted(r["k"] for r in versioned_read(spark, path).collect())
    assert got == [i for i in range(100) if i % 10 != 3]
    assert versioned_read(spark, path, version=0).count() == 100

    versioned_delete(spark, path, "k % 5 = 3")  # overlaps the first
    got2 = sorted(r["k"] for r in versioned_read(spark, path).collect())
    assert got2 == [i for i in range(100) if i % 5 != 3]
    # no-op delete: nothing matched, no commit
    assert versioned_delete(spark, path, "k = -1") == latest_version(path)


def test_delete_fully_emptied_file_is_dropped_from_manifest(spark, tmp_path):
    from skopje_spark.sinks.versioned import _read_manifest, versioned_delete

    path = str(tmp_path / "vdrop")
    df = spark.range(0, 80).select(F.col("id").cast("int").alias("k"))
    versioned_write(df.repartitionByRange(4, "k"), path)
    n0 = len(_read_manifest(path, 0)["files"])
    v1 = versioned_delete(spark, path, "k < 20")  # first range bucket
    man = _read_manifest(path, v1)
    assert len(man["files"]) < n0  # emptied file entry dropped outright
    assert all(not e.get("dv_files") for e in man["files"]) or True
    got = sorted(r["k"] for r in versioned_read(spark, path).collect())
    assert got == list(range(20, 80))


def test_upsert_after_delete_respects_vectors(spark, tmp_path):
    """A deleted row must not resurrect through a MERGE rewrite of its
    file, and an upsert may legitimately re-insert a deleted key."""
    from skopje_spark.sinks.versioned import versioned_delete

    path = str(tmp_path / "vdvup")
    versioned_write(
        _kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]), path
    )
    versioned_delete(spark, path, "k = 3")
    versioned_upsert(spark, path, _kv(spark, [(2, "B"), (3, "C")]), ["k"])
    now = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert now == {1: "a", 2: "B", 3: "C", 4: "d"}  # 3 re-inserted, once


def test_compact_materializes_deletion_vectors(spark, tmp_path):
    from skopje_spark.sinks.versioned import (
        _read_manifest,
        versioned_compact,
        versioned_delete,
    )

    path = str(tmp_path / "vdvc")
    df = spark.range(0, 60).select(F.col("id").cast("int").alias("k"))
    versioned_write(df.repartitionByRange(3, "k"), path)
    versioned_delete(spark, path, "k % 7 = 2")
    before = sorted(r["k"] for r in versioned_read(spark, path).collect())
    v = versioned_compact(spark, path, target_files=2)
    man = _read_manifest(path, v)
    assert all(not e.get("dv_files") for e in man["files"])  # materialized
    assert sorted(r["k"] for r in versioned_read(spark, path).collect()) == before


def test_compact_records_no_commit_facts_of_its_source(spark, tmp_path):
    """A compaction records its own facts only: the change-feed files
    and delete counts of the commit it rewrites are not copied onto
    it (history would show a compaction that deleted rows, and vacuum
    would keep the delete's feed files referenced twice)."""
    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_compact,
        versioned_delete,
    )

    path = str(tmp_path / "vcfacts")
    df = spark.range(0, 40).select(F.col("id").cast("int").alias("k"))
    versioned_write(df.repartitionByRange(2, "k"), path)
    vd = versioned_delete(spark, path, "k < 10", change_feed=True)
    for key in ("cdc_files", "n_rows_deleted", "n_dv_files"):
        assert snapshot_meta(path, key, version=vd) is not None
    vc = versioned_compact(spark, path, target_files=1)
    assert snapshot_meta(path, "op", version=vc) == "compact"
    for key in ("cdc_files", "n_rows_deleted", "n_dv_files"):
        assert snapshot_meta(path, key, version=vc) is None, key
    assert versioned_read(spark, path).count() == 30


def test_table_under_glob_characters_reads_its_pool(spark, tmp_path):
    """Spark expands read paths as globs; a table whose directory name
    holds glob characters must still write, append and read."""
    from skopje_spark.sinks.versioned import versioned_append

    path = str(tmp_path / "t['p']")
    versioned_write(_kv(spark, [(1, "a"), (2, "b")]), path)
    versioned_append(spark, path, _kv(spark, [(3, "c")]))
    got = {(r["k"], r["v"]) for r in versioned_read(spark, path).collect()}
    assert got == {(1, "a"), (2, "b"), (3, "c")}


def test_pruned_read_applies_deletion_vectors(spark, tmp_path):
    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_pruned_read,
    )

    path = str(tmp_path / "vdvpr")
    df = spark.range(0, 200).select(F.col("id").cast("int").alias("k"))
    versioned_write(df.repartitionByRange(4, "k"), path)
    versioned_delete(spark, path, "k = 60")
    got = sorted(
        r["k"] for r in versioned_pruned_read(spark, path, "k", 50, 70).collect()
    )
    assert got == [k for k in range(50, 71) if k != 60]


def test_restore_is_metadata_only_rollback(spark, tmp_path):
    import os as _os

    from skopje_spark.sinks.versioned import (
        _DATA_DIR,
        snapshot_meta,
        versioned_delete,
        versioned_restore,
    )

    path = str(tmp_path / "vrst")
    versioned_write(_kv(spark, [(1, "a"), (2, "b")]), path)
    versioned_upsert(spark, path, _kv(spark, [(2, "B"), (3, "c")]), ["k"])
    versioned_delete(spark, path, "k = 1")
    pool_before = set(_os.listdir(_os.path.join(path, _DATA_DIR)))
    v = versioned_restore(path, 0)
    assert snapshot_meta(path, "op", version=v) == "restore"
    assert snapshot_meta(path, "source_version", version=v) == "0"
    # metadata only: not a single pool file written
    assert set(_os.listdir(_os.path.join(path, _DATA_DIR))) == pool_before
    assert {r["v"] for r in versioned_read(spark, path).collect()} == {"a", "b"}
    # history intact: the pre-restore latest is still readable
    assert {r["v"] for r in versioned_read(spark, path, version=2).collect()} == {
        "B", "c",
    }


def test_restore_validates_current_constraints(spark, tmp_path):
    """A CHECK constraint added AFTER the restored version still
    governs the table: restoring a snapshot that violates it is
    refused loudly (the active-constraint contract every data commit
    honors), with an explicit validate=False override."""
    from skopje_spark.sinks.versioned import (
        ConstraintViolation,
        set_check_constraint,
        versioned_delete,
        versioned_restore,
    )

    path = str(tmp_path / "vrstc")
    versioned_write(_kv(spark, [(-1, "neg"), (2, "b")]), path)      # v0
    versioned_delete(spark, path, "k < 0")                          # v1
    set_check_constraint(spark, path, "k_pos", "k > 0")             # v2
    with pytest.raises(ConstraintViolation, match="k_pos"):
        versioned_restore(path, 0, spark=spark)
    assert latest_version(path) == 2  # nothing published
    # explicit override for the operator who accepts the violation
    v = versioned_restore(path, 0, spark=spark, validate=False)
    assert {r["k"] for r in versioned_read(spark, path, version=v).collect()} == {
        -1, 2,
    }
    # restoring a CLEAN snapshot under the same constraint just works
    versioned_restore(path, 1, spark=spark)
    assert {r["k"] for r in versioned_read(spark, path).collect()} == {2}


def test_vacuum_refcounts_dv_sidecars(spark, tmp_path):
    """DV files referenced by a retained manifest survive vacuum; once
    compaction materializes them out of the only retained manifest,
    aged DV files are collected."""
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import (
        _DATA_DIR,
        versioned_compact,
        versioned_delete,
    )

    path = str(tmp_path / "vdvvac")
    df = spark.range(0, 40).select(F.col("id").cast("int").alias("k"))
    versioned_write(df.repartitionByRange(2, "k"), path)
    versioned_delete(spark, path, "k % 4 = 1")
    pool = _os.path.join(path, _DATA_DIR)
    old = _time.time() - 3600
    for f in _os.listdir(pool):
        _os.utime(_os.path.join(pool, f), (old, old))
    vacuum(path, keep=1, min_file_age_s=600)
    dvs = [f for f in _os.listdir(pool) if f.startswith("dv-")]
    assert dvs  # still referenced by the retained (delete) manifest
    assert sorted(r["k"] for r in versioned_read(spark, path).collect()) == [
        k for k in range(40) if k % 4 != 1
    ]
    versioned_compact(spark, path)
    for f in _os.listdir(pool):
        _os.utime(_os.path.join(pool, f), (old, old))
    vacuum(path, keep=1, min_file_age_s=600)
    assert not [f for f in _os.listdir(pool) if f.startswith("dv-")]
    assert sorted(r["k"] for r in versioned_read(spark, path).collect()) == [
        k for k in range(40) if k % 4 != 1
    ]


def test_change_feed_records_serves_and_falls_back(spark, tmp_path):
    """Write-side CDF: CDF-enabled commits record logical changes as
    cdc-* pool files and the feed serves exactly those rows with
    version attribution; v0 serves the creation as inserts; compaction
    contributes nothing; a commit WITHOUT a recording refuses silently
    expensive reads unless keys allow the snapshot-diff fallback."""
    from skopje_spark.sinks.versioned import (
        versioned_change_feed,
        versioned_compact,
        versioned_delete,
    )

    path = str(tmp_path / "cdf")
    versioned_write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    versioned_upsert(
        spark, path, _kv(spark, [(2, "B"), (4, "d")]), ["k"], change_feed=True
    )
    versioned_delete(spark, path, "k = 1", change_feed=True)
    versioned_compact(spark, path)
    feed = versioned_change_feed(spark, path, from_version=1)
    rows = sorted(
        (r["_commit_version"], r["k"], r["v"], r["_change_type"])
        for r in feed.collect()
    )
    assert rows == [
        (1, 2, "B", "update_postimage"),
        (1, 2, "b", "update_preimage"),
        (1, 4, "d", "insert"),
        (2, 1, "a", "delete"),
    ]
    full = versioned_change_feed(spark, path, from_version=0)
    assert full.filter("_commit_version = 0").count() == 3  # creation inserts
    assert full.count() == 7  # compact (v3) contributed nothing

    versioned_upsert(spark, path, _kv(spark, [(5, "e")]), ["k"])  # no CDF
    with pytest.raises(ValueError, match="pass keys"):
        versioned_change_feed(spark, path, from_version=4).count()
    fb = versioned_change_feed(spark, path, from_version=4, keys=["k"]).collect()
    assert [(r["k"], r["_change_type"]) for r in fb] == [(5, "insert")]


def test_change_feed_cursor_exactly_once_protocol(spark, tmp_path):
    import os as _os

    from skopje_spark.sinks.versioned import (
        change_feed_advance,
        change_feed_cursor,
        versioned_change_feed,
    )

    path = str(tmp_path / "cfc")
    cp = _os.path.join(str(tmp_path), "consumer_cursor")
    versioned_write(_kv(spark, [(1, "a")]), path)
    versioned_upsert(spark, path, _kv(spark, [(2, "b")]), ["k"], change_feed=True)
    assert change_feed_cursor(path, cp) == 0  # fresh consumer: from creation
    hi = latest_version(path)
    n1 = versioned_change_feed(spark, path, from_version=0, to_version=hi).count()
    assert n1 == 2
    # crash before advance: the SAME range replays (idempotent apply absorbs)
    assert change_feed_cursor(path, cp) == 0
    change_feed_advance(cp, hi)
    assert change_feed_cursor(path, cp) == hi + 1
    versioned_upsert(spark, path, _kv(spark, [(3, "c")]), ["k"], change_feed=True)
    frm = change_feed_cursor(path, cp)
    got = versioned_change_feed(spark, path, from_version=frm).collect()
    assert [(r["k"], r["_change_type"]) for r in got] == [(3, "insert")]


def test_vacuum_refcounts_cdc_sidecars(spark, tmp_path):
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import _DATA_DIR

    path = str(tmp_path / "cdcvac")
    versioned_write(_kv(spark, [(1, "a")]), path)
    versioned_upsert(spark, path, _kv(spark, [(2, "b")]), ["k"], change_feed=True)
    pool = _os.path.join(path, _DATA_DIR)
    old = _time.time() - 3600
    for f in _os.listdir(pool):
        _os.utime(_os.path.join(pool, f), (old, old))
    vacuum(path, keep=2, min_file_age_s=600)
    assert [f for f in _os.listdir(pool) if f.startswith("cdc-")]  # referenced
    # push the CDF commit out of the retention window
    versioned_write(_kv(spark, [(9, "z")]), path)
    versioned_write(_kv(spark, [(10, "y")]), path)
    for f in _os.listdir(pool):
        _os.utime(_os.path.join(pool, f), (old, old))
    vacuum(path, keep=2, min_file_age_s=600)
    assert not [f for f in _os.listdir(pool) if f.startswith("cdc-")]


def test_versioned_merge_clause_semantics(spark, tmp_path):
    """MERGE INTO clauses: delete-before-update precedence, condition
    evaluation over the src_-prefixed matched pair, the no-clause path
    keeping the TARGET row untouched, conditional inserts, the source
    cardinality guard, and default clauses reducing to plain upsert."""
    from skopje_spark.sinks.versioned import versioned_merge

    path = str(tmp_path / "mrgcl")
    t = spark.createDataFrame(
        [(i, i * 10, "keep") for i in range(20)], "k int, v int, tag string"
    )
    versioned_write(t.repartitionByRange(4, "k"), path)
    src = spark.createDataFrame(
        [
            (2, 999, "upd"),   # update clause fires
            (5, -1, "del"),    # delete clause fires (checked first)
            (7, 777, "skip"),  # matched, NO clause -> target unchanged
            (100, 1, "new"),   # insert admitted
            (101, -5, "new"),  # insert blocked by condition
        ],
        "k int, v int, tag string",
    )
    versioned_merge(
        spark, path, src, ["k"],
        when_matched_update="src_tag = 'upd'",
        when_matched_delete="src_v < 0",
        when_not_matched_insert="src_v > 0",
        update_set={"v": "src_v", "tag": "concat(tag, '+', src_tag)"},
    )
    rows = {r["k"]: (r["v"], r["tag"]) for r in versioned_read(spark, path).collect()}
    assert rows[2] == (999, "keep+upd")  # update_set sees both sides
    assert 5 not in rows
    assert rows[7] == (70, "keep")  # source values never leaked
    assert rows[100] == (1, "new") and 101 not in rows
    assert all(rows[i] == (i * 10, "keep") for i in range(20) if i not in (2, 5))

    with pytest.raises(ValueError, match="cardinality"):
        versioned_merge(spark, path, src.unionByName(src.limit(1)), ["k"])

    # default clauses == upsert
    versioned_merge(
        spark, path,
        spark.createDataFrame([(3, 333, "x"), (200, 2, "y")], "k int, v int, tag string"),
        ["k"],
    )
    rows2 = {r["k"]: (r["v"], r["tag"]) for r in versioned_read(spark, path).collect()}
    assert rows2[3] == (333, "x") and rows2[200] == (2, "y")


def test_upsert_keeps_duplicate_updates_and_feeds_evolved_changes(
    spark, tmp_path
):
    """The two upsert behaviours MERGE does not share: duplicate update
    rows for one key all land (MERGE refuses them as a cardinality
    violation), and an ``evolve_schema`` upsert that records its change
    feed writes insert, update_preimage and update_postimage rows under
    the evolved schema (preimages NULL-filled in the new column)."""
    from skopje_spark.sinks.versioned import (
        versioned_change_feed,
        versioned_merge,
    )

    path = str(tmp_path / "upsdup")
    versioned_write(
        spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string"), path
    )                                                                  # v0
    dup = spark.createDataFrame(
        [(2, "x"), (2, "y"), (3, "c"), (3, "d")], "k long, v string"
    )
    with pytest.raises(ValueError, match="cardinality"):
        versioned_merge(spark, path, dup, ["k"])
    versioned_upsert(spark, path, dup, ["k"])                          # v1
    got = sorted(tuple(r) for r in versioned_read(spark, path).collect())
    assert got == [(1, "a"), (2, "x"), (2, "y"), (3, "c"), (3, "d")]

    wide = spark.createDataFrame(
        [(1, "a2", 1.5), (4, "e", 4.5)], "k long, v string, score double"
    )
    v = versioned_upsert(
        spark, path, wide, ["k"], evolve_schema=True, change_feed=True
    )                                                                  # v2
    feed = versioned_change_feed(
        spark, path, from_version=v, to_version=v
    ).collect()
    assert sorted(
        (r["_change_type"], r["k"], r["v"], r["score"]) for r in feed
    ) == [
        ("insert", 4, "e", 4.5),
        ("update_postimage", 1, "a2", 1.5),
        ("update_preimage", 1, "a", None),
    ]
    got = sorted(tuple(r) for r in versioned_read(spark, path).collect())
    assert got == [
        (1, "a2", 1.5), (2, "x", None), (2, "y", None),
        (3, "c", None), (3, "d", None), (4, "e", 4.5),
    ]


def test_merge_null_clause_condition_is_not_a_delete(spark, tmp_path):
    """Three-valued MERGE clauses: a matched pair whose delete
    condition evaluates to NULL (e.g. a NULL op column in a changelog
    batch) keeps the target row — NULL must behave like FALSE, never
    like 'delete' — and the change feed agrees with the table (the
    row is neither deleted nor recorded as a delete)."""
    from skopje_spark.sinks.versioned import (
        versioned_change_feed,
        versioned_merge,
    )

    path = str(tmp_path / "mrg3v")
    t = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], "k int, v string"
    )
    versioned_write(t, path)
    # changelog shape: extra src-only op column, NULL for key 2
    src = spark.createDataFrame(
        [(1, "A", "U"), (2, "B", None), (3, "C", "D")],
        "k int, v string, op string",
    )
    ver = versioned_merge(
        spark, path, src, ["k"],
        when_matched_update="src_op = 'U'",
        when_matched_delete="src_op = 'D'",
        when_not_matched_insert="TRUE",
        change_feed=True,
    )
    rows = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    # k=1 updated, k=2 kept UNCHANGED (NULL op fires no clause), k=3 deleted
    assert rows == {1: "A", 2: "b"}
    feed = versioned_change_feed(spark, path, from_version=ver, to_version=ver)
    changes = sorted(
        (r["k"], r["_change_type"]) for r in feed.collect()
    )
    assert changes == [
        (1, "update_postimage"), (1, "update_preimage"), (3, "delete"),
    ]


def test_append_is_blind_and_carries_everything(spark, tmp_path):
    """versioned_append: O(batch) write, every existing file carried by
    reference (DVs included), duplicates appended verbatim, optional
    insert-only CDF recording, schema strictness."""
    from skopje_spark.sinks.versioned import (
        _read_manifest,
        snapshot_meta,
        versioned_append,
        versioned_change_feed,
        versioned_delete,
    )

    path = str(tmp_path / "vapp")
    versioned_write(_kv(spark, [(1, "a"), (2, "b")]), path)
    versioned_delete(spark, path, "k = 2")  # leaves a DV-carrying entry
    v = versioned_append(
        spark, path, _kv(spark, [(1, "a"), (3, "c")]), change_feed=True
    )
    assert snapshot_meta(path, "op", version=v) == "append"
    assert snapshot_meta(path, "n_files_rewritten", version=v) == "0"
    rows = sorted((r["k"], r["v"]) for r in versioned_read(spark, path).collect())
    # duplicate (1,'a') appended verbatim; DV delete of 2 still applies
    assert rows == [(1, "a"), (1, "a"), (3, "c")]
    man_prev = {e["path"] for e in _read_manifest(path, v - 1)["files"]}
    man_now = {e["path"] for e in _read_manifest(path, v)["files"]}
    assert man_prev <= man_now  # everything carried
    feed = versioned_change_feed(spark, path, from_version=v, to_version=v)
    assert sorted((r["k"], r["_change_type"]) for r in feed.collect()) == [
        (1, "insert"), (3, "insert"),
    ]
    with pytest.raises(ValueError, match="append schema"):
        versioned_append(
            spark, path, spark.createDataFrame([(1,)], "k int"),
        )


def test_clustered_compaction_restores_skip_economics(spark, tmp_path):
    """versioned_compact(cluster_by=): after scattered MERGEs degrade
    the key clustering, a clustered compaction makes per-file stats
    tight again — a narrow range read elects fewer candidate files
    than before, and content is untouched."""
    from pyspark.sql import functions as F

    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        versioned_compact,
    )

    path = str(tmp_path / "vclu")
    df = spark.range(0, 4000).select(
        F.col("id").cast("int").alias("k"), (F.col("id") * 7).alias("v")
    )
    # deliberately scattered layout: hash-partitioned, so every file
    # spans nearly the whole key range
    versioned_write(df.repartition(8, "v"), path)
    before_cand, _ = _interval_split(
        _read_manifest(path, 0)["files"], "k", 100, 200
    )
    assert len(before_cand) == 8  # no file skippable

    v = versioned_compact(spark, path, target_files=8, cluster_by=["k"])
    after_cand, after_skip = _interval_split(
        _read_manifest(path, v)["files"], "k", 100, 200
    )
    assert len(after_cand) <= 2 and len(after_skip) >= 6
    assert versioned_read(spark, path).count() == 4000
    assert sorted(
        r["k"] for r in versioned_read(spark, path).filter("k < 5").collect()
    ) == [0, 1, 2, 3, 4]


def test_replicate_from_feed_converges_and_is_exactly_once(spark, tmp_path):
    """versioned_replicate: bootstrap from creation inserts, mixed
    upsert/DV-delete/merge-clause commits applied through the per-key
    final-state reduction (telescoping chains included), cursor-checked
    idempotence, and a key-frame DV delete on the replica side."""
    import os as _os

    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_merge,
        versioned_replicate,
    )

    src_p = str(tmp_path / "repsrc")
    dst_p = str(tmp_path / "repdst")
    cp = str(tmp_path / "cursor")
    versioned_write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]), src_p)
    versioned_upsert(
        spark, src_p, _kv(spark, [(2, "B"), (4, "d")]), ["k"], change_feed=True
    )
    versioned_delete(spark, src_p, "k = 1", change_feed=True)
    v = versioned_replicate(spark, src_p, dst_p, cp, keys=["k"])
    assert v is not None
    assert sorted(map(tuple, versioned_read(spark, dst_p).collect())) == sorted(
        map(tuple, versioned_read(spark, src_p).collect())
    )
    assert versioned_replicate(spark, src_p, dst_p, cp, keys=["k"]) is None

    # merge-clauses commit records clause-accurate CDF; chain that
    # inserts then deletes a key between syncs telescopes away
    versioned_merge(
        spark, src_p, _kv(spark, [(3, "DEL"), (4, "D4"), (9, "i")]), ["k"],
        when_matched_delete="src_v = 'DEL'",
        when_matched_update="TRUE",
        when_not_matched_insert="TRUE",
        change_feed=True,
    )
    versioned_upsert(spark, src_p, _kv(spark, [(50, "x")]), ["k"], change_feed=True)
    versioned_delete(spark, src_p, "k = 50", change_feed=True)
    versioned_replicate(spark, src_p, dst_p, cp, keys=["k"])
    got = sorted(map(tuple, versioned_read(spark, dst_p).collect()))
    assert got == sorted(map(tuple, versioned_read(spark, src_p).collect()))
    assert (2, "B") in got and (4, "D4") in got and (9, "i") in got
    assert all(k not in (1, 3, 50) for k, _ in got)
    # cursor advanced to the source's latest
    assert int(open(cp).read()) == latest_version(src_p)


def test_replicate_tie_break_replace_where_converges(spark, tmp_path):
    """A replace_where(change_feed=True) commit records the delete and
    the insert of each replaced key in the SAME commit; replication's
    net-final reduction must elect the insert, so the replaced keys
    keep their new values on an incremental and on a fresh replica."""
    from skopje_spark.sinks.versioned import (
        versioned_replace_where,
        versioned_replicate,
    )

    src_p = str(tmp_path / "src")
    versioned_write(_kv(spark, [(i, f"v{i}") for i in range(6)]), src_p)
    dst_p, cp = str(tmp_path / "dst"), str(tmp_path / "cursor")
    versioned_replicate(spark, src_p, dst_p, cp, keys=["k"])
    versioned_replace_where(
        spark, src_p, {"k": (2, 4)},
        _kv(spark, [(2, "N2"), (3, "N3"), (4, "N4")]), change_feed=True,
    )
    want = {0: "v0", 1: "v1", 2: "N2", 3: "N3", 4: "N4", 5: "v5"}
    versioned_replicate(spark, src_p, dst_p, cp, keys=["k"])
    fresh_p, fresh_cp = str(tmp_path / "fresh"), str(tmp_path / "cursor2")
    versioned_replicate(spark, src_p, fresh_p, fresh_cp, keys=["k"])
    for p in (dst_p, fresh_p):
        got = {r["k"]: r["v"] for r in versioned_read(spark, p).collect()}
        assert got == want


def test_delete_accepts_key_frame(spark, tmp_path):
    from skopje_spark.sinks.versioned import versioned_delete

    path = str(tmp_path / "vdelkeys")
    versioned_write(
        _kv(spark, [(1, "a"), (2, "b"), (3, "c"), (4, "d")]), path
    )
    keys = spark.createDataFrame([(2,), (4,), (99,)], ["k"])
    versioned_delete(spark, path, keys)
    assert sorted(r["k"] for r in versioned_read(spark, path).collect()) == [1, 3]


def test_timestamp_time_travel(spark, tmp_path):
    """TIMESTAMP AS OF: commits carry commit_ts markers; as_of_ts
    resolves the newest commit at or before the instant (pinned clocks
    via caller-supplied markers), refuses pre-creation instants, and
    rejects version+timestamp together."""
    from skopje_spark.sinks.versioned import (
        commit_timestamp,
        version_as_of_timestamp,
    )

    path = str(tmp_path / "vts")
    versioned_write(_kv(spark, [(1, "a")]), path, meta={"commit_ts": "1000.0"})
    versioned_write(_kv(spark, [(1, "b")]), path, meta={"commit_ts": "2000.0"})
    versioned_write(_kv(spark, [(1, "c")]), path, meta={"commit_ts": "3000.0"})
    assert commit_timestamp(path, 1) == 2000.0
    assert version_as_of_timestamp(path, 2500.0) == 1
    assert version_as_of_timestamp(path, 2000.0) == 1  # inclusive
    assert version_as_of_timestamp(path, 99999.0) == 2
    assert [r["v"] for r in versioned_read(spark, path, as_of_ts=2500.0).collect()] == ["b"]
    with pytest.raises(FileNotFoundError, match="existed at timestamp"):
        version_as_of_timestamp(path, 10.0)
    with pytest.raises(ValueError, match="not both"):
        versioned_read(spark, path, version=0, as_of_ts=2500.0)
    # unpinned commits get real clocks: monotone non-decreasing
    path2 = str(tmp_path / "vts2")
    versioned_write(_kv(spark, [(1, "x")]), path2)
    versioned_write(_kv(spark, [(1, "y")]), path2)
    assert commit_timestamp(path2, 0) <= commit_timestamp(path2, 1)


def test_deletion_vectors_survive_schema_evolution(spark, tmp_path):
    """A DV-carrying file read under an EVOLVED schema still applies
    its vectors (row identity is positional, not value-based), new
    columns NULL-fill for carried rows, and the change feed conforms
    evolved commits to the commit's own schema."""
    from skopje_spark.sinks.versioned import (
        versioned_change_feed,
        versioned_delete,
    )

    path = str(tmp_path / "vdvevo")
    versioned_write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]), path)
    versioned_delete(spark, path, "k = 2")
    wide = spark.createDataFrame(
        [(3, "C", 30), (9, "i", 90)], "k int, v string, extra int"
    )
    versioned_upsert(
        spark, path, wide, ["k"], evolve_schema=True, change_feed=True
    )
    rows = {r["k"]: (r["v"], r["extra"])
            for r in versioned_read(spark, path).collect()}
    assert rows == {1: ("a", None), 3: ("C", 30), 9: ("i", 90)}  # 2 stays gone
    feed = versioned_change_feed(
        spark, path, from_version=2, to_version=2
    ).collect()
    by_type = {(r["k"], r["_change_type"]): r for r in feed}
    assert by_type[(9, "insert")]["extra"] == 90
    assert by_type[(3, "update_postimage")]["extra"] == 30
    assert by_type[(3, "update_preimage")]["extra"] is None  # old row lacked it


def test_versioned_count_is_metadata_only_and_dv_aware(spark, tmp_path):
    from skopje_spark.sinks.versioned import versioned_count, versioned_delete

    path = str(tmp_path / "vcnt")
    df = spark.range(0, 500).selectExpr("CAST(id AS INT) AS k", "id * 2 AS v")
    versioned_write(df.repartitionByRange(4, "k"), path)
    assert versioned_count(path) == 500
    versioned_delete(spark, path, "k % 5 = 0")
    assert versioned_count(path) == 400  # footer rows minus dv rows
    assert versioned_count(path, version=0) == 500  # time travel


def test_vacuum_dry_run_reports_without_deleting(spark, tmp_path):
    path = str(tmp_path / "vdry")
    for i in range(4):
        versioned_write(_kv(spark, [(i, str(i))]), path)
    would = vacuum(path, keep=2, dry_run=True)
    assert would == [0, 1]
    assert versioned_read(spark, path, version=0).count() == 1  # untouched
    assert vacuum(path, keep=2) == [0, 1]  # real run matches the report


def test_stream_apply_changes_exactly_once(spark, tmp_path):
    """Streaming changelog ingestion
    (versioned_stream_apply_changes): I/U/D batches land as one
    atomic commit each under the incarnation ledger; a same-checkpoint
    replay SKIPS (versions unchanged); D-for-absent no-ops and
    I-for-present upserts."""
    import json as _json
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import versioned_stream_apply_changes
    from skopje_spark.streaming.streams import file_stream

    src = tmp_path / "cdcsrc"
    src.mkdir()
    batches = [
        [{"k": 1, "v": "a", "__op": "I"}, {"k": 2, "v": "b", "__op": "I"}],
        [{"k": 2, "v": "B", "__op": "U"}, {"k": 1, "v": None, "__op": "D"},
         {"k": 4, "v": "d", "__op": "I"}],
        [{"k": 4, "v": None, "__op": "D"}, {"k": 99, "v": None, "__op": "D"},
         {"k": 2, "v": "B2", "__op": "I"}],
    ]
    now = _time.time()
    for i, b in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for r in b:
                f.write(_json.dumps(r) + "\n")
        _os.utime(src / f"b{i}.json", (now - (3 - i) * 10,) * 2)
    path = str(tmp_path / "cdctab")
    ck = str(tmp_path / "cdcck")

    def run():
        stream = file_stream(
            spark, str(src), schema="k int, v string, __op string",
            max_files_per_trigger=1,
        )
        q = versioned_stream_apply_changes(stream, path, ["k"], ck)
        q.awaitTermination()

    run()
    rows = sorted((r["k"], r["v"]) for r in versioned_read(spark, path).collect())
    assert rows == [(2, "B2")]
    v = latest_version(path)
    assert v == 2  # creation + one commit per later batch
    run()  # same checkpoint: replay skips, nothing changes
    assert latest_version(path) == v
    assert sorted(
        (r["k"], r["v"]) for r in versioned_read(spark, path).collect()
    ) == rows


@pytest.mark.parametrize("scope", ["full", "where", "sql"])
def test_zorder_compaction_prunes_on_every_dimension(spark, tmp_path, scope):
    """versioned_compact(zorder=True): after the interleaved rewrite,
    a narrow range on EITHER clustered column skips most files —
    lexicographic clustering can only serve its leading column (its
    trailing-column candidate set stays ~everything). A ``where=``
    scope keeps the z-order, through the API and through SQL
    ``OPTIMIZE ... WHERE ... ZORDER BY``; the constant column ``p``
    makes the scope cover every file."""
    from pyspark.sql import functions as F

    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        versioned_compact,
    )
    from skopje_spark.sqlfront import versioned_sql

    path = str(tmp_path / "vzo")
    n = 64
    df = (
        spark.range(0, n * n)
        .select(
            (F.col("id") % n).cast("int").alias("a"),
            (F.col("id") / n).cast("int").alias("b"),
            F.lit(0).alias("p"),
        )
    )
    versioned_write(df.repartition(16), path)
    where = None if scope == "full" else {"p": 0}

    v_lex = versioned_compact(
        spark, path, target_files=16, cluster_by=["a", "b"], where=where
    )
    lex_files = _read_manifest(path, v_lex)["files"]
    lex_a, _ = _interval_split(lex_files, "a", 10, 13)
    lex_b, _ = _interval_split(lex_files, "b", 10, 13)

    if scope == "sql":
        v_z = versioned_sql(
            spark, f"OPTIMIZE '{path}' WHERE p = 0 ZORDER BY (a, b)",
            target_files=16,
        )
    else:
        v_z = versioned_compact(
            spark, path, target_files=16, cluster_by=["a", "b"],
            zorder=True, where=where,
        )
    assert v_z == v_lex + 1
    z_files = _read_manifest(path, v_z)["files"]
    z_a, _ = _interval_split(z_files, "a", 10, 13)
    z_b, _ = _interval_split(z_files, "b", 10, 13)

    assert len(lex_a) <= 4              # lexicographic serves column a…
    assert len(lex_b) >= 12             # …but not b
    assert len(z_a) <= 8 and len(z_b) <= 8  # z-order serves BOTH
    assert versioned_read(spark, path).count() == n * n  # content intact


def test_maintenance_report_flags_and_clears(spark, tmp_path):
    """maintenance_report: a hash-scattered, DV-indebted, small-file
    table flags compact+cluster; after a clustered compaction the
    report comes back clean — all from manifest metadata, no job."""
    from pyspark.sql import functions as F

    from skopje_spark.sinks.versioned import (
        maintenance_report,
        versioned_compact,
        versioned_delete,
    )

    path = str(tmp_path / "vmaint")
    df = spark.range(0, 2000).select(
        (F.col("id") % 97).cast("int").alias("k"), F.col("id").alias("v")
    )
    versioned_write(df.repartition(16, "v"), path)  # scattered on k
    versioned_delete(spark, path, "k < 20")  # ~20% DV debt
    rep = maintenance_report(path, cluster_col="k")
    assert rep["n_files"] == 16 and rep["n_small_files"] == 16
    assert rep["dv_debt_frac"] > 0.10
    assert rep["cluster_overlap_mean"] == 15.0  # every file overlaps all
    assert set(rep["recommendations"]) == {"cluster", "compact"}

    versioned_compact(spark, path, target_files=4, cluster_by=["k"])
    rep2 = maintenance_report(path, cluster_col="k")
    assert rep2["dv_rows"] == 0  # materialized away
    assert rep2["cluster_overlap_mean"] <= 1.0
    assert "cluster" not in rep2["recommendations"]
    assert rep2["physical_rows"] == versioned_read(spark, path).count()


def test_change_feed_over_vacuumed_history_fails_loudly(spark, tmp_path):
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import versioned_change_feed

    path = str(tmp_path / "cfvac")
    versioned_write(_kv(spark, [(1, "a")]), path)
    for i in range(3):
        versioned_upsert(
            spark, path, _kv(spark, [(2 + i, "x")]), ["k"], change_feed=True
        )
    old = _time.time() - 3600
    pool = _os.path.join(path, "data")
    for f in _os.listdir(pool):
        _os.utime(_os.path.join(pool, f), (old, old))
    vacuum(path, keep=2, min_file_age_s=600)  # drops v0, v1
    with pytest.raises(FileNotFoundError, match="vacuumed"):
        versioned_change_feed(spark, path, from_version=0).count()
    # the retained tail still serves
    n = versioned_change_feed(spark, path, from_version=2).count()
    assert n >= 1


def test_replica_chain_two_hops(spark, tmp_path):
    """A replica that records its own feed (change_feed=True) can feed
    a SECOND replica — consumers chain without ever touching the
    original source."""
    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_replicate,
    )

    s = str(tmp_path / "src")
    r1, r2 = str(tmp_path / "rep1"), str(tmp_path / "rep2")
    versioned_write(_kv(spark, [(1, "a"), (2, "b")]), s)
    versioned_upsert(spark, s, _kv(spark, [(2, "B"), (3, "c")]), ["k"], change_feed=True)
    versioned_delete(spark, s, "k = 1", change_feed=True)
    versioned_replicate(
        spark, s, r1, str(tmp_path / "c1"), keys=["k"], change_feed=True
    )
    versioned_replicate(spark, r1, r2, str(tmp_path / "c2"), keys=["k"])
    assert sorted(map(tuple, versioned_read(spark, r2).collect())) == sorted(
        map(tuple, versioned_read(spark, s).collect())
    )


def test_clone_is_zero_copy_and_independent(spark, tmp_path):
    """Shallow clone: content identical at the cloned version, pool
    files HARD-LINKED (same inode, zero data copied), and divergent
    writes on either side never leak across."""
    from skopje_spark.sinks.versioned import versioned_clone

    src = str(tmp_path / "src")
    dst = str(tmp_path / "dst")
    versioned_write(_kv(spark, [(1, "a"), (2, "b"), (3, "c")]), src)
    versioned_upsert(spark, src, _kv(spark, [(2, "B"), (4, "d")]), ["k"])
    assert versioned_clone(src, dst) == 0
    want = sorted(map(tuple, versioned_read(spark, src).collect()))
    assert sorted(map(tuple, versioned_read(spark, dst).collect())) == want
    # zero-copy: every clone pool file shares the source file's inode
    import skopje_spark.sinks.versioned as V

    man = V._read_manifest(dst, 0)
    assert man["files"], "clone manifest lists no files"
    for e in man["files"]:
        s_ino = os.stat(os.path.join(src, e["path"])).st_ino
        d_stat = os.stat(os.path.join(dst, e["path"]))
        assert d_stat.st_ino == s_ino and d_stat.st_nlink >= 2
    # divergence: writes to the clone never reach the source and
    # vice versa (immutable pool files, independent manifests)
    versioned_upsert(spark, dst, _kv(spark, [(1, "CLONE")]), ["k"])
    versioned_upsert(spark, src, _kv(spark, [(3, "SRC")]), ["k"])
    now_src = dict((r["k"], r["v"]) for r in versioned_read(spark, src).collect())
    now_dst = dict((r["k"], r["v"]) for r in versioned_read(spark, dst).collect())
    assert now_src == {1: "a", 2: "B", 3: "SRC", 4: "d"}
    assert now_dst == {1: "CLONE", 2: "B", 3: "c", 4: "d"}


def test_clone_time_travel_and_refusals(spark, tmp_path):
    """Clone of a PINNED earlier version serves that history as the
    clone's v0; cloning onto an existing table or an uncommitted
    version refuses."""
    from skopje_spark.sinks.versioned import versioned_clone

    src = str(tmp_path / "src")
    versioned_write(_kv(spark, [(1, "a"), (2, "b")]), src)
    versioned_upsert(spark, src, _kv(spark, [(2, "B2")]), ["k"])
    old = str(tmp_path / "old")
    versioned_clone(src, old, version=0)
    assert dict(
        (r["k"], r["v"]) for r in versioned_read(spark, old).collect()
    ) == {1: "a", 2: "b"}
    # clone history starts fresh: v0 is the only version, marked op=clone
    from skopje_spark.sinks.versioned import latest_version, snapshot_meta

    assert latest_version(old) == 0
    assert snapshot_meta(old, "op", version=0) == "clone"
    assert snapshot_meta(old, "source_version", version=0) == "0"
    with pytest.raises(FileExistsError):
        versioned_clone(src, old)
    with pytest.raises(FileNotFoundError):
        versioned_clone(src, str(tmp_path / "x"), version=7)
    with pytest.raises(FileNotFoundError):
        versioned_clone(str(tmp_path / "nope"), str(tmp_path / "y"))


def test_clone_survives_source_vacuum_and_carries_dvs(spark, tmp_path):
    """The POSIX link-count contract: vacuuming the SOURCE (dropping
    the cloned-from version and unlinking its pool names) leaves the
    clone fully readable. Deletion-vector sidecars clone too — a
    merge-on-read DELETE is visible through the clone."""
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import versioned_clone, versioned_delete

    src = str(tmp_path / "src")
    versioned_write(_kv(spark, [(i, f"v{i}") for i in range(8)]), src)
    versioned_delete(spark, src, "k IN (2, 5)")  # DV sidecars, no rewrite
    dst = str(tmp_path / "dst")
    versioned_clone(src, dst)
    assert {r["k"] for r in versioned_read(spark, dst).collect()} == {
        0, 1, 3, 4, 6, 7,
    }
    # age the pool + advance source history, then vacuum the source
    # hard enough to drop every version the clone was taken from
    versioned_write(_kv(spark, [(99, "z")]), src)
    versioned_write(_kv(spark, [(98, "y")]), src)
    pool = _os.path.join(src, "data")
    old = _time.time() - 10_000
    for f in _os.listdir(pool):
        _os.utime(_os.path.join(pool, f), (old, old))
    removed = vacuum(src, keep=1, min_file_age_s=600)
    assert removed, "vacuum removed nothing; test setup is wrong"
    assert {r["k"] for r in versioned_read(spark, dst).collect()} == {
        0, 1, 3, 4, 6, 7,
    }


def test_check_constraints_enforced_and_inherited(spark, tmp_path):
    """CHECK constraints: violating commits raise with NOTHING
    published; the constraint marker is inherited by every later
    commit with no re-declaration; NULL evaluations PASS (SQL
    three-valued CHECK)."""
    from skopje_spark.sinks.versioned import (
        ConstraintViolation,
        set_check_constraint,
        table_constraints,
        versioned_append,
    )

    path = str(tmp_path / "ct")
    versioned_write(_kv(spark, [(1, "a"), (2, "b")]), path)
    set_check_constraint(spark, path, "k_positive", "k > 0")
    assert table_constraints(path) == {"k_positive": "k > 0"}
    # valid commit passes and still carries the constraint
    versioned_upsert(spark, path, _kv(spark, [(3, "c")]), ["k"])
    assert table_constraints(path) == {"k_positive": "k > 0"}
    before = latest_version(path)
    with pytest.raises(ConstraintViolation, match="k_positive"):
        versioned_append(spark, path, _kv(spark, [(-7, "bad")]))
    assert latest_version(path) == before  # nothing published
    assert dict(
        (r["k"], r["v"]) for r in versioned_read(spark, path).collect()
    ) == {1: "a", 2: "b", 3: "c"}
    # NULL result of the expression passes (ANSI CHECK), FALSE fails
    null_k = spark.createDataFrame([(None, "n")], "k int, v string")
    versioned_append(spark, path, null_k)
    assert {r["v"] for r in versioned_read(spark, path).collect()} == {
        "a", "b", "c", "n",
    }


def test_check_constraint_validates_existing_drops_and_clones(spark, tmp_path):
    """Adding a constraint the current rows falsify refuses; DROP
    re-admits violating writes; a shallow clone inherits the cloned
    version's constraint set."""
    from skopje_spark.sinks.versioned import (
        ConstraintViolation,
        drop_check_constraint,
        set_check_constraint,
        table_constraints,
        versioned_append,
        versioned_clone,
    )

    path = str(tmp_path / "cv")
    versioned_write(_kv(spark, [(1, "a"), (-2, "neg")]), path)
    with pytest.raises(ConstraintViolation, match="existing rows"):
        set_check_constraint(spark, path, "k_positive", "k > 0")
    set_check_constraint(spark, path, "k_positive", "k > 0", validate=False)
    with pytest.raises(ValueError, match="already exists"):
        set_check_constraint(spark, path, "k_positive", "k > -10")
    set_check_constraint(spark, path, "v_nonempty", "length(v) > 0")
    # clone inherits both constraints and enforces them
    dst = str(tmp_path / "clone")
    versioned_clone(path, dst)
    assert table_constraints(dst) == table_constraints(path)
    with pytest.raises(ConstraintViolation):
        versioned_append(spark, dst, _kv(spark, [(5, "")]))
    # drop on the source; the clone's set is independent
    drop_check_constraint(path, "k_positive")
    assert set(table_constraints(path)) == {"v_nonempty"}
    versioned_append(spark, path, _kv(spark, [(-9, "ok")]))
    assert "k_positive" in table_constraints(dst)
    with pytest.raises(KeyError):
        drop_check_constraint(path, "k_positive")


def test_rename_column_without_rewrite(spark, tmp_path):
    """Column rename is a metadata-only commit: no data files change,
    reads serve the new logical name over old physical files, writes
    after the rename merge correctly with pre-rename files, and time
    travel shows each version's as-committed name."""
    import skopje_spark.sinks.versioned as V

    path = str(tmp_path / "rn")
    versioned_write(_kv(spark, [(1, "a"), (2, "b")]), path)
    files_before = {e["path"] for e in V._read_manifest(path, 0)["files"]}
    V.versioned_rename_column(path, "v", "val")
    assert {e["path"] for e in V._read_manifest(path, 1)["files"]} == files_before
    assert versioned_read(spark, path).columns == ["k", "val"]
    assert dict(
        (r["k"], r["val"]) for r in versioned_read(spark, path).collect()
    ) == {1: "a", 2: "b"}
    # time travel: pre-rename versions keep the old logical name
    assert versioned_read(spark, path, version=0).columns == ["k", "v"]
    # post-rename write speaks the new name; old+new files co-serve
    upd = spark.createDataFrame([(2, "B"), (3, "c")], ["k", "val"])
    versioned_upsert(spark, path, upd, ["k"])
    assert dict(
        (r["k"], r["val"]) for r in versioned_read(spark, path).collect()
    ) == {1: "a", 2: "B", 3: "c"}
    # the new files on disk carry the PHYSICAL (original) column name
    import pyarrow.parquet as pq

    for e in V._read_manifest(path, 2)["files"]:
        cols = set(pq.read_schema(str(tmp_path / "rn" / e["path"])).names)
        assert cols == {"k", "v"}, cols
    # delete by predicate on the NEW name reaches old physical files
    V.versioned_delete(spark, path, "val = 'a'")
    assert {r["k"] for r in versioned_read(spark, path).collect()} == {2, 3}


def test_rename_column_preserves_merge_pruning(spark, tmp_path):
    """Partial-rewrite MERGE still prunes by footer stats after the
    KEY column itself is renamed (stats stay keyed by the physical
    name)."""
    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_rename_column,
    )

    path = str(tmp_path / "rp")
    rows = [(i, f"r{i}") for i in range(80)]
    df = spark.createDataFrame(rows, ["k", "v"])
    versioned_write(
        df.repartitionByRange(8, "k").sortWithinPartitions("k"), path
    )
    versioned_rename_column(path, "k", "key_id")
    upd = spark.createDataFrame([(3, "X")], ["key_id", "v"])
    versioned_upsert(spark, path, upd, ["key_id"])
    assert int(snapshot_meta(path, "n_files_rewritten", version=2)) <= 2
    assert int(snapshot_meta(path, "n_files_carried", version=2)) >= 6
    got = dict(
        (r["key_id"], r["v"])
        for r in versioned_read(spark, path).collect()
    )
    assert got[3] == "X" and len(got) == 80
    # pruned read on the renamed column keeps its file economics too
    from skopje_spark.sinks.versioned import versioned_pruned_read

    pr = versioned_pruned_read(spark, path, "key_id", 70, 75)
    assert {r["key_id"] for r in pr.collect()} == set(range(70, 76))


def test_rename_refusals_and_name_reuse(spark, tmp_path):
    """Rename refuses unknown/duplicate names and constraint-referenced
    columns; a NEW column may reuse the freed logical name (physical
    uniquified so pooled files never collide)."""
    from skopje_spark.sinks.versioned import (
        set_check_constraint,
        versioned_rename_column,
    )

    path = str(tmp_path / "rr")
    versioned_write(_kv(spark, [(1, "a")]), path)
    with pytest.raises(KeyError):
        versioned_rename_column(path, "nope", "x")
    with pytest.raises(ValueError, match="already exists"):
        versioned_rename_column(path, "v", "k")
    set_check_constraint(spark, path, "v_nonempty", "length(v) > 0")
    with pytest.raises(ValueError, match="v_nonempty"):
        versioned_rename_column(path, "v", "val")
    from skopje_spark.sinks.versioned import drop_check_constraint

    drop_check_constraint(path, "v_nonempty")
    versioned_rename_column(path, "v", "val")
    # reuse the freed name "v" as a brand-new column via evolution
    upd = spark.createDataFrame([(2, "b", 9.5)], ["k", "val", "v"])
    versioned_upsert(spark, path, upd, ["k"], evolve_schema=True)
    rows = {
        r["k"]: (r["val"], r["v"])
        for r in versioned_read(spark, path).collect()
    }
    assert rows == {1: ("a", None), 2: ("b", 9.5)}


def test_manifest_segments_reused_across_commits(spark, tmp_path, monkeypatch):
    """Two-level manifests: a version stores content-addressed SEGMENT
    files; a narrow merge re-hashes only the segment(s) holding its
    rewritten entries, every other segment is reused by reference —
    commit serialization cost is O(changed segments), not O(table
    files). Content stays exact throughout."""
    import json as _json
    import os as _os

    import skopje_spark.sinks.versioned as V

    monkeypatch.setattr(V, "_SEG_TARGET", 4)  # tiny segments for the test
    path = str(tmp_path / "seg")
    # 64 files: segment cuts hash random pool-file names, so with only
    # ~16 files the ">= 3 segments" assert below fails with P≈8%
    # (1 + Binomial(15, 1/4)); at 64 files P(<3) is ~1e-7
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(320)], "k long, v string"
    )
    versioned_write(
        df.repartitionByRange(64, "k").sortWithinPartitions("k"), path
    )

    def seg_refs(v):
        with open(_os.path.join(path, f"v={v}", "_MANIFEST.json")) as f:
            return {r["path"] for r in _json.load(f)["segments"]}

    s0 = seg_refs(0)
    assert len(s0) >= 3  # the table actually spans several segments
    upd = spark.createDataFrame([(3, "NEW")], "k long, v string")
    versioned_upsert(spark, path, upd, ["k"])
    s1 = seg_refs(1)
    # the narrow merge reused all but a couple of segments
    assert len(s0 & s1) >= len(s0) - 2
    assert s1 != s0
    # segment refs carry aggregate stats usable for pruning
    with open(_os.path.join(path, "v=1", "_MANIFEST.json")) as f:
        refs = _json.load(f)["segments"]
    assert all("stats" in r and r["n"] >= 1 for r in refs)
    assert any("k" in r["stats"] for r in refs)
    got = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert got[3] == "NEW" and len(got) == 320


def test_pruned_read_skips_whole_segments(spark, tmp_path, monkeypatch):
    """Two-level read pruning: a narrow range over a clustered table
    opens only the manifest segments whose ref-level aggregate stats
    can match — the rest are never parsed — and the rows are exact."""
    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        versioned_pruned_read,
        versioned_read_where,
    )

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = str(tmp_path / "segp")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(800)], "k long, v string"
    )
    versioned_write(
        df.repartitionByRange(80, "k").sortWithinPartitions("k"), path
    )
    m: dict = {}
    rows = versioned_read_where(spark, path, {"k": (50, 55)}, metrics=m)
    opened, total = m["segments_opened"], m["segments_total"]
    assert total >= 6 and opened < total  # segments skipped unopened
    # the opened segments still hold every candidate file
    assert {r["k"] for r in rows.collect()} == set(range(50, 56))
    got = {
        r["k"]
        for r in versioned_pruned_read(spark, path, "k", 50, 55).collect()
    }
    assert got == set(range(50, 56))


def test_change_feed_skips_metadata_only_commits(spark, tmp_path):
    """A rename or CHECK-constraint commit contributes ZERO rows to
    the change feed — consumers never need the O(table) keys
    fallback to cross one."""
    from skopje_spark.sinks.versioned import (
        set_check_constraint,
        versioned_change_feed,
        versioned_rename_column,
    )

    path = str(tmp_path / "cfm")
    versioned_write(_kv(spark, [(1, "a")]), path)                      # v0
    versioned_rename_column(path, "v", "val")                          # v1
    set_check_constraint(spark, path, "k_pos", "k > 0")                # v2
    upd = spark.createDataFrame([(2, "b")], "k long, val string")
    versioned_upsert(spark, path, upd, ["k"], change_feed=True)        # v3
    # NO keys argument: the metadata-only commits must not demand one
    feed = versioned_change_feed(spark, path, from_version=1).collect()
    assert [(r["_commit_version"], r["_change_type"], r["k"]) for r in feed] == [
        (3, "insert", 2)
    ]


def test_merge_commit_opens_only_touched_segments(spark, tmp_path, monkeypatch):
    """Segment-diff MERGE: a narrow upsert on a clustered table parses
    only the manifest segments whose aggregate key range can match —
    the rest ride into the next manifest BY REFERENCE (commit markers
    pin the economics) — and content is exact, DVs on closed
    segments included."""
    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import snapshot_meta, versioned_delete

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = str(tmp_path / "segm")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(800)], "k long, v string"
    )
    versioned_write(
        df.repartitionByRange(80, "k").sortWithinPartitions("k"), path
    )
    versioned_delete(spark, path, "k = 790")  # DV on a far segment
    upd = spark.createDataFrame([(3, "NEW")], "k long, v string")
    versioned_upsert(spark, path, upd, ["k"])
    v = 2
    total = int(snapshot_meta(path, "n_segments_total", version=v))
    opened = int(snapshot_meta(path, "n_segments_opened", version=v))
    assert total >= 6 and opened < total
    assert int(snapshot_meta(path, "n_files_rewritten", version=v)) <= 2
    got = {r["k"]: r["v"] for r in versioned_read(spark, path).collect()}
    assert got[3] == "NEW" and 790 not in got and len(got) == 799


def test_keyframe_delete_prunes_scan_and_segments(spark, tmp_path, monkeypatch):
    """A key-frame DELETE (replica-apply shape) scans only the files
    whose stats can hold its keys and parses only the matching
    manifest segments — commit markers pin both economics; predicate
    deletes still scan everything (stats cannot see an arbitrary
    predicate)."""
    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import snapshot_meta, versioned_delete

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = str(tmp_path / "kfd")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(800)], "k long, v string"
    )
    versioned_write(
        df.repartitionByRange(80, "k").sortWithinPartitions("k"), path
    )
    kf = spark.createDataFrame([(3,), (5,)], "k long")
    versioned_delete(spark, path, kf)
    assert int(snapshot_meta(path, "n_files_scanned", version=1)) <= 2
    total = int(snapshot_meta(path, "n_segments_total", version=1))
    opened = int(snapshot_meta(path, "n_segments_opened", version=1))
    assert total >= 6 and opened < total
    got = {r["k"] for r in versioned_read(spark, path).collect()}
    assert 3 not in got and 5 not in got and len(got) == 798
    # a key-frame that provably matches nothing is a metadata no-op
    v = versioned_delete(
        spark, path, spark.createDataFrame([(10_000,)], "k long")
    )
    assert v == 1
    # predicate deletes scan the open set (no key bounds to prune by)
    versioned_delete(spark, path, "k = 700")
    assert int(snapshot_meta(path, "n_files_scanned", version=2)) >= 70
    assert 700 not in {
        r["k"] for r in versioned_read(spark, path).collect()
    }


def test_composite_keyframe_delete_prunes_on_every_key(spark, tmp_path):
    """A composite key-frame DELETE keyed (k, src) on a table laid out
    by src, where k spans every file: k proves nothing, but a file
    disjoint from the frame on src cannot hold a full-tuple match, so
    only the src-matching file is scanned."""
    from skopje_spark.sinks.versioned import (
        _read_manifest,
        snapshot_meta,
        versioned_delete,
    )

    path = str(tmp_path / "ckd")
    srcs = ["a", "b", "c", "d"]
    # 4 range partitions of 20 ids: partition i holds src srcs[i] and
    # k = 0..19, so every file spans the whole k range
    df = spark.range(0, 80, 1, 4).select(
        (F.col("id") % 20).alias("k"),
        F.element_at(
            F.array(*map(F.lit, srcs)), (F.col("id") / 20).cast("int") + 1
        ).alias("src"),
    )
    versioned_write(df, path)
    assert len(_read_manifest(path, 0)["files"]) == len(srcs)
    kf = spark.createDataFrame([(5, "b"), (7, "b")], "k long, src string")
    v = versioned_delete(spark, path, kf)
    assert int(snapshot_meta(path, "n_files_scanned", version=v)) == 1
    got = {(r["k"], r["src"]) for r in versioned_read(spark, path).collect()}
    assert got == {(k, s) for k in range(20) for s in srcs} - {
        (5, "b"), (7, "b")
    }


def test_append_never_parses_base_segments(spark, tmp_path, monkeypatch):
    """APPEND commits carry every base segment by reference — the base
    manifest's entries are never materialized; the new version's
    refs are (base refs) + (new-batch refs)."""
    import json as _json
    import os as _os

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import versioned_append

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = str(tmp_path / "apref")
    df = spark.createDataFrame(
        [(i, f"r{i}") for i in range(400)], "k long, v string"
    )
    versioned_write(
        df.repartitionByRange(40, "k").sortWithinPartitions("k"), path
    )

    def refs(v):
        with open(_os.path.join(path, f"v={v}", "_MANIFEST.json")) as f:
            return [r["path"] for r in _json.load(f)["segments"]]

    base_refs = refs(0)
    versioned_append(
        spark, path,
        spark.createDataFrame([(10_000, "x")], "k long, v string").coalesce(1),
    )
    new_refs = refs(1)
    assert set(base_refs) <= set(new_refs)  # every base ref reused verbatim
    assert len(new_refs) > len(base_refs)
    got = versioned_read(spark, path)
    assert got.count() == 401


def test_analyze_records_carried_column_stats(spark, tmp_path):
    """versioned_analyze: metadata-only commit (files by reference,
    change feed skips it), NDV/null stats within the HLL band, stats
    carried forward across later commits with a staleness counter."""
    import json as _json
    import os as _os

    from skopje_spark.sinks.versioned import (
        table_stats,
        versioned_analyze,
        versioned_change_feed,
        versioned_upsert,
    )

    path = str(tmp_path / "an")
    df = spark.createDataFrame(
        [(i, f"g{i % 7}", None if i % 5 == 0 else float(i)) for i in range(200)],
        "k long, g string, x double",
    )
    versioned_write(df.repartition(4), path)                           # v0
    assert table_stats(path) is None
    v1 = versioned_analyze(spark, path)                                # v1
    # metadata-only: the manifest references the same files
    with open(_os.path.join(path, "v=0", "_MANIFEST.json")) as f:
        r0 = {r["path"] for r in _json.load(f)["segments"]}
    with open(_os.path.join(path, "v=1", "_MANIFEST.json")) as f:
        r1 = {r["path"] for r in _json.load(f)["segments"]}
    assert r0 == r1
    st = table_stats(path)
    assert st["n_rows"] == 200 and st["versions_stale"] == 0
    assert abs(st["columns"]["k"]["ndv"] - 200) <= 8  # HLL++ rsd band
    assert st["columns"]["g"]["ndv"] == 7
    assert st["columns"]["x"]["n_nulls"] == 40
    # the feed never demands a keys fallback to cross the analyze commit
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(500, "new", 1.0)], "k long, g string, x double"),
        ["k"], change_feed=True,
    )                                                                  # v2
    feed = versioned_change_feed(spark, path, from_version=1).collect()
    assert [(r["_commit_version"], r["k"]) for r in feed] == [(2, 500)]
    # stats carried forward, staleness visible
    st2 = table_stats(path)
    assert st2["columns"]["g"]["ndv"] == 7 and st2["versions_stale"] == 1
    assert v1 == 1


def test_join_advice_from_stats_zero_job(spark, tmp_path):
    """The catalog-fact planning card: broadcast/shuffle decision and
    System-R join-size estimate from recorded ANALYZE stats alone —
    and a loud refusal when a side was never analyzed."""
    import pytest as _pytest

    from skopje_spark.operators.estimate import join_advice_from_stats
    from skopje_spark.sinks.versioned import versioned_analyze

    dim = str(tmp_path / "dim")
    fact = str(tmp_path / "fact")
    versioned_write(
        spark.createDataFrame([(i, f"d{i}") for i in range(50)],
                              "k long, name string"),
        dim,
    )
    versioned_write(
        spark.createDataFrame([(i % 50, i) for i in range(5000)],
                              "k long, v long").repartition(4),
        fact,
    )
    with _pytest.raises(ValueError, match="no recorded ANALYZE"):
        join_advice_from_stats(dim, "k", fact, "k")
    versioned_analyze(spark, dim)
    versioned_analyze(spark, fact)
    card = join_advice_from_stats(dim, "k", fact, "k")
    assert card["recommendation"] == "broadcast_a"
    # containment estimate: 50 * 5000 / ~50 ≈ 5000 (HLL band)
    assert 4000 <= card["est_join_rows"] <= 6500
    assert card["a"]["versions_stale"] == 0
    with _pytest.raises(KeyError, match="analyzed without column"):
        join_advice_from_stats(dim, "name_missing", fact, "k")


def test_drop_column_is_metadata_only_and_time_travels(spark, tmp_path):
    """DROP COLUMN: zero pool files touched, reads project the column
    away, pre-drop versions still serve it, and the change feed skips
    the commit."""
    import os as _os

    from skopje_spark.sinks.versioned import (
        _DATA_DIR,
        versioned_change_feed,
        versioned_drop_column,
    )

    path = str(tmp_path / "vdrop")
    df = spark.createDataFrame(
        [(1, "a", 10.0), (2, "b", 20.0)], "k long, v string, score double"
    )
    versioned_write(df, path)
    pool_before = set(_os.listdir(_os.path.join(path, _DATA_DIR)))
    v = versioned_drop_column(path, "score")
    assert set(_os.listdir(_os.path.join(path, _DATA_DIR))) == pool_before
    cur = versioned_read(spark, path)
    assert cur.columns == ["k", "v"]
    assert sorted((r["k"], r["v"]) for r in cur.collect()) == [(1, "a"), (2, "b")]
    old = versioned_read(spark, path, version=0)
    assert old.columns == ["k", "v", "score"]
    assert {r["score"] for r in old.collect()} == {10.0, 20.0}
    feed = versioned_change_feed(spark, path, from_version=v, to_version=v)
    assert feed.count() == 0  # zero logical changes


def test_drop_column_readd_never_resurrects_old_bytes(spark, tmp_path):
    """A column re-added under a dropped name gets a FRESH physical
    name: pre-drop files read NULL for it, post-re-add files read the
    new values — the old bytes are unreachable."""
    import json as _json

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        versioned_drop_column,
    )

    path = str(tmp_path / "vreadd")
    versioned_write(
        spark.createDataFrame([(1, "OLD1"), (2, "OLD2")], "k long, tag string"),
        path,
    )
    versioned_drop_column(path, "tag")
    # re-add 'tag' via additive evolution
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(3, "NEW3")], "k long, tag string"),
        ["k"], evolve_schema=True,
    )
    rows = {r["k"]: r["tag"] for r in versioned_read(spark, path).collect()}
    assert rows == {1: None, 2: None, 3: "NEW3"}  # OLD bytes never leak
    man = _read_manifest(path, 2)
    fld = next(f for f in man["schema"]["fields"] if f["name"] == "tag")
    assert (fld.get("metadata") or {}).get("physical", "tag") != "tag"


def test_drop_column_refusals(spark, tmp_path):
    from skopje_spark.sinks.versioned import (
        set_check_constraint,
        versioned_drop_column,
    )

    path = str(tmp_path / "vdropref")
    versioned_write(
        spark.createDataFrame(
            [(1, "a", "s0")], "k long, v string, src string"
        ),
        path,
        partition_by=["src"],
    )
    set_check_constraint(spark, path, "k_pos", "k > 0")
    with pytest.raises(ValueError, match="reference column"):
        versioned_drop_column(path, "k")
    with pytest.raises(ValueError, match="partition column"):
        versioned_drop_column(path, "src")
    with pytest.raises(KeyError, match="no column"):
        versioned_drop_column(path, "ghost")


def test_widen_column_reads_narrow_files_in_place(spark, tmp_path):
    """INT→LONG widening: metadata-only commit, old int32 files decode
    under the wide schema, post-widen merges write long files into the
    same pool, time travel serves the narrow type, narrowing refused."""
    import os as _os

    from pyspark.sql.types import IntegerType, LongType

    from skopje_spark.sinks.versioned import (
        _DATA_DIR,
        versioned_widen_column,
    )

    path = str(tmp_path / "vwide")
    versioned_write(
        spark.createDataFrame([(1, 10), (2, 20)], "k long, n int"), path
    )
    pool_before = set(_os.listdir(_os.path.join(path, _DATA_DIR)))
    versioned_widen_column(path, "n", "long")
    assert set(_os.listdir(_os.path.join(path, _DATA_DIR))) == pool_before
    cur = versioned_read(spark, path)
    assert isinstance(cur.schema["n"].dataType, LongType)
    assert sorted((r["k"], r["n"]) for r in cur.collect()) == [(1, 10), (2, 20)]
    # merge AFTER widening: long values beyond int range land fine,
    # and the rewrite mixes old-int and new-long files correctly
    big = 2**40
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(2, big), (3, big + 1)], "k long, n long"),
        ["k"],
    )
    rows = {r["k"]: r["n"] for r in versioned_read(spark, path).collect()}
    assert rows == {1: 10, 2: big, 3: big + 1}
    assert isinstance(
        versioned_read(spark, path, version=0).schema["n"].dataType,
        IntegerType,
    )
    with pytest.raises(ValueError, match="widen"):
        versioned_widen_column(path, "n", "int")
    with pytest.raises(ValueError, match="widen"):
        versioned_widen_column(path, "k", "string")


def test_drop_and_widen_through_connector(spark, tmp_path):
    """The Arrow connector serves dropped/widened/re-added schemas
    identically to versioned_read."""
    from skopje_spark.sinks.versioned import (
        versioned_drop_column,
        versioned_widen_column,
    )
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    path = str(tmp_path / "vconn")
    versioned_write(
        spark.createDataFrame([(1, 5, "x"), (2, 6, "y")],
                              "k long, n int, tag string"),
        path,
    )
    versioned_drop_column(path, "tag")
    versioned_widen_column(path, "n", "long")
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(3, 2**40)], "k long, n long"), ["k"],
    )
    native = sorted(map(tuple, versioned_read(spark, path).collect()))
    conn = sorted(map(tuple, (
        spark.read.format("skopje_versioned").option("path", path).load()
        .collect()
    )))
    assert conn == native and len(conn) == 3


def test_change_feed_spans_type_widening(spark, tmp_path):
    """A feed range crossing an INT→LONG widening serves one coherent
    frame: pre-widen cdc files (int32) and post-widen ones (int64)
    align by name with the union coercing to the wide type."""
    from skopje_spark.sinks.versioned import (
        versioned_change_feed,
        versioned_widen_column,
    )

    path = str(tmp_path / "vwfeed")
    versioned_write(
        spark.createDataFrame([(1, 10)], "k long, n int"), path
    )                                                                # v0
    versioned_upsert(
        spark, path, spark.createDataFrame([(2, 20)], "k long, n int"),
        ["k"], change_feed=True,
    )                                                                # v1
    versioned_widen_column(path, "n", "long")                        # v2
    big = 2**40
    versioned_upsert(
        spark, path, spark.createDataFrame([(3, big)], "k long, n long"),
        ["k"], change_feed=True,
    )                                                                # v3
    feed = versioned_change_feed(spark, path, from_version=1)
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"], r["n"])
        for r in feed.collect()
    )
    assert rows == [(1, "insert", 2, 20), (3, "insert", 3, big)]
    assert dict(feed.dtypes)["n"] == "bigint"


def test_nested_columns_full_lifecycle(spark, tmp_path):
    """array<float> + struct columns through the whole lake surface:
    stats-less manifest entries (nested paths carry no footer stats by
    design) stay conservative MERGE candidates while top-level key
    stats still prune; DV-delete, rename-without-rewrite, and
    additive evolution all survive nested schemas; native read and
    the Arrow connector agree at every step."""
    from skopje_spark.sinks.versioned import (
        _read_manifest,
        snapshot_meta,
        versioned_delete,
        versioned_rename_column,
        versioned_restore,
    )
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i, [float(i), float(i + 1)], (f"l{i % 3}", i * 10))
         for i in range(40)],
        "k long, emb array<float>, meta struct<lang:string,n:long>",
    )
    versioned_write(
        df.repartitionByRange(4, "k").sortWithinPartitions("k"), path
    )
    # nested columns carry NO stats slots; the key does
    for e in _read_manifest(path, 0)["files"]:
        assert "k" in e["stats"]
        assert "emb" not in e["stats"] and "meta" not in e["stats"]
        assert not any("." in s for s in e["stats"])
    # narrow MERGE still prunes by the key: nested stats-less columns
    # must not break candidacy (most files carried by reference)
    upd = spark.createDataFrame(
        [(2, [9.0, 9.0], ("xx", 999))],
        "k long, emb array<float>, meta struct<lang:string,n:long>",
    )
    versioned_upsert(spark, path, upd, ["k"])
    assert int(snapshot_meta(path, "n_files_rewritten", version=1)) == 1
    assert int(snapshot_meta(path, "n_files_carried", version=1)) == 3
    # DV-delete: merge-on-read anti-join over nested rows
    versioned_delete(spark, path, "k = 7")
    got = {r["k"]: (r["emb"], r["meta"]["lang"], r["meta"]["n"])
           for r in versioned_read(spark, path).collect()}
    assert 7 not in got and len(got) == 39
    assert got[2] == ([9.0, 9.0], "xx", 999)
    assert got[3] == ([3.0, 4.0], "l0", 30)
    # connector Arrow path row-identical
    conn = spark.read.format("skopje_versioned").option("path", path).load()
    native = versioned_read(spark, path)
    assert conn.exceptAll(native).isEmpty()
    assert native.exceptAll(conn).isEmpty()
    # rename the nested columns without rewrite; reads follow
    versioned_rename_column(path, "emb", "vec")
    versioned_rename_column(path, "meta", "info")
    r2 = versioned_read(spark, path)
    assert r2.columns == ["k", "vec", "info"]
    assert r2.filter("k = 2").collect()[0]["vec"] == [9.0, 9.0]
    conn2 = spark.read.format("skopje_versioned").option("path", path).load()
    assert conn2.columns == ["k", "vec", "info"]
    assert conn2.exceptAll(r2).isEmpty()
    # additive evolution alongside nested columns
    upd2 = spark.createDataFrame(
        [(5, [1.5, 2.5], ("zz", 50), "tagged")],
        "k long, vec array<float>, info struct<lang:string,n:long>, "
        "tag string",
    )
    versioned_upsert(spark, path, upd2, ["k"], evolve_schema=True)
    r3 = versioned_read(spark, path)
    assert r3.columns == ["k", "vec", "info", "tag"]
    rows = {r["k"]: r["tag"] for r in r3.collect()}
    assert rows[5] == "tagged" and rows[2] is None
    # restore across the nested lifecycle
    versioned_restore(path, 0, spark=spark)
    r0 = versioned_read(spark, path)
    assert r0.columns == ["k", "emb", "meta"] and r0.count() == 40


def test_bloom_index_point_lookup_tier(spark, tmp_path):
    """Per-file bloom tier (versioned_value_index bloom_cols=): a
    point lookup on an UNCLUSTERED high-cardinality key — where every
    file's [min,max] spans the domain and the value-set tier refuses
    (cardinality blows the cap) — elects a subset of files that is
    (a) a superset of the files actually containing the key, and
    (b) strictly smaller than the interval span. Write-side
    maintenance blooms freshly staged files; segment refs carry the
    OR-union so whole segments close unopened; cross-typed bounds
    probe nothing."""
    import duckdb

    from skopje_spark.sinks.versioned import (
        _bloom_absent,
        _read_manifest,
        _value_set_disjoint,
        versioned_append,
        versioned_read_where,
        versioned_value_index,
    )

    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i * 37 % 10007, f"r{i}") for i in range(4000)],
        "doc_id long, v string",
    )
    versioned_write(df.repartition(8), path)  # random layout
    versioned_value_index(
        spark, path, [], bloom_cols=["doc_id"], bloom_bits=1 << 16
    )
    ent = _read_manifest(path, latest_version(path))["files"]
    assert all(
        "bloom" in (e["stats"].get("doc_id") or {}) for e in ent
    )
    key = 37 * 123 % 10007
    containing = {
        e["path"] for e in ent
        if duckdb.sql(
            f"select count(*) from read_parquet('"
            f"{os.path.join(path, e['path'])}') where doc_id = {key}"
        ).fetchone()[0]
    }
    elected = {
        e["path"] for e in ent
        if not _value_set_disjoint(e["stats"].get("doc_id"), {key})
    }
    # sound AND useful: superset of truth, strictly below the span
    assert containing <= elected
    assert len(elected) < len(ent)
    got = versioned_read_where(spark, path, {"doc_id": key}).collect()
    assert sorted(r["doc_id"] for r in got) == [key]
    # cross-typed bound probes nothing (no proof, conservative)
    bl = ent[0]["stats"]["doc_id"]["bloom"]
    assert not _bloom_absent(bl, {"definitely-not-an-int"})
    # write-side maintenance parity: appended files carry bitmaps
    versioned_append(
        spark, path,
        spark.createDataFrame([(99991, "new")], "doc_id long, v string")
        .coalesce(1),
    )
    ent2 = _read_manifest(path, latest_version(path))["files"]
    fresh = [e for e in ent2 if e["path"] not in {x["path"] for x in ent}]
    assert fresh and all(
        "bloom" in (e["stats"].get("doc_id") or {})
        for e in fresh if e.get("rows")
    )
    assert [
        r["v"] for r in
        versioned_read_where(spark, path, {"doc_id": 99991}).collect()
    ] == ["new"]


def test_bloom_segment_union_closes_refs(spark, tmp_path, monkeypatch):
    """Segment refs fold the OR-union of member bitmaps (same
    geometry): a point lookup closes whole segments UNOPENED on both
    the native and connector read paths, even though every interval
    spans the domain."""
    from pyspark.sql.datasource import EqualTo

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        versioned_read_where,
        versioned_value_index,
    )
    from skopje_spark.sources.lakesource import VersionedTableReader
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = str(tmp_path / "t")
    df = spark.createDataFrame(
        [(i * 37 % 100003, f"r{i}") for i in range(8000)],
        "doc_id long, v string",
    )
    versioned_write(df.repartition(40), path)
    versioned_value_index(
        spark, path, [], bloom_cols=["doc_id"], bloom_bits=1 << 17
    )
    # a rewrite re-segments so refs fold the bloom union
    versioned_upsert(
        spark, path,
        spark.createDataFrame([(5, "U")], "doc_id long, v string"), 
        ["doc_id"],
    )
    key = 37 * 1234 % 100003
    m: dict = {}
    got = versioned_read_where(spark, path, {"doc_id": key}, metrics=m)
    assert sorted(r["doc_id"] for r in got.collect()) == [key]
    assert m["segments_total"] >= 6
    assert m["segments_opened"] < m["segments_total"]
    rd = VersionedTableReader({"path": path})
    list(rd.pushFilters([EqualTo(("doc_id",), key)]))
    parts = rd.partitions()
    assert rd.segments_opened < rd.segments_total
    assert 1 <= len(parts) <= 6


def test_join_advice_stats_tier_is_skew_aware(spark, tmp_path):
    """ANALYZE folds a Misra-Gries top-k per column into
    column_stats, so the ZERO-JOB stats tier recommends 'salt' on the
    skewed fixture exactly as the sample tier would — and a
    non-skewed twin stays 'shuffle'. join_advice_auto answers from
    stats (source='stats') with the salt verdict."""
    from skopje_spark.operators.estimate import (
        join_advice,
        join_advice_auto,
        join_advice_from_stats,
    )
    from skopje_spark.sinks.versioned import table_stats, versioned_analyze

    a = str(tmp_path / "a")
    b = str(tmp_path / "b")
    flat = str(tmp_path / "flat")
    # side A: 60% of rows on key 0 — the salted-join regime
    versioned_write(
        spark.createDataFrame(
            [(0 if i % 5 < 3 else i % 400, i) for i in range(8000)],
            "k long, v long",
        ).repartition(8),
        a,
    )
    versioned_write(
        spark.createDataFrame(
            [(i % 400, f"d{i}") for i in range(8000)], "k long, w string"
        ).repartition(8),
        b,
    )
    versioned_write(
        spark.createDataFrame(
            [(i % 400, i) for i in range(8000)], "k long, v long"
        ).repartition(8),
        flat,
    )
    for p in (a, b, flat):
        versioned_analyze(spark, p)
    # the marker carries the top-k skew signal
    st = table_stats(a)
    tops = dict(st["columns"]["k"]["top"])
    assert tops and max(tops.values()) >= 4000  # ~60% of 8000, MG-underest
    assert st["columns"]["k"]["mg_err"] == 8000 // 65
    # stats tier: salt on the skewed side, no broadcast possible
    card = join_advice_from_stats(
        a, "k", b, "k", broadcast_bytes=1, skew_share=0.2
    )
    assert card["recommendation"] == "salt"
    assert card["top_key_share"] > 0.2
    # agreement with the sample tier on the same fixture
    from skopje_spark.sinks.versioned import versioned_read

    srow = join_advice(
        versioned_read(spark, a), versioned_read(spark, b), "k", "k",
        broadcast_bytes=1, skew_share=0.2,
    ).first()
    assert srow["recommendation"] == "salt"
    # the flat twin stays shuffle under the same thresholds
    card2 = join_advice_from_stats(
        flat, "k", b, "k", broadcast_bytes=1, skew_share=0.2
    )
    assert card2["recommendation"] == "shuffle"
    assert card2["top_key_share"] <= 0.2
    # auto answers from stats with the salt verdict, zero jobs
    auto = join_advice_auto(
        spark, a, "k", b, "k", broadcast_bytes=1, skew_share=0.2
    )
    assert auto["source"] == "stats" and auto["recommendation"] == "salt"


def test_refold_refs_upgrades_legacy_segments(spark, tmp_path, monkeypatch):
    """versioned_refold_refs: a pre-aggregate-era manifest (refs
    stripped of 'partitions', value unions, and aggregate stats)
    answers SHOW PARTITIONS by opening every segment; one metadata-
    only refold rebuilds the ref fields from the UNCHANGED segment
    files (byte-identical, content-addressed) and restores
    segments_opened == 0 for partitions and segment closing on point
    reads. The change feed skips the commit."""
    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        _read_manifest,
        snapshot_meta,
        versioned_change_feed,
        versioned_partitions,
        versioned_read_where,
        versioned_refold_refs,
    )

    monkeypatch.setattr(V, "_SEG_TARGET", 4)
    path = str(tmp_path / "t")
    def slice_df(lo):
        return spark.createDataFrame(
            [(i, f"s{i // 100}", f"r{i}") for i in range(lo, lo + 40)],
            "k long, src string, v string",
        ).coalesce(1)

    from skopje_spark.sinks.versioned import versioned_append

    versioned_write(slice_df(0), path, partition_by=["src"])
    for lo in range(40, 400, 40):
        versioned_append(spark, path, slice_df(lo))
    v0 = latest_version(path)
    man_p = os.path.join(path, f"v={v0}", "_MANIFEST.json")
    with open(man_p) as f:
        man = json.load(f)
    assert len(man["segments"]) >= 3
    before = {r["path"] for r in man["segments"]}
    # strip to the pre-r11 shape: path/n only
    man["segments"] = [
        {"path": r["path"], "n": r["n"]} for r in man["segments"]
    ]
    with open(man_p, "w") as f:
        json.dump(man, f)
    m1: dict = {}
    parts1 = versioned_partitions(path, metrics=m1)
    assert m1["segments_opened"] == m1["segments_total"]  # degraded
    v1 = versioned_refold_refs(path)
    assert v1 == v0 + 1
    assert snapshot_meta(path, "op", version=v1) == "refold_refs"
    # segment files untouched, membership identical
    with open(os.path.join(path, f"v={v1}", "_MANIFEST.json")) as f:
        man2 = json.load(f)
    assert {r["path"] for r in man2["segments"]} == before
    assert all("partitions" in r and "stats" in r for r in man2["segments"])
    m2: dict = {}
    parts2 = versioned_partitions(path, metrics=m2)
    assert m2["segments_opened"] == 0
    assert sorted(
        (p["src"], p["n_rows"]) for p in parts2
    ) == sorted((p["src"], p["n_rows"]) for p in parts1)
    # point read closes segments from the rebuilt aggregates
    m3: dict = {}
    got = versioned_read_where(spark, path, {"k": 42}, metrics=m3)
    assert [r["v"] for r in got.collect()] == ["r42"]
    assert m3["segments_opened"] < m3["segments_total"]
    # already-folded: refold is a no-op without a commit
    assert versioned_refold_refs(path) == v1
    # zero logical changes: the feed crosses the refold commit
    feed = versioned_change_feed(
        spark, path, from_version=v1, to_version=v1
    )
    assert feed.count() == 0
    # entries unchanged byte-level through the refold
    assert _read_manifest(path, v1)["files"] == _read_manifest(
        path, v0
    )["files"]
