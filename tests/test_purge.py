"""Unit tests: DV-debt purge (sinks/versioned.py:versioned_purge) —
rewrite ONLY the files whose deleted fraction crosses the threshold,
drop fully-dead files from the manifest without any read, carry
everything else by identical entry."""

from __future__ import annotations

import pytest

from skopje_spark.sinks.versioned import (
    CommitConflict,
    _read_manifest,
    latest_version,
    snapshot_meta,
    versioned_append,
    versioned_delete,
    versioned_purge,
    versioned_read,
    versioned_write,
)


def _k(spark, lo, hi):
    return spark.range(lo, hi).selectExpr("CAST(id AS INT) AS k")


def _keys(spark, path):
    return {r["k"] for r in versioned_read(spark, path).collect()}


def test_purge_three_tiers(spark, tmp_path):
    """One file above threshold (rewritten, DVs shed), one below
    (carried verbatim with its vectors), one pristine (carried
    verbatim). Fully-dead files never exist in this store — the DV
    delete drops whole-covered files at delete time — so the purge's
    zero-live tier is pure defense-in-depth."""
    path = str(tmp_path / "t")
    versioned_write(_k(spark, 0, 10).coalesce(1), path)          # file A 0-9
    versioned_append(spark, path, _k(spark, 10, 20).coalesce(1)) # file B 10-19
    versioned_append(spark, path, _k(spark, 20, 40).coalesce(1)) # file C 20-39
    versioned_delete(spark, path, "k IN (10, 11, 12)")  # B: 30% dead
    versioned_delete(spark, path, "k = 20")        # C: 5% dead
    v = latest_version(path)
    pre = {e["path"]: e for e in _read_manifest(path, v)["files"]}
    n = versioned_purge(spark, path, min_dv_ratio=0.1)
    assert n == v + 1
    post = {e["path"]: e for e in _read_manifest(path, n)["files"]}
    # content identical
    assert _keys(spark, path) == (
        set(range(0, 10)) | set(range(13, 20)) | set(range(21, 40))
    )
    hot = [
        p for p, e in pre.items()
        if e.get("dv_rows", 0) and e["dv_rows"] / e["rows"] >= 0.1
    ]
    cold = [p for p in pre if p not in hot]
    assert len(hot) == 1
    # the above-threshold file is gone; its replacement carries no DVs
    # and exactly its live rows
    assert all(p not in post for p in hot)
    new = [e for p, e in post.items() if p not in pre]
    assert sum(e["rows"] for e in new) == 7
    assert all(not e.get("dv_files") for e in new)
    # below-threshold (vectors intact) and pristine files carried
    # byte-identically
    assert all(post[p] == pre[p] for p in cold)
    assert snapshot_meta(path, "n_files_dropped", version=n) == "0"
    assert snapshot_meta(path, "n_files_purged", version=n) == "1"
    assert snapshot_meta(path, "op", version=n) == "compact"


def test_purge_noop_when_clean(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned_write(_k(spark, 0, 10).coalesce(1), path)
    assert versioned_purge(spark, path) == 0  # no commit
    versioned_delete(spark, path, "k = 0")  # 1 row of 10 in one file
    # below default threshold when the file holds >=10 rows: no-op
    # (single-file table: ratio 0.1 >= 0.1 → actually rewrites; use 0.2)
    assert versioned_purge(spark, path, min_dv_ratio=0.2) == 1


def test_purge_guarded_races_loudly(spark, tmp_path):
    path = str(tmp_path / "t")
    versioned_write(_k(spark, 0, 10).coalesce(1), path)
    versioned_delete(spark, path, "k < 5")
    v = latest_version(path)
    versioned_append(spark, path, _k(spark, 50, 60))  # concurrent ingest
    import skopje_spark.sinks.versioned as V

    orig = V.latest_version
    # simulate the classic race: purge planned against v, commits after
    with pytest.raises(CommitConflict):
        V._commit_manifest(path, _read_manifest(path, v)["schema"], [],
                           {"op": "compact"}, v, 5.0)


def test_purge_partitioned_layout_preserved(spark, tmp_path):
    path = str(tmp_path / "t")
    df = spark.range(40).selectExpr(
        "CAST(id AS INT) AS k", "CAST(id % 2 AS INT) AS g"
    )
    versioned_write(df, path, partition_by=["g"])
    versioned_delete(spark, path, "k < 20 AND g = 0")
    n = versioned_purge(spark, path, min_dv_ratio=0.05)
    man = _read_manifest(path, n)
    # every file still records its one-value partition tuple
    assert all(e.get("partition", {}).get("g") is not None
               for e in man["files"])
    from skopje_spark.sinks.versioned import versioned_partitions

    parts = {p["g"]: p["n_rows"] for p in versioned_partitions(path)}
    assert parts == {0: 10, 1: 20}
    assert {r["k"] for r in versioned_read(spark, path).collect()} == (
        {k for k in range(40) if not (k < 20 and k % 2 == 0)}
    )
