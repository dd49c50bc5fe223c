"""Multi-table consistent snapshots — a Nessie-style CATALOG tier over
the versioned store.

Per-table commits (sinks/versioned.py) make each table individually
atomic, but a pipeline whose tables must agree — ``documents`` and the
``embeddings`` derived from them, a fact table and its rollup — needs
readers to flip between CONSISTENT table-version combinations, never a
mix of old docs with new embeddings. This module provides that with the
same three commit primitives the tables themselves use (Project
Nessie's insight re-expressed over this store: atomicity lives at the
catalog pointer; tables are just storage):

- a catalog is a directory of versioned KILOBYTE mappings
  ``{table name -> (path, pinned version)}``, committed through the
  table store's own publish step and lost-race loop (staged rename +
  pointer swap or conditional put) — O(1) regardless of how much data
  the tables hold;
- :func:`catalog_read` / :func:`attach_catalog` serve every table AT
  ITS PINNED VERSION from ONE catalog snapshot, so a reader can never
  observe a torn multi-table state, no matter how many table commits
  land mid-query;
- :func:`catalog_publish` is the multi-table write-audit-publish: each
  named branch fast-forwards its table (per-table WAP), then ONE
  catalog commit re-pins every table — catalog readers see all the
  published tables flip together or not at all. If a table publish
  fails midway the catalog is untouched: direct-main readers of the
  already-published tables see their new state (per-table commits are
  real), but every catalog reader still gets the previous consistent
  set — exactly the Nessie contract;
- pinned versions are protected from each table's ``vacuum`` by a
  per-catalog TAG (``catalog-<name>``, retargeted on every re-pin), so
  "the versions the catalog serves" can never be retention-collected.

Scale: catalog commits are kilobytes and never touch table data; reads
add one JSON fetch. 100 TB tables cost the catalog nothing.
"""

from __future__ import annotations

import json
import os
import time

from pyspark.sql import DataFrame, SparkSession

from skopje_spark.sinks import versioned as V

__all__ = [
    "attach_catalog",
    "catalog_commit",
    "catalog_publish",
    "catalog_read",
    "catalog_tables",
]

_CAT_NAME = "CATALOG.json"


def _cat_tag(cat_path: str, entry: str) -> str:
    # the tag must identify THIS catalog AND THIS catalog entry: two
    # catalogs sharing a basename ("prod/catalog", "staging/catalog")
    # would otherwise retarget each other's tag, and two ENTRIES of one
    # catalog pinning the SAME table path (an alias, or a table served
    # at two versions) would share one tag whose every retarget/release
    # clobbers the other's pin — letting vacuum collect a version the
    # catalog still serves. So the name digests (catalog abs path,
    # entry name) together; each pinned (name, path) pair holds its own
    # tag and releases independently.
    import hashlib
    import re as _re

    ap = os.path.abspath(os.path.normpath(cat_path))
    digest = hashlib.sha1(f"{ap}\0{entry}".encode()).hexdigest()[:8]
    hint = _re.sub(r"[^A-Za-z0-9._-]", "-", entry)[:24] or "t"
    return f"catalog-{hint}-{digest}"


def catalog_tables(
    cat_path: str, *, version: int | None = None
) -> dict[str, dict]:
    """The catalog's table mapping ``{name: {"path", "version"}}`` at
    its committed latest (or a pinned catalog ``version``)."""
    committed = V.latest_version(cat_path)
    if committed is None:
        raise FileNotFoundError(f"no committed catalog at {cat_path}")
    v = committed if version is None else version
    if v > committed:
        raise FileNotFoundError(
            f"catalog version {v} at {cat_path} is not committed "
            f"(latest committed: {committed})"
        )
    with open(os.path.join(cat_path, f"v={v}", _CAT_NAME)) as f:
        return json.load(f)["tables"]


def catalog_commit(
    cat_path: str,
    updates: dict,
    *,
    expected_version: int | None | object = V._UNGUARDED,
    pin_tags: bool = True,
    lock_timeout_s: float = 600.0,
) -> int:
    """Commit a new catalog snapshot. ``updates`` maps table names to:

    - ``(path, version)`` — add a table, or move one to another path;
    - ``version`` (int) — re-pin an existing table; ``None`` for the
      table's current committed latest;
    - the string ``"drop"`` — remove the table from the catalog.

    Unmentioned tables carry forward verbatim, so a commit is always a
    COMPLETE consistent mapping — and the carried mapping is
    RE-DERIVED from the committed latest on every try of the table
    store's lost-race loop (``versioned._retry_lost_races``), and
    published through its one publish step (``versioned._publish``),
    so two concurrent commits touching different tables both land with
    neither's re-pin lost. Guarded mode (``expected_version``) refuses
    with a loud :class:`CommitConflict` once the catalog has moved
    past it, instead of re-deriving.

    ``pin_tags`` (default) retargets each pinned table's
    ``catalog-…`` tag to the pinned version AFTER the catalog commit
    lands — exempting it from that table's vacuum retention for as
    long as the catalog serves it. Re-pins, drops, and moves release
    the previously pinned version (old catalog versions' reads become
    best-effort after that, exactly like any time travel under
    vacuum). A crash between the commit and the tag pass leaves the
    new pins served-but-unprotected until the next commit re-runs it;
    the ordering is deliberate — the reverse (tagging first) would
    un-protect the STILL-SERVED pins whenever the commit loses its
    race."""

    def attempt():
        committed = V.latest_version(cat_path)
        if (
            expected_version is not V._UNGUARDED
            and committed != expected_version
        ):
            raise V.CommitConflict(
                f"catalog at {cat_path} is at version {committed}, "
                f"writer expected {expected_version}"
            )
        current: dict[str, dict] = (
            catalog_tables(cat_path, version=committed)
            if committed is not None
            else {}
        )
        tables = dict(current)
        for name, spec in updates.items():
            if spec == "drop":
                if name not in tables:
                    raise KeyError(f"catalog has no table {name!r}")
                del tables[name]
                continue
            if isinstance(spec, tuple):
                tpath, tv = spec
            else:
                if name not in tables:
                    raise KeyError(
                        f"catalog has no table {name!r} — add it as "
                        "(path, version)"
                    )
                tpath, tv = tables[name]["path"], spec
            tlatest = V.latest_version(tpath)
            if tlatest is None:
                raise FileNotFoundError(f"no committed version at {tpath}")
            tv = tlatest if tv is None else int(tv)
            if tv > tlatest or not os.path.isdir(
                os.path.join(tpath, f"v={tv}")
            ):
                raise FileNotFoundError(
                    f"version {tv} at {tpath} is not a readable "
                    f"committed snapshot (latest committed: {tlatest}) "
                    "— a catalog must pin servable versions"
                )
            tables[name] = {"path": tpath, "version": tv}
        payload = json.dumps(
            {"tables": tables, "commit_ts": repr(time.time())},
            sort_keys=True,
        )

        def write(staged: str) -> None:
            os.makedirs(staged)
            with open(os.path.join(staged, _CAT_NAME), "w") as f:
                f.write(payload)

        n = V._publish(cat_path, write, committed, lock_timeout_s)
        return n, current, tables

    n, current, tables = V._retry_lost_races(
        attempt, f"catalog commit at {cat_path}"
    )
    # committed: now (and only now) maintain the vacuum pins against
    # the mapping actually replaced — retarget changed/new pins,
    # release pins the new mapping no longer holds (dropped tables,
    # moved paths)
    if pin_tags:
        for name, spec in tables.items():
            if current.get(name) != spec:
                V.versioned_tag(
                    spec["path"], _cat_tag(cat_path, name),
                    version=spec["version"],
                    replace=True, lock_timeout_s=lock_timeout_s,
                )
        for name, spec in current.items():
            if name in tables and tables[name]["path"] == spec["path"]:
                continue
            try:
                V.versioned_drop_ref(
                    spec["path"], _cat_tag(cat_path, name),
                    lock_timeout_s=lock_timeout_s,
                )
            except (KeyError, FileNotFoundError):
                pass  # never pinned, or the table itself is gone
    return n


def catalog_read(
    spark: SparkSession, cat_path: str, name: str, *,
    version: int | None = None,
) -> DataFrame:
    """Read one catalog table AT THE VERSION the catalog snapshot pins
    — time travel the whole multi-table state by pinning the catalog
    ``version``."""
    spec = catalog_tables(cat_path, version=version).get(name)
    if spec is None:
        raise KeyError(f"catalog at {cat_path} has no table {name!r}")
    return V.versioned_read(
        spark, spec["path"], version=spec["version"]
    )


def attach_catalog(
    spark: SparkSession, cat_path: str, *,
    version: int | None = None, prefix: str = "",
) -> dict[str, int]:
    """Register every catalog table as a temp view pinned to ONE
    catalog snapshot's versions — SQL over a consistent multi-table
    state. Returns ``{view name: pinned table version}``."""
    out = {}
    for name, spec in catalog_tables(cat_path, version=version).items():
        df = V.versioned_read(spark, spec["path"], version=spec["version"])
        df.createOrReplaceTempView(prefix + name)
        out[prefix + name] = spec["version"]
    return out


def catalog_publish(
    cat_path: str,
    branches: dict[str, str],
    *,
    drop: bool = False,
    pin_tags: bool = True,
    lock_timeout_s: float = 600.0,
) -> int:
    """Multi-table write-audit-publish: fast-forward each table to its
    named branch (``{table name: branch name}``), then re-pin them all
    in ONE catalog commit. Catalog readers flip from the previous
    consistent set to the new one atomically — never a mix.

    Every branch's publishability — existence, type, AND fast-forward
    staleness (the same walk ``versioned_publish`` applies) — is
    pre-checked so the common failure (one branch went stale) aborts
    BEFORE any table moves. The precheck is advisory against races (a
    table commit can still land between it and that table's publish);
    a failure mid-way leaves the catalog serving the previous
    consistent set (direct-main readers of already-published tables do
    see their new state — per-table commits are real; re-run the
    publish after fixing the failure to finish the flip). ``drop``
    removes each branch after its publish."""
    cat_v = V.latest_version(cat_path)
    if cat_v is None:
        raise FileNotFoundError(f"no committed catalog at {cat_path}")
    tables = catalog_tables(cat_path, version=cat_v)
    todo: list[tuple[str, str, str]] = []
    for name, branch in branches.items():
        spec = tables.get(name)
        if spec is None:
            raise KeyError(f"catalog at {cat_path} has no table {name!r}")
        tpath = spec["path"]
        entry = V.table_refs(tpath).get(branch)
        if entry is None or entry.get("type") != "branch":
            raise KeyError(
                f"table {name!r} has no branch {branch!r} at {tpath}"
            )
        if entry.get("base_version") is None:
            raise ValueError(
                f"branch {branch!r} of table {name!r} forked from a "
                "historical version and is not publishable"
            )
        committed = V.latest_version(tpath)
        if V._ff_base(tpath, entry, committed) != committed:
            raise V.CommitConflict(
                f"branch {branch!r} of table {name!r} is not a "
                f"fast-forward (main at {committed}, branch base "
                f"{entry['base_version']}) — aborting before any "
                "table publishes; re-fork it and re-run"
            )
        todo.append((name, tpath, branch))
    new_pins: dict = {}
    for name, tpath, branch in todo:
        new_pins[name] = V.versioned_publish(
            tpath, branch, drop=drop, lock_timeout_s=lock_timeout_s,
        )
    return catalog_commit(
        cat_path, new_pins, expected_version=cat_v,
        pin_tags=pin_tags, lock_timeout_s=lock_timeout_s,
    )
