"""Versioned parquet table: manifest snapshots, time travel, vacuum.

The reference's load path overwrites table state in place (Postgres
upserts, `/root/reference/src/load/pg.rs:50-117`): history is
destroyed and a reader racing a load sees a half-written table. The
lake-native fix — the core idea behind Delta/Iceberg, reduced to its
parquet-only essentials — is:

- data files are IMMUTABLE and live once in a shared ``data/`` pool;
- a snapshot ``v=N`` is a tiny MANIFEST (file list + per-file
  stats + the committed schema), not a data copy — commits write
  O(changed files), never O(table);
- a tiny ``_LATEST`` pointer file is swapped via atomic rename
  (os.replace) AFTER the manifest is fully written;
- readers resolve the pointer first, then scan exactly the files the
  pinned manifest lists — they never observe partial writes,
  regardless of write duration;
- old snapshots stay readable (time travel) until ``vacuum``, which
  REF-COUNTS data files across retained manifests before deleting.

Scale: the pointer swap is O(1) metadata no matter the table size,
and a MERGE rewrites only the files whose per-file key stats can
contain a matched key (:func:`versioned_upsert`) — a 1-row upsert on
a 100 TB table touches one data file plus a manifest, the
Delta/Iceberg write economics. Concurrent readers pin whatever
version they resolved, so long scans are immune to in-flight loads.

Commit-backend contract: pointer resolution, version listing, and
the atomic pointer swap are isolated behind three primitives with
TWO implementations. :class:`PosixPointerStore` (default) rests on
rename semantics (os.replace) and a truthful directory listing.
:class:`LogPointerStore` supplies the S3-class contract — publish is
a create-exclusive per-version log object (If-None-Match conditional
put; a raced commit fails loudly, never last-write-wins) and
resolution probes object existence from a verified hint, trusting no
listing. The full protocol suite runs green on both, so everything
above the store is backend-agnostic by test, not just by design.

Governance tier (round 12): NAMED REFS — :func:`versioned_tag`
(metadata-only snapshot names, vacuum-exempt until dropped),
:func:`versioned_branch` (zero-copy hard-linked writable forks under
``_branches/<name>``), and :func:`versioned_publish` (fast-forward
CAS of a branch back onto main: O(new files) links + one kilobyte
commit — write-audit-publish for batch and streaming writers alike).
Multi-table consistency lives one level up in
:mod:`skopje_spark.sinks.catalog`: versioned kilobyte
table→version mappings whose commits give readers consistent
cross-table snapshots and make a coordinated multi-branch publish
atomic at the catalog pointer.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import tempfile
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

_VDIR = re.compile(r"^v=(\d+)$")
_DATA_DIR = "data"
_MANIFEST_NAME = "_MANIFEST.json"
# per-file min/max stats are only recorded for types that round-trip
# JSON losslessly AND compare consistently between parquet footer
# values and Spark literals; anything else degrades to "no stats"
# (the file is then always a rewrite candidate — conservative).
# DATE values are canonicalized to ISO 'YYYY-MM-DD' strings — fixed
# width, so lexicographic order == date order — before they hit this
# check; _stat_encode is the single choke point for that encoding.
_STATS_SAFE = (bool, int, float, str)


def _stat_encode(v):
    """Canonical JSON-safe encoding for a stats/partition value: dates
    become ISO strings (order-preserving), everything else passes
    through. Apply to BOTH sides of every stats comparison (manifest
    values at write, query bounds at read) so they meet in one
    domain."""
    import datetime as _dt

    if isinstance(v, _dt.date) and not isinstance(v, _dt.datetime):
        return v.isoformat()
    return v


_GLOB_META = re.compile(r"[\\\[\]{}*?]")


def _pool_paths(path: str, rels) -> list[str]:
    """Absolute paths of the pool files ``rels`` of the table at
    ``path``, as Spark's file readers take them: they expand every
    path as a Hadoop glob, so glob characters in the table's own path
    (a table under ``t['p']``) are backslash-escaped."""
    return [_GLOB_META.sub(r"\\\g<0>", os.path.join(path, r)) for r in rels]


def _freshen(path: str) -> None:
    """Reset a pooled file's mtime to NOW. os.link and metadata-
    preserving copies carry the SOURCE file's mtime into the pool, but
    :func:`vacuum`'s pool pass promises "unreferenced AND at least
    min_file_age_s old" before unlinking — a promise that only holds
    if every freshly staged pool entry actually reads as fresh.
    Best-effort: a failure here can only make vacuum more aggressive
    on a file the imminent commit will reference, so surface nothing
    but don't swallow the commit."""
    try:
        os.utime(path)
    except OSError:
        pass


def _link_pool_files(
    src: str, dst: str, entries: list[dict], owner: str, verdict: str
) -> None:
    """Hard-link every data and DV pool file ``entries`` reference
    from table ``src`` into table ``dst``'s pool — a real copy when
    the link fails (cross-device) — skipping names ``dst`` already
    holds (pool names are uuid-unique and immutable). Each new pool
    entry is freshened: a link carries the source file's old mtime,
    and vacuum's age gate would otherwise unlink the unreferenced
    "old" file before the caller's commit references it. A file the
    source already vacuumed raises FileNotFoundError("<owner>
    references vacuumed file <rel>; <verdict>")."""
    for e in entries:
        for rel in [e["path"], *e.get("dv_files", [])]:
            dst_f = os.path.join(dst, rel)
            if os.path.exists(dst_f):
                continue
            src_f = os.path.join(src, rel)
            os.makedirs(os.path.dirname(dst_f), exist_ok=True)
            try:
                os.link(src_f, dst_f)
            except FileNotFoundError:
                raise FileNotFoundError(
                    f"{owner} references vacuumed file {rel}; {verdict}"
                )
            except OSError:
                shutil.copy(src_f, dst_f)
            _freshen(dst_f)


class CommitConflict(RuntimeError):
    """An optimistic commit did not land: it lost its race
    (:class:`LostRace`), or a check against the new latest refused it
    (a changed schema or CHECK marker, a touched or possibly
    overlapping file). Recoverable — re-read the new latest, re-derive
    the change, retry (:func:`versioned_merge_concurrent` does exactly
    that)."""


class LostRace(CommitConflict):
    """The publish step (:func:`_publish`) lost a race: the table
    advanced past the writer's expected version, another writer holds
    the commit lock, or the pointer store's conditional put was
    refused. The only conflict :func:`_retry_lost_races` retries."""


class ConstraintViolation(RuntimeError):
    """A commit's data batch falsifies one of the table's CHECK
    constraints (:func:`set_check_constraint`); nothing was published.
    The batch's already-pooled files are unreferenced orphans, swept
    by :func:`vacuum`'s age-gated ref-count pass — the same crash
    contract every abandoned write relies on."""


class PosixPointerStore:
    """The three commit-backend primitives every versioned table needs
    (the correctness boundary called out in the module docstring):

    - :meth:`list_versions` — which ``v=N`` snapshots exist on disk
      (committed or residue; the pointer decides which is which);
    - :meth:`read_pointer` — the committed version, or None;
    - :meth:`swap_pointer` — atomically publish a new version.

    This default implementation is POSIX-filesystem-backed: the swap
    is ``os.replace`` (atomic rename within a filesystem) and the
    listing is ``os.listdir`` (assumed complete and fresh). Object
    stores (S3 et al.) provide NEITHER — rename is copy+delete and
    listings are not read-after-write-consistent everywhere — so a
    backend for them must implement the swap as a conditional put
    (If-None-Match / transactional metadata service) and the listing
    from the same authoritative source. Swap the module-level
    ``POINTER_STORE`` (or monkeypatch in tests) to change backends;
    all commit/read/vacuum paths route through it."""

    def list_versions(self, path: str) -> list[int]:
        if not os.path.isdir(path):
            return []
        out = []
        for d in os.listdir(path):
            m = _VDIR.match(d)
            if m and not d.endswith(".tmp"):
                out.append(int(m.group(1)))
        return sorted(out)

    def read_pointer(self, path: str) -> int | None:
        try:
            with open(os.path.join(path, "_LATEST")) as f:
                return int(f.read().strip())
        except (FileNotFoundError, ValueError):
            return None

    def swap_pointer(self, path: str, version: int) -> None:
        fd, tmp = tempfile.mkstemp(dir=path, prefix="._latest")
        with os.fdopen(fd, "w") as f:
            f.write(str(version))
        os.replace(tmp, os.path.join(path, "_LATEST"))


class LogPointerStore(PosixPointerStore):
    """Commit-log pointer backend with CONDITIONAL-PUT semantics — the
    S3-class contract the module docstring describes, proving the
    three-primitive interface is sufficient for stores that have
    neither atomic rename nor trustworthy listings:

    - PUBLISH (:meth:`swap_pointer`) is a create-exclusive write of
      the per-version log object ``_commits/<N>`` (``O_CREAT|O_EXCL``
      — the filesystem spelling of HTTP ``If-None-Match: *``).
      Exactly ONE writer can create it, so the store itself
      arbitrates a commit race: the loser gets a loud
      :class:`LostRace`, never last-write-wins — strictly
      stronger than the POSIX backend's ``os.replace``.
    - RESOLUTION (:meth:`read_pointer`) never trusts a directory
      listing: it reads a monotonic ``_HINT`` object (best-effort,
      verified before use) and probes per-object EXISTENCE forward
      until the first gap. The log is gap-free by construction —
      version N+1 is only ever attempted by a writer that resolved N
      — so existence probes (HEAD requests, read-after-write
      consistent on every object store) fully determine the latest.
    - :meth:`list_versions` still reports on-disk ``v=*`` snapshot
      dirs (committed or residue; the pointer decides which is
      which), exactly as the interface documents — only COMMIT
      correctness is listing-free.

    Select with ``POINTER_STORE = LogPointerStore()`` (or the
    ``SKOPJE_POINTER_STORE=log`` env var in the test suites). Tables
    are backend-bound at creation: the two backends keep their
    pointer state in different places, so switching mid-table is a
    migration, not a config flip."""

    def read_pointer(self, path: str) -> int | None:
        logd = os.path.join(path, "_commits")
        hint = -1
        try:
            with open(os.path.join(logd, "_HINT")) as f:
                hint = int(f.read().strip())
        except (FileNotFoundError, ValueError):
            pass
        # a corrupt / foreign hint must not fabricate commits: walk
        # back to the newest version that actually exists
        while hint >= 0 and not os.path.exists(
            os.path.join(logd, str(hint))
        ):
            hint -= 1
        v = hint
        while os.path.exists(os.path.join(logd, str(v + 1))):
            v += 1
        return v if v >= 0 else None

    def swap_pointer(self, path: str, version: int) -> None:
        logd = os.path.join(path, "_commits")
        os.makedirs(logd, exist_ok=True)
        try:
            fd = os.open(
                os.path.join(logd, str(version)),
                os.O_CREAT | os.O_EXCL | os.O_WRONLY,
            )
        except FileExistsError:
            raise LostRace(
                f"version {version} at {path} was committed by another "
                "writer (conditional put refused)"
            )
        with os.fdopen(fd, "w") as f:
            f.write(repr(time.time()))
        # monotonic O(1) resolution hint; pure optimization — readers
        # verify it and probe forward, so a lost/stale write is benign
        try:
            fd2, tmp = tempfile.mkstemp(dir=logd, prefix="._hint")
            with os.fdopen(fd2, "w") as f:
                f.write(str(version))
            os.replace(tmp, os.path.join(logd, "_HINT"))
        except OSError:
            pass


def _default_pointer_store():
    if os.environ.get("SKOPJE_POINTER_STORE", "").lower() == "log":
        return LogPointerStore()
    return PosixPointerStore()


POINTER_STORE = _default_pointer_store()


def _versions(path: str) -> list[int]:
    return POINTER_STORE.list_versions(path)


def latest_version(path: str) -> int | None:
    """Resolve the committed version from the pointer (not the
    directory listing — a snapshot directory may exist before its
    commit)."""
    return POINTER_STORE.read_pointer(path)


_UNGUARDED = object()  # sentinel: expected_version not supplied


@contextmanager
def _commit_lock(path: str, timeout_s: float):
    """The mutual-exclusion window of :func:`_publish`, the one step
    every commit publishes through. Acquired via O_EXCL file create
    (atomic on POSIX, works across processes AND threads); a lock
    older than ``timeout_s`` is presumed abandoned by a crashed writer
    and stolen once. Contention raises :class:`LostRace` immediately —
    :func:`_retry_lost_races`, not a blocking wait, resolves races
    (every manifest is staged before the lock, so the critical section
    is a few renames and contention windows are milliseconds)."""
    lock = os.path.join(path, "_COMMIT_LOCK")
    for attempt in (0, 1):
        try:
            fd = os.open(lock, os.O_CREAT | os.O_EXCL | os.O_WRONLY)
            with os.fdopen(fd, "w") as f:
                f.write(f"{os.getpid()} {time.time()}")
            break
        except FileExistsError:
            try:
                age = time.time() - os.path.getmtime(lock)
            except FileNotFoundError:
                continue  # released in the gap — retry the create
            if attempt == 0 and age > timeout_s:
                # crashed writer's residue: steal once, then re-create
                try:
                    os.unlink(lock)
                except FileNotFoundError:
                    pass
                continue
            raise LostRace(
                f"another commit holds the lock at {path} "
                f"(held {age:.1f}s; presumed live under {timeout_s}s)"
            )
    else:  # both creates lost to writers that came and went: not ours
        raise LostRace(f"another commit holds the lock at {path}")
    try:
        yield
    finally:
        try:
            os.unlink(lock)
        except FileNotFoundError:
            pass


def _gc_staged(path: str, timeout_s: float, keep: str) -> None:
    """Remove staged snapshot directories abandoned by crashed writers
    (older than ``timeout_s``), sparing ``keep`` (ours). Runs under
    the commit lock."""
    for d in os.listdir(path):
        full = os.path.join(path, d)
        if not d.startswith(".staged-") or full == keep:
            continue
        try:
            if time.time() - os.path.getmtime(full) > timeout_s:
                shutil.rmtree(full, ignore_errors=True)
        except FileNotFoundError:
            pass


def _publish(path: str, write, expected_version, lock_timeout_s: float) -> int:
    """THE publish step of every commit — table manifests
    (:func:`_commit_manifest`) and catalog mappings alike. ``write``
    fills a fresh ``.staged-*`` directory OUTSIDE the lock; then, under
    :func:`_commit_lock`: check the committed version equals
    ``expected_version`` (guarded mode only; :data:`_UNGUARDED` skips
    it), sweep uncommitted ``v=*`` residue above the pointer (a writer
    that died between rename and pointer swap — every residue when no
    pointer exists yet, so numbering restarts cleanly), drop staged
    dirs abandoned by crashed writers, rename ours to ``v=N`` and swap
    the pointer. Returns N.

    A lost race raises :class:`LostRace`: the version moved, the lock
    is held, or the pointer store refused its conditional put. Any
    exit where the commit did not land removes the staged directory.
    Sweep and rename run under the lock because an unlocked sweep
    racing another writer's rename-then-swap would delete its
    committed-in-flight snapshot; so an accidental mix of guarded and
    unguarded writers on one table fails loudly, never silently."""
    os.makedirs(path, exist_ok=True)
    staged = os.path.join(path, f".staged-{uuid.uuid4().hex}")
    landed = False
    try:
        write(staged)
        with _commit_lock(path, lock_timeout_s):
            current = latest_version(path)
            if expected_version is not _UNGUARDED and (
                current != expected_version
            ):
                raise LostRace(
                    f"table at {path} is at version {current}, "
                    f"writer expected {expected_version}"
                )
            for v in _versions(path):
                if current is None or v > current:
                    shutil.rmtree(os.path.join(path, f"v={v}"))
            _gc_staged(path, lock_timeout_s, keep=staged)
            n = (current + 1) if current is not None else 0
            os.replace(staged, os.path.join(path, f"v={n}"))
            POINTER_STORE.swap_pointer(path, n)
            landed = True
            return n
    finally:
        if not landed:
            shutil.rmtree(staged, ignore_errors=True)


_COMMIT_TRIES = 9  # publish attempts of a commit that re-targets the latest
_BACKOFF_S, _BACKOFF_CAP_S = 0.05, 1.0  # sleep after try i: min(cap, b·2^i)


def _retry_lost_races(attempt, what: str):
    """THE lost-race retry loop of every commit that re-targets the
    current latest: ``attempt()`` reads the latest, derives the commit
    against it and publishes (:func:`_publish`); a :class:`LostRace`
    sleeps a capped exponential backoff and tries again, up to
    :data:`_COMMIT_TRIES` tries. Refusals — plain
    :class:`CommitConflict`, :class:`MergeConflict`, any other error —
    propagate at once. Running out of tries raises a plain
    CommitConflict, so an enclosing re-derive loop
    (:func:`versioned_merge_concurrent`) re-derives instead of
    nesting a second round of retries."""
    last: LostRace | None = None
    for i in range(_COMMIT_TRIES):
        try:
            return attempt()
        except LostRace as e:
            last = e
            if i + 1 < _COMMIT_TRIES:
                time.sleep(min(_BACKOFF_CAP_S, _BACKOFF_S * 2**i))
    raise CommitConflict(
        f"{what} lost {_COMMIT_TRIES} consecutive races; last: {last}"
    )


# ---------------------------------------------------------------------------
# manifest snapshots: a version is a file LIST + schema + stats
# ---------------------------------------------------------------------------

def _file_entry(abs_path: str, rel_path: str) -> dict:
    """One manifest entry for a pooled data file: relative path, size,
    row count, and per-column min/max/null stats lifted from the
    parquet FOOTER — metadata reads only, no row data. Stats power
    :func:`versioned_upsert`'s file pruning; columns whose footer
    stats are absent, truncated, or not JSON-safe get no entry and
    their files stay conservative rewrite candidates.

    Runs driver-side on the commit's OWN files (O(files in this
    commit), never O(table)); an object-store deployment would lift
    the same numbers in the writing tasks instead."""
    import pyarrow.parquet as pq

    md = pq.read_metadata(abs_path)
    stats: dict[str, dict] = {}
    for i in range(md.num_columns):
        # nested columns carry dotted paths — stats only for top-level
        name = md.schema.column(i).path
        if "." in name:
            continue
        mn = mx = None
        nulls = 0
        usable = md.num_row_groups > 0
        for rg in range(md.num_row_groups):
            st = md.row_group(rg).column(i).statistics
            if st is None or not st.has_min_max:
                usable = False
                break
            try:
                lo, hi = _stat_encode(st.min), _stat_encode(st.max)
            except Exception:  # pyarrow can't decode stats for this type
                usable = False
                break
            if not (isinstance(lo, _STATS_SAFE) and isinstance(hi, _STATS_SAFE)):
                usable = False
                break
            mn = lo if mn is None else min(mn, lo)
            mx = hi if mx is None else max(mx, hi)
            nulls = None if st.null_count is None else (
                None if nulls is None else nulls + st.null_count
            )
        if usable:
            stats[name] = {"min": mn, "max": mx, "nulls": nulls}
    return {
        "path": rel_path,
        "bytes": os.path.getsize(abs_path),
        "rows": md.num_rows,
        "stats": stats,
    }


def _schema_mapping(schema) -> dict[str, str]:
    """logical column name → PHYSICAL parquet name, read from each
    field's ``physical`` metadata (set by
    :func:`versioned_rename_column`); identity for never-renamed
    columns, so tables that never rename carry zero metadata and pay
    zero overhead."""
    return {
        f.name: (f.metadata or {}).get("physical", f.name)
        for f in schema.fields
    }


def _ensure_unique_physicals(schema, reserved=()):
    """Return ``schema`` with every field's physical name distinct:
    existing ``physical`` metadata is honored, identity names that
    collide with an already-used physical (a NEW logical column
    reusing the name a rename freed) get a deterministic ``__2``/
    ``__3`` suffix recorded as metadata. ``reserved`` adds RETIRED
    physical names (columns dropped via
    :func:`versioned_drop_column`) to the collision set, so a
    re-added column can never resurrect the dropped column's bytes
    still sitting in pre-drop pool files. Walks fields in order, so
    the result is a pure function of (schema, reserved) — staging
    and commit derive the same mapping independently."""
    from pyspark.sql.types import StructField, StructType

    used: set[str] = set(reserved)
    out = []
    for f in schema.fields:
        phys = (f.metadata or {}).get("physical", f.name)
        if phys in used:
            i = 2
            while f"{f.name}__{i}" in used:
                i += 1
            phys = f"{f.name}__{i}"
        used.add(phys)
        md = dict(f.metadata or {})
        if phys != f.name:
            md["physical"] = phys
        else:
            md.pop("physical", None)
        out.append(StructField(f.name, f.dataType, f.nullable, md))
    return StructType(out)


_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"

# hidden-partition transform specs: "target=date(source)" partitions
# by a value DERIVED from a timestamp/date column without
# materializing it in the schema (Iceberg's hidden partitioning);
# "target=bucket(N,source)" hash-buckets a key column into N stable
# buckets (Iceberg's bucket transform — ours uses CRC32 of the
# canonical string form so the SAME bucket is computable Spark-side
# (F.crc32) and driver-side (zlib.crc32) without a job)
_PART_TRANSFORM = re.compile(r"^(\w+)=(date|month|hour)\((\w+)\)$")
_PART_BUCKET = re.compile(r"^(\w+)=bucket\((\d+),\s*(\w+)\)$")
_PART_TRUNCATE = re.compile(r"^(\w+)=truncate\((\d+),\s*(\w+)\)$")


def _parse_partition_spec(spec: list[str]) -> list[tuple[str, str, str]]:
    """partition_by entries → (target, source_column, transform).
    ``"col"`` is the identity transform; ``"day=date(ts)"`` derives a
    virtual day from a timestamp/date column; ``"b=bucket(16,id)"``
    derives a hash bucket in [0, 16) from a key column — virtual
    targets never appear in the table schema, only in per-entry
    partition values and injected stats. Bucket transforms are
    encoded as ``"bucket[N]"`` in the transform slot."""
    out = []
    for entry in spec:
        m = _PART_TRANSFORM.match(entry)
        if m:
            out.append((m.group(1), m.group(3), m.group(2)))
            continue
        mb = _PART_BUCKET.match(entry)
        if mb:
            target, n, source = mb.group(1), int(mb.group(2)), mb.group(3)
            if n < 2:
                raise ValueError(
                    f"bucket count must be >= 2 in {entry!r}"
                )
            out.append((target, source, f"bucket[{n}]"))
            continue
        mt = _PART_TRUNCATE.match(entry)
        if mt:
            target, w, source = mt.group(1), int(mt.group(2)), mt.group(3)
            if w < 1:
                raise ValueError(
                    f"truncate width must be >= 1 in {entry!r}"
                )
            out.append((target, source, f"truncate[{w}]"))
            continue
        if re.match(r"^\w+$", entry):
            out.append((entry, entry, "identity"))
        else:
            raise ValueError(
                f"unsupported partition spec entry {entry!r} — use a "
                "column name, 'target=date(source)', "
                "'target=month(source)', 'target=hour(source)', "
                "'target=bucket(N, source)', or "
                "'target=truncate(W, source)'"
            )
    return out


def _bucket_expr(col, n: int):
    """The bucket transform as a Spark expression: CRC32 over the
    value's canonical string form, mod N. CAST(x AS STRING) is the
    canonical form (ints print as decimal digits, strings are
    themselves), so :func:`_bucket_of` reproduces the same bucket
    driver-side with zlib.crc32 — no job to prune a point bound.
    NULL buckets to NULL (the all-NULL partition file, stat-less)."""
    from pyspark.sql import functions as F

    return F.pmod(F.crc32(col.cast("string").cast("binary")), F.lit(n))


def _bucket_of(value, n: int):
    """Driver-side twin of :func:`_bucket_expr` (verified equal for
    int/string values, unicode included)."""
    import zlib

    if value is None:
        return None
    if isinstance(value, bool):  # CAST(bool AS STRING) -> true/false
        value = "true" if value else "false"
    return zlib.crc32(str(value).encode("utf-8")) % n


def _bucket_bound_ok(value, dtype) -> bool:
    """A pushed bound derives a bucket only when its Python type
    matches the source column's Spark type. Spark's coercing equality
    can hold across canonical string forms ('05' = 5 is true against
    a STRING column) while crc32('05') != crc32('5') — so a
    cross-typed bound proves nothing about which bucket the matching
    rows live in. The exact residual on the real column (which Spark
    re-applies with its own coercion) stays correct either way; this
    guard only refuses the prune-tier derivation."""
    from pyspark.sql.types import StringType

    if isinstance(value, bool):
        return False
    if isinstance(dtype, StringType):
        return isinstance(value, str)
    # bucket sources are restricted to integral/string at write time
    return isinstance(value, int)


def _check_bucket_source_type(name: str, dtype) -> None:
    """Bucket sources are key-shaped types whose canonical string form
    is unambiguous on both sides: integers and strings. Floats (NaN,
    trailing-zero forms) and temporals (zone/format ambiguity) are
    refused loudly."""
    from pyspark.sql.types import (
        ByteType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    if not isinstance(
        dtype, (ByteType, ShortType, IntegerType, LongType, StringType)
    ):
        raise TypeError(
            f"bucket() partition source {name!r} has type "
            f"{dtype.simpleString()}; supported bucket sources: "
            "byte/short/int/long, string"
        )


def _day_expr(col, dtype):
    """The ``date()`` partition transform as a Spark expression,
    pinned ZONE-FREE: for TIMESTAMP (LTZ) sources the day is the UTC
    epoch day (``floor(epoch / 86400)``), never ``to_date`` — which
    silently follows ``spark.sql.session.timeZone``, so a writer and
    reader in different zones would label/prune days differently
    (silent row loss through a "prune-only" bound that isn't).
    Iceberg pins its date transform to UTC for exactly this reason.
    DATE sources are already zone-free; TIMESTAMP_NTZ wall time IS
    the value, so ``to_date`` is deterministic there."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, TimestampType

    if isinstance(dtype, DateType):
        return col
    if isinstance(dtype, TimestampType):
        return F.date_from_unix_date(
            F.floor(col.cast("double") / F.lit(86400.0)).cast("int")
        )
    return F.to_date(col)  # TIMESTAMP_NTZ: wall time is the value


def _month_expr(col, dtype):
    """month(source): the 'YYYY-MM' label of the (zone-pinned) day —
    a substring of the canonical ISO day string, so it inherits
    :func:`_day_expr`'s zone-freedom and orders chronologically."""
    from pyspark.sql import functions as F

    return F.substring(_day_expr(col, dtype).cast("string"), 1, 7)


def _hour_expr(col, dtype):
    """hour(source): 'YYYY-MM-DD-HH' label. TIMESTAMP (LTZ) sources
    use the UTC epoch hour (zone-free, like the day transform);
    TIMESTAMP_NTZ wall time is the value, so its own calendar fields
    apply. Fixed width ⇒ lexicographic order == chronological."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import TimestampNTZType

    if isinstance(dtype, TimestampNTZType):
        return F.concat(
            F.to_date(col).cast("string"), F.lit("-"),
            F.lpad(F.hour(col).cast("string"), 2, "0"),
        )
    h = F.floor(col.cast("double") / F.lit(3600.0))
    return F.concat(
        F.date_from_unix_date(
            F.floor(h / F.lit(24.0)).cast("int")
        ).cast("string"),
        F.lit("-"),
        F.lpad(F.pmod(h, F.lit(24)).cast("string"), 2, "0"),
    )


def _truncate_expr(col, w: int, dtype):
    """truncate(W, source): string prefix of width W, or the integer
    floored to a multiple of W (``v - pmod(v, W)`` — floor semantics
    for negatives too). Both are MONOTONE, so range bounds on the
    source derive prune-only bounds on the target."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StringType

    if isinstance(dtype, StringType):
        return F.substring(col, 1, w)
    return col - F.pmod(col, F.lit(w))


_MONO_TRANSFORMS = ("date", "month", "hour")  # + truncate[W]


def _is_mono(transform: str) -> bool:
    return transform in _MONO_TRANSFORMS or transform.startswith(
        "truncate["
    )


def _hidden_expr(transform: str, col, dtype):
    """(shadow expression, directory-decode type) for a hidden
    partition transform over a source column of ``dtype``."""
    from pyspark.sql.types import DateType, LongType, StringType

    if transform == "date":
        return _day_expr(col, dtype), DateType()
    if transform == "month":
        return _month_expr(col, dtype), StringType()
    if transform == "hour":
        return _hour_expr(col, dtype), StringType()
    if transform.startswith("bucket["):
        n = int(transform[len("bucket["):-1])
        return _bucket_expr(col, n), LongType()
    w = int(transform[len("truncate["):-1])
    # decode type == source type: string prefixes stay strings,
    # floored ints keep the source's integer type
    return _truncate_expr(col, w, dtype), dtype


def _check_hidden_source(transform: str, source: str, dtype) -> None:
    """Type gate for a hidden transform's source column — mirrors
    :func:`_check_partition_type` for identity columns."""
    from pyspark.sql.types import (
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampNTZType,
        TimestampType,
    )

    if transform in ("date", "month"):
        if not isinstance(
            dtype, (DateType, TimestampType, TimestampNTZType)
        ):
            raise TypeError(
                f"{transform}() partition transform needs a date/"
                f"timestamp source; {source!r} is {dtype.simpleString()}"
            )
    elif transform == "hour":
        if not isinstance(dtype, (TimestampType, TimestampNTZType)):
            raise TypeError(
                f"hour() partition transform needs a timestamp "
                f"source; {source!r} is {dtype.simpleString()}"
            )
    elif transform.startswith("bucket["):
        _check_bucket_source_type(source, dtype)
    elif transform.startswith("truncate["):
        if not isinstance(
            dtype,
            (ByteType, ShortType, IntegerType, LongType, StringType),
        ):
            raise TypeError(
                f"truncate() partition transform needs an integer or "
                f"string source; {source!r} is {dtype.simpleString()}"
            )


def _derived_value(transform: str, v, dtype=None):
    """Driver-side stats-domain value of a MONOTONE hidden transform
    applied to a bound value, or None when underivable — the exact
    twin of the write-side shadow expression, so derived bounds prune
    without ever being wrong. (bucket is not monotone; equality
    bounds derive through :func:`_bucket_of` instead.)"""
    import datetime as _dt
    import math

    from pyspark.sql.types import TimestampNTZType

    if transform == "date":
        return _as_date(v, dtype)
    if transform == "month":
        d = _as_date(v, dtype)
        return None if d is None else d.isoformat()[:7]
    if transform == "hour":
        if not isinstance(v, _dt.datetime):
            return None
        if isinstance(dtype, TimestampNTZType):
            return f"{v.date().isoformat()}-{v.hour:02d}"
        h = math.floor(v.timestamp() / 3600.0)
        day = _dt.date(1970, 1, 1) + _dt.timedelta(days=h // 24)
        return f"{day.isoformat()}-{h % 24:02d}"
    if transform.startswith("truncate["):
        w = int(transform[len("truncate["):-1])
        if isinstance(v, str):
            return v[:w]
        if isinstance(v, int) and not isinstance(v, bool):
            return v - (v % w)
        return None
    return None


def _check_partition_type(name: str, dtype) -> None:
    """Partition columns are restricted to types whose values identify
    a partition exactly and order canonically in the stats domain:
    integers, strings, booleans, dates. Floats (NaN/precision) and
    timestamps (zone ambiguity) make terrible partition keys — refuse
    loudly at write instead of mis-pruning at read."""
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
    )

    if not isinstance(
        dtype,
        (BooleanType, ByteType, ShortType, IntegerType, LongType,
         StringType, DateType),
    ):
        raise TypeError(
            f"partition column {name!r} has type {dtype.simpleString()}; "
            "supported partition types: boolean, byte/short/int/long, "
            "string, date"
        )


def _decode_partition_value(dtype, s: str):
    """Hive-style directory value → typed JSON-safe value (the
    canonical stats domain: dates stay ISO strings)."""
    from pyspark.sql.types import BooleanType, StringType, DateType  # noqa: F401
    from pyspark.sql.types import ByteType, IntegerType, LongType, ShortType

    if s == _HIVE_NULL:
        return None
    if isinstance(dtype, (ByteType, ShortType, IntegerType, LongType)):
        return int(s)
    if isinstance(dtype, BooleanType):
        return s.lower() == "true"
    return s  # string / date (ISO) — already canonical


def _table_codec(path: str) -> str | None:
    """The table's carried ``parquet_codec`` property (None = engine
    default, snappy). Set at creation via ``versioned_write(codec=)``;
    every later staging write — upsert, merge, append, compact, purge —
    inherits it here, so one knob governs the whole table's storage.
    At 100 TB the zstd-vs-snappy delta is double-digit percent of both
    footprint and scan IO."""
    committed = latest_version(path)
    if committed is None:
        return None
    return snapshot_meta(path, "parquet_codec", version=committed)


def _stage_data_files(
    df: DataFrame,
    path: str,
    mapping: dict[str, str] | None = None,
    partition_by: list[str] | None = None,
    files_per_partition: int = 1,
    codec: str | None = None,
) -> list[dict]:
    """Write ``df``'s partitions as immutable files in the table's
    shared ``data/`` pool and return their manifest entries. Files get
    unique names, so concurrent writers never collide and a crashed
    writer's files are mere unreferenced orphans (collected by
    :func:`vacuum`'s ref-count pass, age-gated).

    ``mapping`` (logical → physical) renames columns to their stable
    PHYSICAL parquet names before writing, so files staged after a
    column rename stay read-compatible with every pre-rename file —
    the write half of rename-without-rewrite.

    ``partition_by`` (logical column names) enforces the partitioned
    LAYOUT INVARIANT: every staged file holds exactly ONE value of
    each partition column (one shuffle on the partition tuple, then a
    Hive-style ``partitionBy`` write of shadow copies — the data file
    keeps the real columns, so nothing downstream changes shape). Each
    entry records its typed partition values (``entry["partition"]``,
    logical names) and gets EXACT injected stats
    (``min == max == value``) under the physical name — which is what
    turns every existing stats consumer (pruned reads, MERGE
    candidacy, segment aggregates, rebase disjointness proofs, the
    connector's pushFilters) into an exact partition pruner with no
    new code path. Injection also fixes what footers can't give:
    DATE stats (canonical ISO strings) and long-string truncation."""
    staged = os.path.join(path, f".stage-data-{uuid.uuid4().hex}")
    if mapping and any(mapping.get(c, c) != c for c in df.columns):
        from pyspark.sql import functions as F

        df = df.select(
            *[F.col(c).alias(mapping.get(c, c)) for c in df.columns]
        )
    if codec is None:
        codec = _table_codec(path)

    def _writer(frame):
        w = frame.write.mode("errorifexists")
        return w.option("compression", codec) if codec else w

    pool = os.path.join(path, _DATA_DIR)
    os.makedirs(pool, exist_ok=True)
    entries = []
    prefix = uuid.uuid4().hex[:12]
    if not partition_by:
        _writer(df).parquet(staged)
        for i, f in enumerate(sorted(os.listdir(staged))):
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            name = f"{prefix}-{i:05d}.parquet"
            os.replace(os.path.join(staged, f), os.path.join(pool, name))
            rel = f"{_DATA_DIR}/{name}"
            entries.append(_file_entry(os.path.join(path, rel), rel))
        shutil.rmtree(staged, ignore_errors=True)
        _enforce_constraints(df.sparkSession, path, entries, mapping)
        _maintain_value_index(df.sparkSession, path, entries)
        return entries

    import urllib.parse

    from pyspark.sql import functions as F
    from pyspark.sql.types import DateType, TimestampNTZType, TimestampType

    parsed = _parse_partition_spec(partition_by)
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    shadow_exprs = []
    stat_keys: list[str] = []   # name the injected stats live under
    dec_types = []              # type used to decode the dir value
    for target, source, transform in parsed:
        phys = (mapping or {}).get(source, source)
        if phys not in dtypes:
            raise KeyError(
                f"partition source column {source!r} not in frame "
                f"columns {sorted(df.columns)}"
            )
        if transform == "identity":
            _check_partition_type(target, dtypes[phys])
            shadow_exprs.append(F.col(phys))
            stat_keys.append(phys)
            dec_types.append(dtypes[phys])
            continue
        # hidden transforms: virtual target, stats under the target
        if target in dtypes or target in (
            (mapping or {}).get(c, c) for c in dtypes
        ):
            raise ValueError(
                f"hidden partition target {target!r} collides with "
                "an existing column; pick a fresh name"
            )
        _check_hidden_source(transform, source, dtypes[phys])
        expr, dec = _hidden_expr(transform, F.col(phys), dtypes[phys])
        shadow_exprs.append(expr)
        stat_keys.append(target)
        dec_types.append(dec)
    shadows = [f"__part_{i}" for i in range(len(parsed))]
    # shadow copies carry the layout; the REAL columns stay in the
    # data files, so reads, DVs, constraints, CDF all see them as on
    # any other table. One shuffle co-locates each partition tuple;
    # the one-value-per-FILE invariant itself comes from partitionBy's
    # directory split, so the task layout only sets file counts.
    df2 = df.select(
        "*", *[e.alias(s) for e, s in zip(shadow_exprs, shadows)]
    )
    shuffle_keys = [F.col(s) for s in shadows]
    if files_per_partition > 1:
        # a 100 TB table's hot partition (one day, one language) must
        # not funnel into one writer task / one giant file: a
        # content-hash spread key splits each partition value across
        # files_per_partition tasks, deterministically (no rand — a
        # retried stage must re-produce the same layout). The explicit
        # task count keeps AQE from coalescing the spread away.
        spread = (
            F.abs(F.hash(*[F.col(c) for c in df.columns]))
            % files_per_partition
        )
        shuffle_keys.append(spread)
        shuffled = df2.repartition(
            max(64, files_per_partition * 16), *shuffle_keys
        )
    else:
        shuffled = df2.repartition(*shuffle_keys)
    _writer(shuffled).partitionBy(*shadows).parquet(
        staged
    )
    found: list[str] = []
    for root, _, files in os.walk(staged):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                found.append(os.path.join(root, f))
    for i, fp in enumerate(sorted(found)):
        raw_vals: dict[str, str] = {}
        rel_dir = os.path.relpath(os.path.dirname(fp), staged)
        for seg in rel_dir.split(os.sep):
            k, eq, v = seg.partition("=")
            if eq:
                raw_vals[k] = urllib.parse.unquote(v)
        name = f"{prefix}-{i:05d}.parquet"
        os.replace(fp, os.path.join(pool, name))
        rel = f"{_DATA_DIR}/{name}"
        entry = _file_entry(os.path.join(path, rel), rel)
        part: dict[str, object] = {}
        stats = entry.setdefault("stats", {})
        for j, ((target, _, _), sk, dt_) in enumerate(
            zip(parsed, stat_keys, dec_types)
        ):
            val = _decode_partition_value(dt_, raw_vals[f"__part_{j}"])
            part[target] = val
            if val is None:
                # an all-NULL partition file: min/max prove nothing,
                # null count is exact
                stats.pop(sk, None)
            else:
                stats[sk] = {"min": val, "max": val, "nulls": 0}
        entry["partition"] = part
        entries.append(entry)
    shutil.rmtree(staged, ignore_errors=True)
    _enforce_constraints(df.sparkSession, path, entries, mapping)
    _maintain_value_index(df.sparkSession, path, entries)
    return entries


def _violation_flags(cons: dict[str, str]):
    """One boolean column per constraint, TRUE when the row FALSIFIES
    it. SQL CHECK three-valued semantics: only an expression that
    evaluates to FALSE violates — TRUE and NULL both pass (so
    ``price > 0`` admits NULL prices; pair it with ``price IS NOT
    NULL`` to forbid them, exactly as in ANSI SQL / Delta."""
    from pyspark.sql import functions as F

    return [
        (~F.coalesce(F.expr(expr).cast("boolean"), F.lit(True))).alias(
            f"__viol_{i}"
        )
        for i, expr in enumerate(cons.values())
    ]


def _find_violations(df: DataFrame, cons: dict[str, str]) -> list[str]:
    """Names of the constraints in ``cons`` that some row of ``df``
    falsifies — ONE pass over ``df`` however many constraints, short-
    circuited by limit(1), predicate fully JVM-side (F.expr)."""
    from functools import reduce
    from operator import or_

    from pyspark.errors import AnalysisException
    from pyspark.sql import functions as F

    if not cons:
        return []
    flags = _violation_flags(cons)
    try:
        bad = (
            df.select(*flags)
            .filter(reduce(or_, [F.col(f"__viol_{i}") for i in range(len(cons))]))
            .limit(1)
            .collect()
        )
    except AnalysisException as e:
        raise ConstraintViolation(
            f"CHECK constraint expression failed to analyze against this "
            f"commit's schema (constraints: {list(cons)}): {e}"
        )
    if not bad:
        return []
    row = bad[0]
    return [n for i, n in enumerate(cons) if row[f"__viol_{i}"]]


def _enforce_constraints(
    spark: SparkSession,
    path: str,
    entries: list[dict],
    mapping: dict[str, str] | None = None,
) -> None:
    """Validate a freshly staged batch against the table's CHECK
    constraints before its manifest can be committed. Reads the
    just-pooled files (O(batch), parquet pushdown, one job, only when
    constraints exist); a violation raises with nothing published and
    the batch's files left as vacuum-collectable orphans. Constraint
    expressions speak LOGICAL column names; ``mapping`` restores them
    over the physically-named staged files."""
    cons = table_constraints(path)
    if not cons or not entries:
        return
    batch = spark.read.parquet(
        *_pool_paths(path, [e["path"] for e in entries])
    )
    if mapping and any(mapping.get(c, c) != c for c in mapping):
        from pyspark.sql import functions as F

        phys_to_logical = {p: n for n, p in mapping.items()}
        batch = batch.select(
            *[
                F.col(c).alias(phys_to_logical.get(c, c))
                for c in batch.columns
            ]
        )
    broken = _find_violations(batch, cons)
    if broken:
        raise ConstraintViolation(
            f"commit to {path} violates CHECK constraint(s) "
            f"{broken}: {[cons[n] for n in broken]}"
        )


# expected file entries per manifest segment (content-defined cuts,
# so the EXPECTED size is this; actual segments vary around it)
_SEG_TARGET = 2000
# ref-level value-set unions stay kilobyte refs: fold only while the
# union of a segment's per-file value sets is at most this many values
_SEG_VALS_CAP = 64


def _seg_cut(path_str: str) -> bool:
    """Content-defined segment boundary: an entry STARTS a new segment
    when its path hashes to 0 mod the target size. Because the cut
    depends only on the entry's own path — never its position — adding
    or removing one entry re-chunks only the segment it lives in;
    every other segment keeps its exact byte content and therefore its
    content hash (the FastCDC idea applied to manifest rows)."""
    import hashlib

    return (
        int(hashlib.sha256(path_str.encode()).hexdigest()[:8], 16)
        % _SEG_TARGET
        == 0
    )


def _write_segments(table: str, entries: list[dict]) -> list[dict]:
    """Store ``entries`` as content-addressed manifest SEGMENT files in
    the table's pool and return the segment references. A segment's
    file name is the sha256 of its canonical JSON, so a segment whose
    entries did not change since the last commit resolves to a file
    that ALREADY EXISTS and is reused by reference — commits write
    O(changed segments), not O(table files). This is the two-level
    Iceberg manifest-list design: at ~2000 entries/segment a 100 TB
    table (~800k files) carries ~400 segment refs per version, and a
    narrow MERGE rewrites one or two segment files plus the kilobyte
    version manifest instead of re-serializing 800k entries.

    Entries are sorted by path first — commit code paths assemble
    (carried + new) in varying orders, and a canonical order is what
    lets unchanged regions re-hash identically. Each reference also
    carries the segment's row total and per-column min/max AGGREGATE
    stats (folded only over columns every member entry has stats
    for), so future readers can prune whole segments from the
    kilobyte refs without opening them.

    Object-store note: content addressing makes the exists/replace
    pair race-safe even WITHOUT conditional put — two writers racing
    on the same segment write byte-identical content, so last-write-
    wins is harmless; only the version POINTER swap needs the
    conditional-put contract (see :class:`PosixPointerStore`)."""
    import hashlib

    entries = sorted(entries, key=lambda e: e["path"])
    chunks: list[list[dict]] = []
    cur: list[dict] = []
    for e in entries:
        if cur and _seg_cut(e["path"]):
            chunks.append(cur)
            cur = []
        cur.append(e)
    if cur:
        chunks.append(cur)
    pool = os.path.join(table, _DATA_DIR)
    os.makedirs(pool, exist_ok=True)
    refs: list[dict] = []
    for chunk in chunks:
        payload = json.dumps(chunk, sort_keys=True, separators=(",", ":"))
        h = hashlib.sha256(payload.encode()).hexdigest()[:32]
        rel = f"{_DATA_DIR}/seg-{h}.json"
        full = os.path.join(table, rel)
        if not os.path.exists(full):
            tmp = f"{full}.tmp-{uuid.uuid4().hex}"
            with open(tmp, "w") as f:
                f.write(payload)
            os.replace(tmp, full)  # atomic; identical content if raced
        else:
            # re-arm vacuum's age gate: an identical segment left over
            # from a long-abandoned commit is older than
            # min_file_age_s, so a vacuum racing the window between
            # this reuse and the pointer swap could delete it from
            # under the new manifest. A fresh mtime makes the reused
            # file as young as a newly staged one.
            try:
                os.utime(full, None)
            except OSError:
                pass
        refs.append(_fold_ref(rel, chunk))
    return refs


def _fold_ref(rel: str, chunk: list[dict]) -> dict:
    """Compute a segment REF (aggregate stats, value-set unions,
    bloom unions, per-partition-tuple aggregates) from its member
    entries — THE single fold, shared by :func:`_write_segments` at
    commit time and :func:`versioned_refold_refs` for metadata-only
    upgrades of legacy refs, so the two can never diverge."""
    # segment-level aggregate stats: a column contributes only when
    # every member entry has usable stats for it
    agg: dict[str, dict] = {}
    first = chunk[0].get("stats") or {}
    for col, st in first.items():
        mn, mx = st.get("min"), st.get("max")
        ok = mn is not None and mx is not None
        for e in chunk[1:]:
            st2 = (e.get("stats") or {}).get(col)
            if not ok or st2 is None:
                ok = False
                break
            m2, x2 = st2.get("min"), st2.get("max")
            if m2 is None or x2 is None:
                ok = False
                break
            try:
                mn, mx = min(mn, m2), max(mx, x2)
            except TypeError:
                ok = False
                break
        if ok:
            agg[col] = {"min": mn, "max": mx}
        # ref-level VALUE-SET union: every member pins its values
        # (a recorded vals set, or min==max single-valued layout)
        # and the union stays small -> point/IN bounds close the
        # whole segment by membership even when the interval fold
        # spans everything (scattered categoricals). Partition
        # layouts get this for free from their singleton stats.
        union: set = set()
        for e in chunk:
            st2 = (e.get("stats") or {}).get(col) or {}
            evals = st2.get("vals")
            if evals is None:
                m2, x2 = st2.get("min"), st2.get("max")
                if m2 is None or m2 != x2:
                    union = None
                    break
                evals = [m2]
            union.update(evals)
            if len(union) > _SEG_VALS_CAP:
                union = None
                break
        if union:
            try:
                vals_sorted = sorted(union)
            except TypeError:
                vals_sorted = sorted(union, key=repr)
            agg.setdefault(col, {})["vals"] = vals_sorted
        # ref-level BLOOM union: OR of member bitmaps (same
        # geometry required) still answers definitely-absent, so
        # a point lookup can close the whole segment unopened.
        # A union past half density proves almost nothing —
        # dropped rather than carried as dead weight.
        blooms = [
            ((e.get("stats") or {}).get(col) or {}).get("bloom")
            for e in chunk
        ]
        if all(b is not None for b in blooms):
            geos = {
                (b["bits"], b["k"], b.get("t")) for b in blooms
            }
            if len(geos) == 1:
                import base64 as _b64

                import numpy as _np

                bits_, k_, t_ = next(iter(geos))
                u = _np.zeros((bits_ + 7) // 8, dtype=_np.uint8)
                for b in blooms:
                    u |= _np.frombuffer(
                        _b64.b64decode(b["b64"]), dtype=_np.uint8
                    )
                density = int(
                    _np.unpackbits(u).sum()
                ) / float(bits_)
                if density <= 0.5:
                    agg.setdefault(col, {})["bloom"] = {
                        "b64": _b64.b64encode(
                            u.tobytes()
                        ).decode("ascii"),
                        "bits": bits_, "k": k_, "t": t_,
                    }
    ref = {
        "path": rel,
        "n": len(chunk),
        "rows": sum(int(e.get("rows", 0)) for e in chunk),
        "bytes": sum(int(e.get("bytes", 0)) for e in chunk),
        "dv_rows": sum(int(e.get("dv_rows", 0)) for e in chunk),
        "stats": agg,
    }
    # per-partition-tuple aggregates (only when every member has a
    # recorded tuple): SHOW PARTITIONS and the advisor's skew card
    # sum these kilobyte ref rows instead of parsing segments —
    # O(segments) driver JSON for an 800k-file table. DV changes
    # rewrite the member entries, so the fold is always fresh.
    if all(e.get("partition") is not None for e in chunk):
        parts: dict[str, list] = {}
        for e in chunk:
            k = json.dumps(e["partition"], sort_keys=True)
            slot = parts.setdefault(k, [e["partition"], 0, 0, 0])
            slot[1] += 1
            slot[2] += int(e.get("rows", 0)) - int(e.get("dv_rows", 0))
            slot[3] += int(e.get("bytes", 0))
        ref["partitions"] = [parts[k] for k in sorted(parts)]
    return ref


def versioned_refold_refs(
    path: str,
    *,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """Metadata-only maintenance: re-derive every segment ref's
    aggregate fields (interval fold, value-set unions, bloom unions,
    per-partition-tuple aggregates, row/byte totals) from its member
    entries WITHOUT touching data files or the segments' membership —
    the segment files themselves are content-addressed and reused
    byte-identical, only the kilobyte version manifest changes.

    Why it exists: refs written before an aggregate field existed
    (pre-partition-fold, pre-value-union, pre-bloom-union manifests)
    degrade their consumers — ``versioned_partitions`` opens every
    legacy segment per call and membership pruning falls back to
    intervals — until some rewrite happens to touch the segment. One
    refold upgrades the whole table in one O(segments + entries)
    driver JSON pass and one CAS commit (re-derived on a lost race,
    :func:`_retry_lost_races`); the change feed and CDF stream skip
    the commit (zero logical changes, op ``refold_refs``)."""

    def attempt() -> int:
        committed = latest_version(path)
        if committed is None:
            raise FileNotFoundError(f"no committed version at {path}")
        with open(
            os.path.join(path, f"v={committed}", _MANIFEST_NAME)
        ) as f:
            raw = json.load(f)
        refs = raw.get("segments")
        if refs is None:
            return committed  # legacy flat manifest: nothing to refold
        new_refs = []
        changed = 0
        for ref in refs:
            with open(os.path.join(path, ref["path"])) as f:
                chunk = json.load(f)
            nref = _fold_ref(ref["path"], chunk)
            if nref != ref:
                changed += 1
            new_refs.append(nref)
        if changed == 0:
            return committed  # already fully folded: no commit needed
        commit_meta = {
            "op": "refold_refs",
            "n_refs_refolded": str(changed),
            "n_files_appended": "0",
            "n_files_rewritten": "0",
        }
        commit_meta.update(meta or {})
        return _commit_manifest(
            path, raw["schema"], [], commit_meta,
            committed, lock_timeout_s, reuse_refs=new_refs,
        )

    return _retry_lost_races(attempt, f"refold at {path}")


def _write_manifest_dir(
    target: str, schema_json: dict, entries: list[dict],
    meta: dict[str, str] | None,
    reuse_refs: list[dict] | None = None,
) -> None:
    """``reuse_refs``: segment references carried BY REFERENCE from a
    prior version (segment-diff commits) — their files are immutable
    pool citizens and are not re-read or re-written; only ``entries``
    are chunked into (possibly new) segment files."""
    os.makedirs(target, exist_ok=True)
    table = os.path.dirname(os.path.abspath(target))
    segs = list(reuse_refs or []) + _write_segments(table, entries)
    with open(os.path.join(target, _MANIFEST_NAME), "w") as f:
        json.dump({"schema": schema_json, "segments": segs}, f)
    for k, v in (meta or {}).items():
        with open(os.path.join(target, f"_meta_{k}"), "w") as f:
            f.write(str(v))


def _read_manifest(path: str, version: int) -> dict:
    """Materialize a version's manifest: schema + the FLAT entry list
    (segments resolved transparently; pre-segment manifests carried a
    flat ``files`` array and read unchanged). Entries come back sorted
    by path — the canonical order segments are cut in."""
    with open(os.path.join(path, f"v={version}", _MANIFEST_NAME)) as f:
        man = json.load(f)
    if "files" not in man:
        man["files"] = _ref_entries(path, man["segments"])
    return man


def _ref_entries(path: str, refs: list[dict]) -> list[dict]:
    """The file entries of the given segment refs, each segment file
    opened and parsed."""
    entries: list[dict] = []
    for ref in refs:
        with open(os.path.join(path, ref["path"])) as f:
            entries.extend(json.load(f))
    return entries


def _ref_disjoint(ref: dict, stats_col: str, lo, hi, vals=None) -> bool:
    """True when a segment ref's AGGREGATE stats on ``stats_col``
    PROVE every member file disjoint from the bound: the [min, max]
    interval fold, or — for point/IN bounds — empty intersection with
    the ref's value-set UNION (which closes segments of scattered
    categoricals whose interval fold spans everything). False (open
    the segment) for stat-less/NaN/cross-type aggregates —
    conservative, per-entry pruning re-filters whatever is opened."""
    st = (ref.get("stats") or {}).get(stats_col)
    if st is None:
        return False
    bset = vals
    if bset is None and lo is not None and lo == hi:
        bset = {lo}
    evals = st.get("vals")
    if evals is not None and bset is not None:
        try:
            if _member_provable(evals, bset) and not (
                set(evals) & set(bset)
            ):
                return True
        except TypeError:
            pass
    bl = st.get("bloom")
    if bl is not None and bset is not None and _bloom_absent(bl, bset):
        return True  # segment-level bitmap union excludes every value
    mn, mx = st.get("min"), st.get("max")
    if mn is None or mx is None or _stat_nan(mn) or _stat_nan(mx):
        return False
    try:
        return (lo is not None and mx < lo) or (
            hi is not None and mn > hi
        )
    except TypeError:
        return False  # cross-type compare proves nothing


def _split_segments(
    path: str, man: dict, bounds: list[tuple]
) -> tuple[list[dict], list[dict], int | None]:
    """THE segment splitter for reads and commits: split a raw
    manifest's segment refs into (closed_refs, open_entries,
    n_segments). ``bounds`` holds (stats_col, lo, hi, vals) conjuncts;
    a segment ANY of them proves disjoint by its ref aggregates
    (:func:`_ref_disjoint`) holds no matching row, so it is never
    opened and a commit carries it into the next manifest BY
    REFERENCE, never re-serialized. A {"day": d, "source": s} bound on
    a source-clustered table closes the day-matching segments the
    source aggregates close. No bounds (or stat-less refs) open
    everything. A legacy flat manifest returns ``([], files, None)``."""
    if "files" in man:
        return [], man["files"], None
    closed: list[dict] = []
    opened: list[dict] = []
    for ref in man["segments"]:
        if any(_ref_disjoint(ref, *b) for b in bounds):
            closed.append(ref)
        else:
            opened.append(ref)
    return closed, _ref_entries(path, opened), len(man["segments"])


def _resolved_ref_bounds(resolved: list[dict]) -> list[tuple]:
    """:func:`_split_segments` conjuncts of resolved bounds, in the
    canonical stats domain."""
    return [
        (
            u["key"], _stat_encode(u["lo"]), _stat_encode(u["hi"]),
            u.get("vals"),
        )
        for u in resolved
    ]


def _plan_read(
    path: str, man: dict, resolved: list[dict]
) -> tuple[list[dict], int, int]:
    """THE read planner of every pruned scan (:func:`versioned_read_where`,
    :func:`versioned_pruned_read` and the ``skopje_versioned``
    connector): given a raw manifest and its :func:`_resolve_bounds`
    units, close segments by their ref aggregates
    (:func:`_split_segments`), then drop opened entries by footer
    intervals (:func:`_interval_split`) and by exact membership where
    the manifest pins a file's values (:func:`_value_set_disjoint`:
    single-valued partition files, value sets, blooms) for IN lists and
    point bounds. No units opens everything. Returns (entries,
    segments_opened, segments_total); a flat manifest counts as one
    opened segment."""
    closed, entries, n = _split_segments(
        path, man, _resolved_ref_bounds(resolved)
    )
    for u in resolved:
        lo, hi = _stat_encode(u["lo"]), _stat_encode(u["hi"])
        entries, _ = _interval_split(entries, u["key"], lo, hi)
        bset = u.get("vals")
        if bset is None and lo is not None and lo == hi:
            bset = {lo}  # degenerate point interval
        if bset is not None:
            entries = [
                e for e in entries
                if not _value_set_disjoint(
                    (e.get("stats") or {}).get(u["key"]), bset
                )
            ]
    if n is None:
        return entries, 1, 1
    return entries, n - len(closed), n


# TABLE properties, not commit facts: every commit carries them from
# its base until it sets them itself (:func:`_commit_manifest`)
_TABLE_PROPS = (
    "constraints", "stream_ledger", "column_stats", "partition_by",
    "retired_physicals", "partition_specs", "value_index", "refs",
    "parquet_codec", "live_cursors",
)


def _commit_manifest(
    path: str,
    schema_json: dict,
    entries: list[dict],
    meta: dict[str, str] | None,
    expected_version,
    lock_timeout_s: float,
    reuse_refs: list[dict] | None = None,
) -> int:
    """Publish (schema, files) as the next version through
    :func:`_publish`: the manifest (kilobytes; data files were already
    pooled by the caller) is staged outside the lock, so the locked
    step is O(1) in table size. Guarded mode (``expected_version``
    given) compare-and-swaps on the committed version and raises
    :class:`LostRace` when it moved; unguarded mode
    (:data:`_UNGUARDED`) publishes on whatever is latest — the
    single-writer contract.

    Every commit records a ``commit_ts`` marker (epoch seconds, the
    writer's clock) for timestamp time travel
    (:func:`version_as_of_timestamp`). Caller-supplied markers win on
    collision (tests pin clocks that way).

    :data:`_TABLE_PROPS` (not commit facts) — CHECK constraints,
    layout, ledgers, indexes, refs, codec, and writer progress (the
    stream batch ledger, a live pipeline node's input cursors) — carry
    forward verbatim from the base (``expected_version``, else the
    current latest, resolved once) until a commit sets them, so e.g.
    CHECK constraints persist across every commit until
    :func:`drop_check_constraint` rewrites them, and writer progress
    survives any interleaved commit and any ``vacuum``. A commit's
    ``stream_ledger`` names only its own writer's entry; it is laid
    over the base's map, so writers sharing a table never erase each
    other's progress."""
    meta = {"commit_ts": repr(time.time()), **(meta or {})}
    base = (
        expected_version
        if isinstance(expected_version, int)
        else latest_version(path)
    )
    if base is not None:
        for prop in _TABLE_PROPS:
            inherited = snapshot_meta(path, prop, version=base)
            if prop == "stream_ledger" and inherited and prop in meta:
                meta[prop] = json.dumps(
                    json.loads(inherited) | json.loads(meta[prop]),
                    sort_keys=True,
                )
            if inherited is not None:
                meta.setdefault(prop, inherited)
    return _publish(
        path,
        lambda staged: _write_manifest_dir(
            staged, schema_json, entries, meta, reuse_refs
        ),
        expected_version, lock_timeout_s,
    )


def _metadata_commit(path: str, derive, *, lock_timeout_s: float) -> int:
    """Commit a METADATA-ONLY table change (CHECK constraints, column
    rename, ANALYZE statistics, refs) guarded by compare-and-swap on
    the CURRENT latest, through :func:`_retry_lost_races`. The carried
    data entries are re-derived from the latest manifest on every try,
    so a racing data commit can never be reverted — its files ride
    into the metadata commit by reference (the round-9 hazard: an
    unguarded ANALYZE racing one ingest commit silently re-pointed the
    table at the stale file set). ``derive(committed, raw_manifest) ->
    (schema_json, commit_meta)`` re-runs per try, so existence/collision
    checks always hold against the manifest actually carried. These are
    kilobyte commits — segments ride by reference — so a lost race
    costs one pointer read plus one CAS, never an O(table) re-walk."""

    def attempt() -> int:
        committed = latest_version(path)
        if committed is None:
            raise FileNotFoundError(f"no committed version at {path}")
        with open(os.path.join(path, f"v={committed}", _MANIFEST_NAME)) as f:
            raw = json.load(f)
        schema_json, commit_meta = derive(committed, raw)
        reuse = raw.get("segments")
        entries = [] if reuse is not None else raw["files"]
        return _commit_manifest(
            path, schema_json, entries, commit_meta,
            committed, lock_timeout_s, reuse_refs=reuse,
        )

    return _retry_lost_races(attempt, f"metadata commit at {path}")


def versioned_write(
    df: DataFrame,
    path: str,
    *,
    meta: dict[str, str] | None = None,
    expected_version: int | None | object = _UNGUARDED,
    lock_timeout_s: float = 600.0,
    partition_by: list[str] | None = None,
    files_per_partition: int = 1,
    codec: str | None = None,
) -> int:
    """Commit ``df`` as the next snapshot of the table at ``path``;
    returns the new version number.

    ``codec`` pins the table's parquet compression ("zstd", "snappy",
    "gzip", "lz4", …) as a CARRIED property: this write and every
    later staging write (append/upsert/merge/compact/purge) encode
    with it, so one creation-time knob governs the table's storage.
    Omitted, an existing property is inherited; absent entirely, the
    engine default (snappy) applies. At 100 TB zstd-vs-snappy is a
    double-digit-percent cut of both footprint and scan IO.

    The data lands as immutable files in the shared ``data/`` pool, a
    MANIFEST (file list + schema + per-file stats) is written to
    ``v=N``, then the ``_LATEST`` pointer is swapped — the atomic
    step (see :class:`PosixPointerStore`) that makes the commit
    all-or-nothing for readers.

    ``meta`` key/value pairs are written as ``_meta_<key>`` files
    INSIDE the snapshot directory BEFORE the pointer swap, so commit
    data and commit metadata become visible in the same atomic step —
    the transaction-marker mechanism exactly-once stream merges hang
    their batch ledger on (Delta's txn appId/version idea).

    Concurrency: by default single-writer discipline is assumed (as
    for any pointer-swap store). Passing ``expected_version`` turns
    the commit into an optimistic COMPARE-AND-SWAP — it succeeds only
    if the committed version still equals ``expected_version`` (use
    ``None`` to assert "table is empty"), else raises
    :class:`CommitConflict` with nothing published. Data files are
    pooled OUTSIDE the critical section (the lock covers only the
    version check + manifest rename + pointer swap — O(1) metadata
    regardless of snapshot size, so a 100 TB write never serializes
    writers on data transfer, exactly the Delta/Iceberg
    commit-protocol shape). Do not mix guarded and unguarded writers
    on one table: the unguarded path takes no lock.

    ``partition_by`` declares FIRST-CLASS partition columns (date,
    source, language — the fields every real lake table routes by):
    files are laid out one-partition-value-per-file, each manifest
    entry records its typed partition values, and every later read /
    MERGE / connector scan prunes EXACTLY on them (see
    :func:`_stage_data_files`). The spec is a carried table property
    (``partition_by`` marker); appends and upserts inherit it
    automatically. A full ``versioned_write`` REDEFINES the layout —
    pass ``partition_by`` again (or leave None to drop it), exactly
    like ``df.write.partitionBy`` on a fresh dataset."""
    os.makedirs(path, exist_ok=True)
    entries = _stage_data_files(
        df, path, partition_by=partition_by,
        files_per_partition=files_per_partition,
        codec=codec,
    )
    if codec is not None:
        meta = {"parquet_codec": codec} | (meta or {})
    # a full rewrite defines its own layout: record the spec when one
    # is declared, and explicitly CLEAR a previous spec when none is —
    # a stale inherited marker must never claim a layout the files
    # don't have. Never-partitioned tables carry zero extra metadata.
    if partition_by:
        forced = json.dumps(list(partition_by))
    else:
        base = (
            expected_version
            if isinstance(expected_version, int)
            else latest_version(path)
        )
        forced = (
            "[]"
            if base is not None and table_partitioning(path, version=base)
            else None
        )
    if forced is not None:
        # a full rewrite replaces EVERY file, so no earlier layout
        # epoch survives — the spec history resets with the layout
        meta = {"partition_by": forced, "partition_specs": "[]"} | (
            meta or {}
        )
    return _commit_manifest(
        path, df.schema.jsonValue(), entries, meta,
        expected_version, lock_timeout_s,
    )


def snapshot_meta(path: str, key: str, *, version: int) -> str | None:
    """Read one ``_meta_<key>`` marker from a committed snapshot, or
    None when that commit carries no such marker."""
    try:
        with open(os.path.join(path, f"v={version}", f"_meta_{key}")) as f:
            return f.read()
    except FileNotFoundError:
        return None


def _snapshot_markers(path: str, version: int) -> dict[str, str]:
    """Every ``_meta_<key>`` marker of a snapshot, key → value."""
    snap = os.path.join(path, f"v={version}")
    out = {}
    for f in os.listdir(snap):
        if f.startswith("_meta_"):
            with open(os.path.join(snap, f)) as fh:
                out[f[len("_meta_"):]] = fh.read()
    return out


def table_constraints(path: str, *, version: int | None = None) -> dict[str, str]:
    """The CHECK constraints in force at a snapshot (name → SQL
    boolean expression), read from the kilobyte ``constraints``
    marker — no job. Empty dict when the table has none."""
    committed = latest_version(path)
    if committed is None:
        return {}
    v = committed if version is None else version
    raw = snapshot_meta(path, "constraints", version=v)
    return json.loads(raw) if raw else {}


def table_partitioning(path: str, *, version: int | None = None) -> list[str]:
    """The table's partition spec (logical column names) at a
    snapshot — the carried ``partition_by`` property, kilobyte marker
    read, no job. Empty list when unpartitioned."""
    committed = latest_version(path)
    if committed is None:
        return []
    v = committed if version is None else version
    raw = snapshot_meta(path, "partition_by", version=v)
    return json.loads(raw) if raw else []


def table_partition_specs(
    path: str, *, version: int | None = None
) -> list[str]:
    """The UNION of partition-spec entries relevant at a snapshot: the
    spec in force (``partition_by``) plus every spec that governed
    files still carried from earlier layout epochs (the
    ``partition_specs`` history marker, written by
    :func:`versioned_set_partition_spec`). Bound resolution derives
    prune-only bounds from this union, so a read on a table that
    EVOLVED away from ``day=date(ts)`` still prunes the old-epoch
    files by their old layout. Kilobyte marker reads, no job."""
    committed = latest_version(path)
    if committed is None:
        return []
    v = committed if version is None else version
    current = table_partitioning(path, version=v)
    raw = snapshot_meta(path, "partition_specs", version=v)
    out = list(current)
    for spec in json.loads(raw) if raw else []:
        for entry in spec:
            if entry not in out:
                out.append(entry)
    return out


def versioned_set_partition_spec(
    path: str,
    spec: list[str],
    *,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """EVOLVE the table's partition spec WITHOUT rewriting a byte —
    Iceberg's partition-spec-evolution model: the new spec is a
    metadata-only guarded commit; files written before it keep their
    old layout (their manifest entries already record their own
    partition values and exact injected stats), files staged by every
    later write follow the new spec, and reads prune PER FILE from
    stats — new-epoch files exactly on the new targets, old-epoch
    files exactly on their old targets (via the ``partition_specs``
    history this commit maintains) and conservatively otherwise.
    "Switch a 100 TB table from daily to hourly partitioning" is one
    kilobyte commit, never a rewrite (contrast
    :func:`versioned_write`, where a full rewrite REDEFINES the
    layout because it replaces every file).

    ``spec=[]`` un-partitions future writes (old files keep pruning
    by their recorded layout). Validation mirrors the write path:
    identity columns must exist with partitionable types; a hidden
    ``target=date(source)`` needs a date/timestamp source and a
    target that collides with no schema column and no DIFFERENT
    historical transform (same-target re-evolution must agree on the
    source, or cross-epoch residuals would be ambiguous)."""
    from pyspark.sql.types import (
        DateType,
        StructType,
        TimestampNTZType,
        TimestampType,
    )

    parsed = _parse_partition_spec(spec)

    def derive(committed: int, raw: dict):
        schema = StructType.fromJson(raw["schema"])
        dtypes = {f.name: f.dataType for f in schema.fields}
        for target, source, transform in parsed:
            if source not in dtypes:
                raise KeyError(
                    f"partition source column {source!r} not in table "
                    f"schema {sorted(dtypes)} at {path}"
                )
            if transform == "identity":
                _check_partition_type(target, dtypes[source])
                continue
            if target in dtypes:
                raise ValueError(
                    f"hidden partition target {target!r} collides "
                    "with an existing column; pick a fresh name"
                )
            _check_hidden_source(transform, source, dtypes[source])
        old_spec = table_partitioning(path, version=committed)
        if old_spec == list(spec):
            raise ValueError(
                f"table at {path} already has partition spec {spec}"
            )
        hist_raw = snapshot_meta(
            path, "partition_specs", version=committed
        )
        hist = json.loads(hist_raw) if hist_raw else []
        if old_spec and old_spec not in hist:
            hist.append(old_spec)
        # same virtual target re-used with a DIFFERENT derivation
        # (other source OR other transform/bucket count) across
        # epochs would make the residual expression ambiguous
        seen: dict[str, tuple] = {}
        for s in [*hist, list(spec)]:
            for t, src, tr in _parse_partition_spec(s):
                if tr != "identity":
                    if seen.get(t, (src, tr)) != (src, tr):
                        raise ValueError(
                            f"hidden partition target {t!r} was "
                            f"derived as {seen[t]!r} in an earlier "
                            f"spec epoch; deriving it as "
                            f"{(src, tr)!r} now would be ambiguous "
                            "— pick a fresh target name"
                        )
                    seen[t] = (src, tr)
        commit_meta = {
            "op": "set_partition_spec",
            "partition_by": json.dumps(list(spec)),
            "partition_specs": json.dumps(hist),
            "previous_spec": json.dumps(old_spec),
        }
        commit_meta.update(meta or {})
        return raw["schema"], commit_meta

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


def versioned_partitions(
    path: str, *, version: int | None = None, metrics: dict | None = None
) -> list[dict]:
    """SHOW PARTITIONS from the manifest alone: one row per distinct
    partition tuple with exact ``n_files`` / ``n_bytes`` /
    ``n_rows`` (DV-adjusted) — no Spark job, the same free-metadata
    contract as :func:`versioned_count`. Segment refs carry
    per-tuple aggregates (:func:`_write_segments`), so a segmented
    table answers from the KILOBYTE refs without opening a single
    segment file — O(segments), not O(files), on an 800k-file table;
    only legacy refs without the fold are opened. Raises on an
    unpartitioned table (there is nothing to show). ``metrics`` (if
    given) records ``segments_opened``/``segments_total``."""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    v = committed if version is None else version
    spec = table_partitioning(path, version=v)
    if not spec:
        raise ValueError(f"table at {path} (v{v}) is not partitioned")
    targets = [t for t, _, _ in _parse_partition_spec(spec)]
    agg: dict[tuple, dict] = {}

    def fold(part: dict, n_files: int, n_rows: int, n_bytes: int) -> None:
        key = tuple(part.get(c) for c in targets)
        slot = agg.setdefault(
            key, {"n_files": 0, "n_bytes": 0, "n_rows": 0}
        )
        slot["n_files"] += n_files
        slot["n_bytes"] += n_bytes
        slot["n_rows"] += n_rows

    with open(os.path.join(path, f"v={v}", _MANIFEST_NAME)) as f:
        man = json.load(f)
    opened = 0
    total = 1
    if "files" in man:
        for e in man["files"]:
            fold(
                e.get("partition") or {}, 1,
                int(e.get("rows", 0)) - int(e.get("dv_rows", 0)),
                int(e.get("bytes", 0)),
            )
    else:
        total = len(man["segments"])
        for ref in man["segments"]:
            folded = ref.get("partitions")
            if folded is not None:
                for part, n_files, n_rows, n_bytes in folded:
                    fold(part, n_files, n_rows, n_bytes)
                continue
            opened += 1  # legacy ref without the fold: open it
            with open(os.path.join(path, ref["path"])) as f:
                for e in json.load(f):
                    fold(
                        e.get("partition") or {}, 1,
                        int(e.get("rows", 0)) - int(e.get("dv_rows", 0)),
                        int(e.get("bytes", 0)),
                    )
    if metrics is not None:
        metrics["segments_opened"] = opened
        metrics["segments_total"] = total
    return [
        {**dict(zip(targets, key)), **vals}
        for key, vals in sorted(
            agg.items(), key=lambda kv: tuple(map(repr, kv[0]))
        )
    ]


def set_check_constraint(
    spark: SparkSession,
    path: str,
    name: str,
    expr: str,
    *,
    validate: bool = True,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """ADD a CHECK constraint (Delta's ``ALTER TABLE ... ADD
    CONSTRAINT``): from this commit on, every batch of data staged
    into the table must satisfy ``expr`` (SQL three-valued CHECK —
    only FALSE violates, NULL passes) or the commit raises
    :class:`ConstraintViolation` with nothing published. The
    constraint set rides the ``constraints`` snapshot marker and is
    inherited by every subsequent commit (and by shallow clones), so
    it is versioned, time-travelable table metadata — exactly like
    schema.

    ``validate=True`` (default, as in Delta) first proves the EXISTING
    table satisfies the new constraint — one O(table) scan,
    short-circuited at the first counterexample; the commit itself is
    metadata-only (entries carried by reference). Enforcement cost
    afterwards is one O(batch) scan per constrained commit, JVM-side,
    only while constraints exist.

    Safe to run WHILE ingest writers commit: the commit is a guarded
    CAS re-derived from the latest manifest per retry
    (:func:`_metadata_commit`), so a racing data commit's files are
    carried, never reverted — and the validation scan re-runs against
    the retry's base so rows landed mid-race are proven too."""

    def derive(committed: int, raw: dict):
        cons = table_constraints(path, version=committed)
        if name in cons:
            raise ValueError(
                f"constraint {name!r} already exists on {path}: "
                f"{cons[name]!r}"
            )
        if validate:
            broken = _find_violations(
                versioned_read(spark, path, version=committed),
                {name: expr},
            )
            if broken:
                raise ConstraintViolation(
                    f"existing rows at {path} violate new CHECK "
                    f"constraint {name!r}: {expr!r}"
                )
        commit_meta = {
            "op": "set_constraint",
            "constraint_name": name,
            "constraints": json.dumps({**cons, name: expr}),
        }
        commit_meta.update(meta or {})
        return raw["schema"], commit_meta

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


def drop_check_constraint(
    path: str,
    name: str,
    *,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """DROP a CHECK constraint: metadata-only commit whose
    ``constraints`` marker no longer lists it. History keeps the old
    marker, so time travel shows which constraints governed any past
    commit. Guarded CAS (:func:`_metadata_commit`) — safe to run
    while data writers commit."""

    def derive(committed: int, raw: dict):
        cons = table_constraints(path, version=committed)
        if name not in cons:
            raise KeyError(
                f"no constraint {name!r} on {path} (have {list(cons)})"
            )
        commit_meta = {
            "op": "drop_constraint",
            "constraint_name": name,
            "constraints": json.dumps(
                {k: v for k, v in cons.items() if k != name}
            ),
        }
        commit_meta.update(meta or {})
        return raw["schema"], commit_meta

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


def versioned_rename_column(
    path: str,
    old: str,
    new: str,
    *,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """RENAME a column WITHOUT rewriting any data (Delta column
    mapping / Iceberg rename): a metadata-only commit whose schema
    field carries the new LOGICAL name plus a ``physical`` metadata
    entry pinning the parquet name the pooled files keep forever.
    Readers scan by physical name and alias to logical in one final
    projection (:func:`_read_entries`); writers stage by physical
    name (:func:`_stage_data_files`), so pre- and post-rename files
    stay mutually compatible and a rename on a 100 TB table writes
    one kilobyte manifest. Stats pruning (partial-rewrite MERGE,
    pruned reads) keys footer stats by physical name throughout, so
    the skip economics survive the rename.

    Time travel serves each version's as-committed logical schema —
    reads before the rename commit show the old name, exactly like
    additive evolution. A later new column may REUSE the freed
    logical name (its physical is suffix-uniquified against the
    pooled files' names). Compaction materializes renames: it
    rewrites through the logical schema, resetting the mapping.

    Refused when a CHECK constraint references the column (drop the
    constraint, rename, re-add under the new name — Delta's rule).
    Caveat (documented contract): change-feed recordings and
    snapshot-diff CDC serve each commit range in its AS-RECORDED
    schema; consumers that span a rename boundary must map old
    column names themselves — rename commits record no data changes.
    Guarded CAS (:func:`_metadata_commit`) — safe to run while data
    writers commit; name checks re-run against each retry's base."""

    def derive(committed: int, raw: dict):
        names = [f["name"] for f in raw["schema"]["fields"]]
        if old not in names:
            raise KeyError(f"no column {old!r} at {path} (have {names})")
        if new in names:
            raise ValueError(f"column {new!r} already exists at {path}")
        cons = table_constraints(path, version=committed)
        referencing = [
            n
            for n, expr in cons.items()
            if re.search(rf"\b{re.escape(old)}\b", expr)
        ]
        if referencing:
            raise ValueError(
                f"CHECK constraint(s) {referencing} reference column "
                f"{old!r}; drop them before renaming"
            )
        part_cols = {
            n
            for t, s, _ in _parse_partition_spec(
                table_partitioning(path, version=committed)
            )
            for n in (t, s)
        }
        if old in part_cols:
            raise ValueError(
                f"column {old!r} is a partition column (or hidden-"
                f"partition source) at {path}; rewrite the table with "
                "a new partition_by spec before renaming it"
            )
        fields = []
        for f in raw["schema"]["fields"]:
            if f["name"] == old:
                f = dict(f)
                md = dict(f.get("metadata") or {})
                md["physical"] = md.get("physical", old)
                f["name"] = new
                f["metadata"] = md
            fields.append(f)
        commit_meta = {
            "op": "rename_column",
            "rename_from": old,
            "rename_to": new,
        }
        commit_meta.update(meta or {})
        return {**raw["schema"], "fields": fields}, commit_meta

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


def versioned_drop_column(
    path: str,
    name: str,
    *,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """DROP COLUMN without touching a single data file (Delta column
    mapping's drop): a metadata-only guarded commit whose schema no
    longer lists the field — reads project the column away because
    the scan schema IS the manifest schema, so the bytes still
    sitting in pooled files are simply never deserialized (parquet is
    columnar: an unread column costs zero IO). Time travel serves
    pre-drop versions WITH the column, exactly like every other
    schema change.

    The dropped field's PHYSICAL name is retired (carried
    ``retired_physicals`` property): a column later re-added under
    the same logical name gets a fresh physical name, so pre-drop
    bytes can never resurrect through it — re-add reads NULL for old
    files, values for new ones (unit-pinned). Compaction rewrites
    through the logical schema, which is what physically sheds the
    dead bytes when storage matters.

    Refused when a CHECK constraint references the column, when it is
    a partition column, or when it is the last column standing."""

    def derive(committed: int, raw: dict):
        fields = raw["schema"]["fields"]
        names = [f["name"] for f in fields]
        if name not in names:
            raise KeyError(f"no column {name!r} at {path} (have {names})")
        if len(fields) == 1:
            raise ValueError(
                f"cannot drop {name!r}: it is the only column at {path}"
            )
        cons = table_constraints(path, version=committed)
        referencing = [
            n
            for n, expr in cons.items()
            if re.search(rf"\b{re.escape(name)}\b", expr)
        ]
        if referencing:
            raise ValueError(
                f"CHECK constraint(s) {referencing} reference column "
                f"{name!r}; drop them first"
            )
        part_cols = {
            n
            for t, s, _ in _parse_partition_spec(
                table_partitioning(path, version=committed)
            )
            for n in (t, s)
        }
        if name in part_cols:
            raise ValueError(
                f"column {name!r} is a partition column (or hidden-"
                f"partition source) at {path}; rewrite the table with "
                "a new partition_by spec first"
            )
        dropped = next(f for f in fields if f["name"] == name)
        phys = (dropped.get("metadata") or {}).get("physical", name)
        retired = json.loads(
            snapshot_meta(path, "retired_physicals", version=committed)
            or "[]"
        )
        commit_meta = {
            "op": "drop_column",
            "dropped": name,
            "retired_physicals": json.dumps(sorted({*retired, phys})),
        }
        commit_meta.update(meta or {})
        schema_json = {
            **raw["schema"],
            "fields": [f for f in fields if f["name"] != name],
        }
        return schema_json, commit_meta

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


# widening promotions parquet + Spark's vectorized reader serve
# in-place (narrower physical pages decode into the wider logical
# type): no file rewrite, no read-path change
_WIDENINGS = {
    "byte": {"short", "integer", "long"},
    "short": {"integer", "long"},
    "integer": {"long"},
    "float": {"double"},
}


def versioned_widen_column(
    path: str,
    name: str,
    new_type: str,
    *,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """WIDEN a column's type (INT → LONG, FLOAT → DOUBLE, and the
    smaller integer promotions) as a metadata-only guarded commit —
    nothing is rewritten: existing files keep their narrower parquet
    pages and every reader decodes them into the wider logical type
    (Spark's parquet reader and the connector's Arrow cast both
    promote losslessly); files staged after the widening carry the
    wide type (:func:`_stage_data_files` casts to the table schema,
    so the pool converges forward). Time travel serves each version
    its as-committed type. Narrowing and cross-family changes are
    refused — they lose data and need an explicit rewrite."""
    from pyspark.sql.types import StructType as _ST

    def derive(committed: int, raw: dict):
        fields = raw["schema"]["fields"]
        names = [f["name"] for f in fields]
        if name not in names:
            raise KeyError(f"no column {name!r} at {path} (have {names})")
        cur = next(f for f in fields if f["name"] == name)["type"]
        want = _ST.fromDDL(f"x {new_type}").fields[0].dataType.jsonValue()
        if cur == want:
            raise ValueError(
                f"column {name!r} at {path} already has type {new_type}"
            )
        if not (
            isinstance(cur, str)
            and isinstance(want, str)
            and want in _WIDENINGS.get(cur, ())
        ):
            raise ValueError(
                f"cannot widen {name!r} from {cur} to {want}: only "
                f"lossless promotions are metadata-only ({_WIDENINGS}); "
                "anything else needs an explicit rewrite"
            )
        commit_meta = {
            "op": "widen_column",
            "widened": name,
            "type_from": str(cur),
            "type_to": str(want),
        }
        commit_meta.update(meta or {})
        schema_json = {
            **raw["schema"],
            "fields": [
                {**f, "type": want} if f["name"] == name else f
                for f in fields
            ],
        }
        return schema_json, commit_meta

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


def _mg_multi_column(
    spark: SparkSession, df, cols: list[str], m: int
) -> dict[str, dict[str, int]]:
    """{column → {item (canonical string) → merged MG estimate}} in
    ONE mapInPandas pass over ``df`` — the multi-column twin of
    operators/freq.py's kernel (same ``_mg_compress`` decrement, same
    mergeable-summaries bound: est ∈ [f − n/(m+1), f] per column).
    Driver state is O(partitions × m × cols) partial rows."""
    from pyspark.sql import functions as F

    from skopje_spark.operators.freq import _mg_compress

    def part(batches):
        import pandas as pd

        counters: dict[str, dict] = {c: {} for c in cols}
        for pdf in batches:
            for c in cols:
                vc = pdf[c].astype("string").value_counts(dropna=True)
                cc = counters[c]
                for k, v in vc.items():
                    cc[k] = cc.get(k, 0) + int(v)
                counters[c] = _mg_compress(cc, m)
        rows = [
            {"col": c, "item": str(k), "cnt": int(v)}
            for c, cc in counters.items()
            for k, v in cc.items()
        ]
        yield pd.DataFrame(
            rows, columns=["col", "item", "cnt"]
        ).astype({"col": "string", "item": "string", "cnt": "int64"})

    partials = df.select(*cols).mapInPandas(
        part, "col string, item string, cnt long"
    )
    merged: dict[str, dict[str, int]] = {c: {} for c in cols}
    for r in (
        partials.groupBy("col", "item")
        .agg(F.sum("cnt").alias("cnt"))
        .collect()
    ):
        merged[r["col"]][r["item"]] = int(r["cnt"])
    # the driver-side merge is itself compressed back to m counters
    # per column so the carried marker stays kilobytes
    return {c: _mg_compress(cc, m) for c, cc in merged.items()}


def versioned_analyze(
    spark: SparkSession,
    path: str,
    cols: list[str] | None = None,
    *,
    rsd: float = 0.02,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """ANALYZE TABLE for the lake: one aggregation pass over the
    current snapshot computes per-column NDV (Spark's built-in HLL++,
    relative error ``rsd``) and null counts plus the exact row count,
    and records them as a ``column_stats`` TABLE PROPERTY in a
    metadata-only commit (``op=analyze`` — zero logical changes, the
    change feed and CDF stream skip it; every data file rides by
    reference). The property carries forward across later commits
    like CHECK constraints, stamped with the snapshot version it
    described, so consumers can judge staleness.

    This is the statistics side of planning that footer min/max
    cannot give: NDV drives broadcast/shuffle/salting decisions
    (the sampling estimator in ``operators/estimate.py`` answers
    per-join questions; ANALYZE amortizes one scan into a catalog
    fact every later plan reads for free). One job however many
    columns — all aggregates ride a single pass.

    Safe background maintenance for real: the commit is a guarded CAS
    re-derived from the latest manifest per retry
    (:func:`_metadata_commit`), so ANALYZE racing a concurrent ingest
    commit carries the ingest's files instead of silently reverting
    them. The scan itself runs ONCE, pinned to the version current at
    call time; if a data commit lands before our marker does, the
    marker's ``as_of_version`` stays the scanned version, so
    ``versions_stale`` reports the race honestly instead of claiming
    freshness the stats don't have."""
    scanned = latest_version(path)
    if scanned is None:
        raise FileNotFoundError(f"no committed version at {path}")
    with open(os.path.join(path, f"v={scanned}", _MANIFEST_NAME)) as f:
        raw0 = json.load(f)
    from pyspark.sql.types import StructType as _ST

    schema = _ST.fromJson(raw0["schema"])
    names = [fld.name for fld in schema.fields]
    cols = names if cols is None else cols
    unknown = [c for c in cols if c not in names]
    if unknown:
        raise KeyError(f"no column(s) {unknown} at {path} (have {names})")
    from pyspark.sql import functions as F

    df = versioned_read(spark, path, version=scanned)
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        aggs.append(F.approx_count_distinct(c, rsd).alias(f"ndv__{c}"))
        aggs.append(
            F.sum(F.col(c).isNull().cast("long")).alias(f"nulls__{c}")
        )
    row = df.agg(*aggs).first()
    stats = {
        c: {
            "ndv": int(row[f"ndv__{c}"]),
            "n_nulls": int(row[f"nulls__{c}"] or 0),
        }
        for c in cols
    }
    # skew signal: per-column Misra-Gries top-k folded into the same
    # ANALYZE scan budget (one multi-column mapInPandas pass over the
    # snapshot — bounded state, O(partitions × m × cols) partial rows
    # driver-side). Items are recorded as canonical strings with their
    # merged ESTIMATE (est <= f <= est + n/(m+1)); the mg_err bound is
    # carried so consumers can judge the estimate honestly. Only
    # atomic-typed columns participate — arrays/structs/maps make no
    # join keys.
    from pyspark.sql.types import (
        BooleanType,
        ByteType,
        DateType,
        DoubleType,
        FloatType,
        IntegerType,
        LongType,
        ShortType,
        StringType,
        TimestampType,
    )

    atomic = (
        BooleanType, ByteType, ShortType, IntegerType, LongType,
        FloatType, DoubleType, StringType, DateType, TimestampType,
    )
    dtypes_a = {f.name: f.dataType for f in schema.fields}
    mg_cols = [c for c in cols if isinstance(dtypes_a[c], atomic)]
    m = 64
    if mg_cols:
        merged = _mg_multi_column(spark, df, mg_cols, m)
        n_total = int(row["__n"])
        for c in mg_cols:
            tops = sorted(
                merged.get(c, {}).items(), key=lambda kv: -kv[1]
            )[:8]
            stats[c]["top"] = [[k, int(v)] for k, v in tops]
            stats[c]["mg_err"] = n_total // (m + 1)

    def derive(committed: int, raw: dict):
        commit_meta = {
            "op": "analyze",
            "column_stats": json.dumps(
                {
                    # no race: the analyze commit carries exactly the
                    # data it scanned, so the stats are CURRENT at the
                    # commit the marker lands in. Raced: they describe
                    # the scanned version, one-or-more commits behind.
                    "as_of_version": (
                        committed + 1 if committed == scanned else scanned
                    ),
                    "n_rows": int(row["__n"]),
                    "rsd": rsd,
                    "columns": stats,
                },
                sort_keys=True,
            ),
        }
        commit_meta.update(meta or {})
        return raw["schema"], commit_meta

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


def table_stats(path: str, *, version: int | None = None) -> dict | None:
    """The last recorded ANALYZE statistics visible at ``version``
    (default: latest), plus ``versions_stale`` = commits since the
    snapshot they describe — None when the table was never analyzed.
    Pure driver-side marker read, no job."""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    v = committed if version is None else version
    raw = snapshot_meta(path, "column_stats", version=v)
    if raw is None:
        return None
    out = json.loads(raw)
    out["versions_stale"] = v - int(out["as_of_version"])
    return out


def _collect_value_sets(
    spark: SparkSession,
    abs_paths: list[str],
    phys_cols: list[str],
    max_distinct: int,
    *,
    read_schema=None,
) -> dict[str, dict[str, list]]:
    """{physical column → {file basename → sorted encoded value set}}
    over the given pooled files (PHYSICAL rows, NULLs ignored).
    Distinct (file, value) pairs first, THEN the capped collect —
    ``collect_set`` never materializes an unbounded set for a
    high-cardinality file; such files simply get no entry."""
    from pyspark.sql import functions as F

    out: dict[str, dict[str, list]] = {}
    if not abs_paths:
        return out
    reader = spark.read
    if read_schema is not None:
        reader = reader.schema(read_schema)
    raw = reader.parquet(*abs_paths)
    for phys in phys_cols:
        if phys not in raw.columns:
            continue
        pairs = (
            raw.select(
                F.input_file_name().alias("__f"),
                F.col(phys).alias("__v"),
            )
            .where(F.col("__v").isNotNull())
            .distinct()
        )
        eligible = (
            pairs.groupBy("__f")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") <= max_distinct)
            .select("__f")
        )
        rows = (
            pairs.join(eligible, "__f", "left_semi")
            .groupBy("__f")
            .agg(F.sort_array(F.collect_set("__v")).alias("__vals"))
            .collect()
        )
        out[phys] = {
            os.path.basename(r["__f"]): [
                _stat_encode(v) for v in r["__vals"]
            ]
            for r in rows
        }
    return out


def _bloom_type_class(dtype) -> str:
    """One-letter type class recorded in each bloom slot so probes can
    enforce the cross-type-proves-nothing discipline: the bitmap was
    built from CAST(col AS STRING) forms, so only a bound whose
    canonical string form is UNAMBIGUOUSLY the column's can probe."""
    from pyspark.sql.types import BooleanType, DateType, StringType

    if isinstance(dtype, StringType):
        return "s"
    if isinstance(dtype, BooleanType):
        return "b"
    if isinstance(dtype, DateType):
        return "d"
    return "i"  # integral (the only other _check_partition_type type)


def _bloom_canon(value, tclass: str) -> str | None:
    """The bound value's canonical CAST-AS-STRING form for a bloom
    probe, or None when the value's Python type does not match the
    column's type class (no proof allowed — '05' = 5 coerces true in
    Spark while their string forms hash to different bits). Dates
    arrive either as date objects or already _stat_encode'd ISO
    strings; both map to the column's cast form."""
    import datetime as _dt
    import re as _re

    if tclass == "s":
        return value if isinstance(value, str) else None
    if tclass == "b":
        if isinstance(value, bool):
            return "true" if value else "false"
        return None
    if tclass == "d":
        if isinstance(value, _dt.date) and not isinstance(
            value, _dt.datetime
        ):
            return value.isoformat()
        if isinstance(value, str) and _re.fullmatch(
            r"\d{4}-\d{2}-\d{2}", value
        ):
            return value
        return None
    # integral
    if isinstance(value, int) and not isinstance(value, bool):
        return str(value)
    return None


def _bloom_bit_set(b64: str, p: int) -> bool:
    """Probe ONE bit of a base64-encoded bitmap without decoding the
    whole thing: bit p lives in byte p>>3, which lives in the 3-byte
    group (p>>3)//3, encoded as 4 base64 chars — so a probe decodes 4
    characters, not bits/8 bytes. A point lookup over an 800k-file
    manifest pays O(files × k × 4 chars), not O(files × 16 KiB)."""
    import base64

    byte_i = p >> 3
    grp = byte_i // 3
    chunk = base64.b64decode(
        b64[grp * 4:grp * 4 + 4] + "=" * (4 - len(b64[grp * 4:grp * 4 + 4]))
    )
    return bool(chunk[byte_i % 3] & (1 << (p & 7)))


def _bloom_absent(slot: dict, bound_set) -> bool:
    """True when a file's (or segment's) bloom slot PROVES every value
    in ``bound_set`` absent: all k probe bits must be set for a value
    to be possibly present. Any cross-typed / geometry-broken probe
    returns False — conservative, the exact residual decides."""
    from skopje_spark.operators.bloom import bit_positions_py

    try:
        b64 = slot["b64"]
        bits, k, tclass = int(slot["bits"]), int(slot["k"]), slot["t"]
    except (KeyError, TypeError):
        return False
    for v in bound_set:
        canon = _bloom_canon(v, tclass)
        if canon is None:
            return False  # cross-type probe proves nothing
        ps = bit_positions_py(canon, num_bits=bits, k=k)
        try:
            if all(_bloom_bit_set(b64, p) for p in ps):
                return False  # possibly present: cannot prove absence
        except (ValueError, IndexError, TypeError):
            return False  # malformed slot: conservative
    return True


def _collect_bloom_maps(
    spark: SparkSession,
    abs_paths: list[str],
    phys_cols: list[str],
    bits: int,
    k: int,
    *,
    read_schema=None,
) -> dict[str, dict[str, str]]:
    """{physical column → {file basename → base64 bitmap}} over the
    given pooled files — the versioned-manifest twin of
    sources/skipping.py's bloom build, sharing operators/bloom.py's
    position recipe and fold so build and probe can never diverge.
    One scan computes every column's probe positions; per-file
    bitmaps fold executor-side (applyInPandas), the driver holds
    O(files × bits/8) — same order as the manifest itself."""
    import base64

    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from skopje_spark.operators.bloom import _bit_positions, fold_positions

    out: dict[str, dict[str, str]] = {c: {} for c in phys_cols}
    if not abs_paths or not phys_cols:
        return out
    reader = spark.read
    if read_schema is not None:
        reader = reader.schema(read_schema)
    raw = reader.parquet(*abs_paths)
    cols = [c for c in phys_cols if c in raw.columns]
    if not cols:
        return out
    nbytes = (bits + 7) // 8
    prj = raw.select(
        F.input_file_name().alias("__f"),
        *[
            F.array(
                *_bit_positions(F.col(c), num_bits=bits, k=k)
            ).alias(f"__pos_{c}")
            for c in cols
        ],
    )
    out_schema = "__f string, " + ", ".join(
        f"__bm_{c} binary" for c in cols
    )

    def fold(pdf: pd.DataFrame) -> pd.DataFrame:
        row = {"__f": [pdf["__f"].iloc[0]]}
        for c in cols:
            bm = np.zeros(nbytes, dtype=np.uint8)
            for ps in pdf[f"__pos_{c}"]:
                fold_positions(bm, ps)
            row[f"__bm_{c}"] = [bm.tobytes()]
        return pd.DataFrame(row)

    for r in prj.groupBy("__f").applyInPandas(fold, out_schema).collect():
        bn = os.path.basename(r["__f"])
        for c in cols:
            out[c][bn] = base64.b64encode(r[f"__bm_{c}"]).decode("ascii")
    return out


def _maintain_value_index(
    spark: SparkSession,
    path: str,
    entries: list[dict],
) -> None:
    """Write-side index maintenance: when the table carries a
    ``value_index`` property (set by :func:`versioned_value_index`),
    inject each freshly STAGED file's exact value sets into its entry
    before commit — one extra scan of the just-written batch, only
    when the property exists, so membership pruning stays exact
    across later ingests instead of degrading to conservative on
    every new file."""
    committed = latest_version(path)
    if committed is None or not entries:
        return
    raw = snapshot_meta(path, "value_index", version=committed)
    if not raw:
        return
    cfg = json.loads(raw)
    # the property carries PHYSICAL names (rename-stable); pooled
    # files are written under physical names, so no mapping applies
    phys_cols = list(cfg.get("cols", []))
    staged = _pool_paths(path, [e["path"] for e in entries])
    per_col = _collect_value_sets(
        spark, staged, phys_cols, int(cfg.get("max_distinct", 64)),
    )
    for e in entries:
        bn = os.path.basename(e["path"])
        for phys, vmap in per_col.items():
            vals = vmap.get(bn)
            if vals is None:
                continue
            stats = e.setdefault("stats", {})
            slot = dict(stats.get(phys) or {})
            slot["vals"] = vals
            stats[phys] = slot
    # bloom tier maintenance: same parity contract as the value sets —
    # every staged file gets its bitmap before commit, so point-lookup
    # pruning never degrades on fresh ingests
    bloom_cols = list(cfg.get("bloom_cols", []))
    if bloom_cols:
        bits = int(cfg.get("bloom_bits", 1 << 17))
        bk = int(cfg.get("bloom_k", 5))
        tmap = dict(cfg.get("bloom_types", {}))
        per_bloom = _collect_bloom_maps(spark, staged, bloom_cols, bits, bk)
        for e in entries:
            bn = os.path.basename(e["path"])
            for phys, bmap in per_bloom.items():
                b64 = bmap.get(bn)
                if b64 is None:
                    continue
                stats = e.setdefault("stats", {})
                slot = dict(stats.get(phys) or {})
                slot["bloom"] = {
                    "b64": b64, "bits": bits, "k": bk,
                    "t": tmap.get(phys, "s"),
                }
                stats[phys] = slot


def versioned_agg_stats(
    spark: SparkSession,
    path: str,
    cols: list[str],
    *,
    version: int | None = None,
    as_of_ts: float | None = None,
    ref: str | None = None,
    max_stat_strlen: int = 1024,
) -> dict:
    """Metadata-only aggregates — COUNT(*), and per column MIN / MAX /
    COUNT(col) — folded from the manifest's per-file footer stats
    (Iceberg's scan-planning aggregate pushdown / Delta's
    stats-answered SELECTs): on the pristine path the answer costs
    ZERO data-file opens however large the table — a 100 TB
    ``SELECT count(*), min(ts), max(ts)`` reads kilobytes of manifest.

    Exactness is never traded for speed; entries whose stats CANNOT
    answer exactly are actually scanned (only those) and combined:

    - ``count(*)`` = Σ(rows − dv_rows) over entries — exact for every
      table shape with no opens (the manifest maintains both counts);
    - ``min/max/count(col)`` fold per-file ``{min,max,nulls}`` only
      for entries with NO deletion vectors (a deleted row may have
      held the extremum or changed the null count) and usable stats
      (nested / unstatted / all-null / unknown-null-count files fall
      back to the scan). String bounds at or beyond
      ``max_stat_strlen`` are distrusted as possibly
      writer-truncated: a truncated max is a PREFIX of the true max —
      lexicographically SHORT of it — so trusting it would return a
      wrong answer, not a loose bound (pruning can live with loose;
      an aggregate cannot). Float bounds that are NaN are likewise
      distrusted (writer NaN-ordering is not portable).
    - SQL semantics throughout: MIN/MAX ignore NULLs (footer stats
      already do); ``count`` is the NON-NULL count = Σ(rows − nulls).

    Returns ``{"version", "count_rows", "files_total",
    "files_opened", "columns": {col: {"min", "max", "count"}}}`` with
    DATE extrema in the manifest's stats domain (ISO strings,
    :func:`_stat_encode`). ``files_opened`` is the proof surface:
    0 on the pristine path, and never more than the entries that
    genuinely need opening.

    Reference parity: the reference delegates its aggregate surface
    to Postgres (`/root/reference/src/extract/pg.rs:12-22`); this is
    the lake-native answer where the common case never touches data.
    Scale: the fold is O(files) driver-side over the already-resolved
    manifest — the same cost class as planning any read — and the
    fallback scan opens exactly the DV'd/unstatted slice."""
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    if ref is not None:
        if version is not None or as_of_ts is not None:
            raise ValueError("pass ref OR version/as_of_ts, not both")
        path, version = _resolve_ref(path, ref)
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version or as_of_ts, not both")
        version = version_as_of_timestamp(path, as_of_ts)
    v = committed if version is None else version
    if v > committed:
        raise FileNotFoundError(
            f"version {v} at {path} is not committed "
            f"(latest committed: {committed})"
        )
    man = _read_manifest(path, v)
    schema = StructType.fromJson(man["schema"])
    names = [f.name for f in schema.fields]
    unknown = [c for c in cols if c not in names]
    if unknown:
        raise KeyError(f"no column(s) {unknown} at {path} (have {names})")
    mapping = _schema_mapping(schema)
    entries = man["files"]
    count_rows = sum(
        int(e.get("rows", 0)) - int(e.get("dv_rows", 0)) for e in entries
    )

    def _answerable(e: dict, phys: str):
        """The entry's stats slot iff it answers ``phys`` EXACTLY."""
        if e.get("dv_files"):
            return None
        st = (e.get("stats") or {}).get(phys)
        if not st or st.get("nulls") is None:
            return None
        for b in (st.get("min"), st.get("max")):
            if isinstance(b, str) and len(b) >= max_stat_strlen:
                return None
            if isinstance(b, float) and math.isnan(b):
                return None
        return st

    out_cols: dict[str, dict] = {}
    # group fallback columns by IDENTICAL scan sets so one Spark job
    # serves every column that needs the same files
    scan_groups: dict[tuple, tuple[list[dict], list[str]]] = {}
    for c in cols:
        phys = mapping.get(c, c)
        mn = mx = None
        cnt = 0
        need: list[dict] = []
        for e in entries:
            st = _answerable(e, phys)
            if st is None:
                if int(e.get("rows", 0)) - int(e.get("dv_rows", 0)) > 0:
                    need.append(e)
                continue
            nonnull = int(e.get("rows", 0)) - int(st["nulls"])
            cnt += nonnull
            if nonnull > 0:
                mn = st["min"] if mn is None else min(mn, st["min"])
                mx = st["max"] if mx is None else max(mx, st["max"])
        out_cols[c] = {"min": mn, "max": mx, "count": cnt}
        if need:
            key = tuple(sorted(e["path"] for e in need))
            if key in scan_groups:
                scan_groups[key][1].append(c)
            else:
                scan_groups[key] = (need, [c])

    opened: set[str] = set()
    for need, gcols in scan_groups.values():
        opened.update(e["path"] for e in need)
        row = (
            _read_entries(spark, path, need, schema)
            .agg(
                *[
                    a
                    for c in gcols
                    for a in (
                        F.min(c).alias(f"mn_{c}"),
                        F.max(c).alias(f"mx_{c}"),
                        F.count(c).alias(f"ct_{c}"),
                    )
                ]
            )
            .collect()[0]
        )
        for c in gcols:
            slot = out_cols[c]
            slot["count"] += int(row[f"ct_{c}"])
            for side, fn in (("min", min), ("max", max)):
                sv = row[f"{'mn' if side == 'min' else 'mx'}_{c}"]
                if sv is None:
                    continue
                sv = _stat_encode(sv)
                slot[side] = sv if slot[side] is None else fn(slot[side], sv)
    return {
        "version": v,
        "count_rows": count_rows,
        "files_total": len(entries),
        "files_opened": len(opened),
        "columns": out_cols,
    }


def versioned_value_index(
    spark: SparkSession,
    path: str,
    cols: list[str],
    *,
    max_distinct: int = 64,
    bloom_cols: list[str] | None = None,
    bloom_bits: int = 1 << 17,
    bloom_k: int = 5,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """Record per-file EXACT VALUE SETS for low-cardinality columns —
    parquet dictionary skipping elevated to the manifest (the shape of
    Delta's data-skipping indexes): one scan collects, per pooled
    file, the distinct non-NULL values of each column (files exceeding
    ``max_distinct`` distinct values are left un-indexed), and a
    guarded commit rewrites the manifest entries with a
    ``stats[col]["vals"]`` list. From then on every point/IN bound —
    reads, DELETE classification, connector pushFilters — prunes by
    exact membership: "language = 'de'" opens only files that actually
    CONTAIN a German row, even though the table isn't partitioned or
    clustered by language. Min/max intervals can't do this for
    categorical columns scattered through every file.

    Soundness: the sets are computed over PHYSICAL rows (a superset of
    live rows — deletion vectors only shrink), so value-absence proofs
    can never drop a live match; sets ignore NULLs, which is exactly
    right for null-rejecting range/IN predicates. Coverage proofs
    additionally require the footer's exact zero null count. Files
    staged AFTER the index commit carry no sets and stay conservative
    candidates until the next index run — rerun after large ingests,
    like ANALYZE.

    Cost: one distinct-pairs shuffle (bounded by the data) + a
    manifest rewrite (O(manifest), zero data IO). The collected sets
    are ≤``max_distinct`` values per file per column — a bounded
    driver artifact. The commit is a guarded CAS re-derived from the
    latest manifest on every lost race (:func:`_retry_lost_races`), so
    racing ingest commits are carried
    (their new files simply stay un-indexed). Column types are
    restricted to the partitionable set (ints/strings/bools/dates) —
    floats and timestamps make poor equality keys.

    ``bloom_cols`` is the HIGH-cardinality complement: a ``doc_id``
    point lookup gets no value-set tier (the per-file distinct count
    blows the cap) and its interval stats span every file on an
    unclustered layout — the per-file bloom bitmap answers "this
    exact value is definitely absent from this file" regardless of
    cardinality (the Parquet bloom-filter / Delta index idea at
    manifest granularity, sharing operators/bloom.py's sha256 probe
    recipe with sources/skipping.py so build and probe can never
    diverge). Each slot is self-describing
    (``stats[col]["bloom"] = {b64, bits, k, t}``) — readers probe at
    the recorded geometry and refuse cross-typed bounds (the type
    class ``t`` pins the CAST-AS-STRING domain). Size ``bloom_bits``
    at ~10× the expected rows per file for ~1% false positives
    (default 2^17 bits = 16 KiB/file/column, JSON-inlined in the
    manifest entry). Same false-positive-only guarantee as every
    bloom: absence proofs are exact, presence is re-checked by the
    residual predicate. Write-side maintenance covers bloom columns
    exactly like value-set columns."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    scanned = latest_version(path)
    if scanned is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man0 = _read_manifest(path, scanned)
    schema = StructType.fromJson(man0["schema"])
    mapping = _schema_mapping(schema)
    dtypes = {f.name: f.dataType for f in schema.fields}
    if bloom_cols is None:
        # a vals-only re-run must not silently drop an existing bloom
        # config: inherit it (pass bloom_cols=[] to clear explicitly)
        prior = snapshot_meta(path, "value_index", version=scanned)
        if prior:
            pcfg = json.loads(prior)
            inv = {p: n for n, p in mapping.items()}
            bloom_cols = [
                inv.get(p, p) for p in pcfg.get("bloom_cols", [])
            ]
            bloom_bits = int(pcfg.get("bloom_bits", bloom_bits))
            bloom_k = int(pcfg.get("bloom_k", bloom_k))
    bloom_cols = list(bloom_cols or [])
    if bloom_bits < 64 or bloom_k < 1:
        raise ValueError(
            f"bloom geometry bits={bloom_bits}, k={bloom_k} out of range"
        )
    for c in [*cols, *bloom_cols]:
        if c not in dtypes:
            raise KeyError(
                f"no column {c!r} at {path} (have {sorted(dtypes)})"
            )
        _check_partition_type(c, dtypes[c])
    phys_schema = StructType(
        [
            StructField(mapping[f.name], f.dataType, f.nullable)
            for f in schema.fields
        ]
    )
    paths = _pool_paths(path, [e["path"] for e in man0["files"]])
    per_col = _collect_value_sets(
        spark, paths, [mapping.get(c, c) for c in cols], max_distinct,
        read_schema=phys_schema,
    )
    bloom_types = {
        mapping.get(c, c): _bloom_type_class(dtypes[c]) for c in bloom_cols
    }
    per_bloom = _collect_bloom_maps(
        spark, paths, [mapping.get(c, c) for c in bloom_cols],
        bloom_bits, bloom_k, read_schema=phys_schema,
    )

    def attempt() -> int:
        base = latest_version(path)
        man = _read_manifest(path, base)
        entries = []
        n_indexed = 0
        for e in man["files"]:
            bn = os.path.basename(e["path"])
            upd = None
            for phys, vmap in per_col.items():
                vals = vmap.get(bn)
                if vals is None:
                    continue
                if upd is None:
                    upd = dict(e)
                    upd["stats"] = dict(upd.get("stats") or {})
                slot = dict(upd["stats"].get(phys) or {})
                slot["vals"] = vals
                upd["stats"][phys] = slot
                n_indexed += 1
            for phys, bmap in per_bloom.items():
                b64 = bmap.get(bn)
                if b64 is None:
                    continue
                if upd is None:
                    upd = dict(e)
                    upd["stats"] = dict(upd.get("stats") or {})
                slot = dict(upd["stats"].get(phys) or {})
                slot["bloom"] = {
                    "b64": b64, "bits": bloom_bits, "k": bloom_k,
                    "t": bloom_types[phys],
                }
                upd["stats"][phys] = slot
                n_indexed += 1
            entries.append(upd if upd is not None else e)
        vindex = {
            "cols": sorted(mapping.get(c, c) for c in cols),
            "max_distinct": max_distinct,
        }
        if bloom_cols:
            vindex.update({
                "bloom_cols": sorted(bloom_types),
                "bloom_bits": bloom_bits,
                "bloom_k": bloom_k,
                "bloom_types": bloom_types,
            })
        commit_meta = {
            "op": "value_index",
            "indexed_columns": json.dumps(sorted([*cols, *bloom_cols])),
            "n_files_indexed": str(n_indexed),
            "as_of_version": str(scanned),
            # carried TABLE property: every later write indexes its
            # own staged files (_maintain_value_index), so membership
            # pruning stays exact across ingests without re-runs.
            # PHYSICAL names — stable across renames forever, so the
            # maintenance can never silently detach from its column
            "value_index": json.dumps(vindex),
        }
        commit_meta.update(meta or {})
        return _commit_manifest(
            path, man["schema"], entries, commit_meta,
            base, lock_timeout_s,
        )

    return _retry_lost_races(attempt, f"value index at {path}")


def _manifest_summary(path: str, version: int) -> tuple[int, int, int, int]:
    """(n_files, n_bytes, physical_rows, dv_rows) of a version from
    the kilobyte segment refs alone — no segment file is opened. Falls
    back to materializing for legacy flat manifests (or refs written
    before the aggregate fields existed)."""
    with open(os.path.join(path, f"v={version}", _MANIFEST_NAME)) as f:
        man = json.load(f)
    refs = man.get("segments")
    if refs is not None and all(
        "bytes" in r and "dv_rows" in r for r in refs
    ):
        return (
            sum(int(r["n"]) for r in refs),
            sum(int(r["bytes"]) for r in refs),
            sum(int(r["rows"]) for r in refs),
            sum(int(r["dv_rows"]) for r in refs),
        )
    files = _read_manifest(path, version)["files"]
    return (
        len(files),
        sum(int(e.get("bytes", 0)) for e in files),
        sum(int(e.get("rows", 0)) for e in files),
        sum(int(e.get("dv_rows", 0)) for e in files),
    )


def versioned_count(path: str, *, version: int | None = None) -> int:
    """Exact row count of a snapshot WITHOUT launching a job: manifest
    per-file footer counts minus each file's deletion-vector rows —
    O(manifest) driver arithmetic, the same free-metadata trick
    ``versioned_history(with_counts=True)`` uses. At 100 TB this is
    the difference between an instant answer and a full scan for the
    most common dashboard query there is."""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    v = committed if version is None else version
    _, _, rows, dv = _manifest_summary(path, v)
    return rows - dv


def commit_timestamp(path: str, version: int) -> float:
    """Epoch seconds of a commit: its ``commit_ts`` marker, falling
    back to the manifest directory's mtime for history written before
    the marker existed."""
    m = snapshot_meta(path, "commit_ts", version=version)
    if m is not None:
        try:
            return float(m)
        except ValueError:
            pass
    return os.path.getmtime(os.path.join(path, f"v={version}"))


def version_as_of_timestamp(path: str, ts: float) -> int:
    """Timestamp time travel resolution (Delta's ``TIMESTAMP AS OF``):
    the NEWEST committed version whose commit time is <= ``ts``.
    Raises if the table had no commit yet at ``ts``. Commit times are
    writer-clock marker values — a cluster with skewed writer clocks
    inherits that skew in its history, exactly as Delta does."""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    best = None
    for v in range(committed + 1):
        try:
            t = commit_timestamp(path, v)
        except FileNotFoundError:
            continue  # vacuumed
        if t <= ts:
            best = v if best is None else max(best, v)
    if best is None:
        raise FileNotFoundError(
            f"no commit at {path} existed at timestamp {ts}"
        )
    return best


def versioned_read(
    spark: SparkSession, path: str, *, version: int | None = None,
    as_of_ts: float | None = None, ref: str | None = None,
) -> DataFrame:
    """Scan one snapshot: the committed latest by default, a pinned
    ``version`` (time travel), or a named ``ref`` — a tag serves its
    pinned version, a branch serves the branch table's committed
    latest. Uncommitted / vacuumed versions raise.

    The scan reads EXACTLY the files the pinned manifest lists, with
    the manifest's own schema — so each version serves its
    as-committed schema (time travel never shows future columns), and
    files written before an additive evolution NULL-fill the columns
    they lack (Spark's by-name parquet read with an explicit
    schema)."""
    from pyspark.sql.types import StructType

    if ref is not None:
        if version is not None or as_of_ts is not None:
            raise ValueError("pass ref OR version/as_of_ts, not both")
        path, version = _resolve_ref(path, ref)
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version or as_of_ts, not both")
        version = version_as_of_timestamp(path, as_of_ts)
    if version is None:
        version = committed
    elif version > committed:
        # the directory may exist (a crashed writer's residue) but the
        # pointer never blessed it — serving it would expose a
        # half-written snapshot as history
        raise FileNotFoundError(
            f"version {version} at {path} is not committed "
            f"(latest committed: {committed})"
        )
    snap = os.path.join(path, f"v={version}")
    if not os.path.isdir(snap):
        raise FileNotFoundError(f"version {version} not present at {path}")
    man = _read_manifest(path, version)
    schema = StructType.fromJson(man["schema"])
    return _read_entries(spark, path, man["files"], schema)


def _read_entries(spark: SparkSession, path: str, entries: list[dict], schema):
    """Materialize a set of manifest entries as a DataFrame, applying
    each file's DELETION VECTORS (merge-on-read). Files without DVs
    take the pristine fast path — a plain parquet scan, zero overhead;
    files with DVs are read with the parquet ``_metadata`` row identity
    (file name + row position) and anti-joined against their DV rows.
    The anti-join key is (file, position) — exact row identity, never
    data values — so a delete can never collide with a surviving row
    that happens to share column values.

    Renamed columns: the scan uses each field's PHYSICAL parquet name
    (stable across renames — see :func:`versioned_rename_column`) and
    aliases back to the logical name in one final projection, so a
    rename costs a zero-copy metadata commit and every read serves
    the logical schema. Never-renamed tables skip the projection."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    mapping = _schema_mapping(schema)
    renamed = any(p != n for n, p in mapping.items())
    read_schema = (
        StructType(
            [
                StructField(mapping[f.name], f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        if renamed
        else schema
    )
    clean = [e for e in entries if not e.get("dv_files")]
    dirty = [e for e in entries if e.get("dv_files")]
    parts: list[DataFrame] = []
    if clean:
        parts.append(
            spark.read.schema(read_schema).parquet(
                *_pool_paths(path, [e["path"] for e in clean])
            )
        )
    if dirty:
        parts.append(
            _apply_dvs(spark, path, dirty, read_schema).drop("__file", "__pos")
        )
    if not parts:
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    if renamed:
        out = out.select(
            *[F.col(mapping[f.name]).alias(f.name) for f in schema.fields]
        )
    return out


def _with_row_identity(df: DataFrame) -> DataFrame:
    """Attach (__file, __pos): the parquet file's BASENAME (pool file
    names are uuid-unique across commits, so the basename is a stable
    global id) and the row's position within it — Spark's hidden
    ``_metadata`` columns, evaluated at the scan, no shuffle."""
    from pyspark.sql import functions as F

    return df.select(
        "*",
        F.element_at(
            F.split(F.col("_metadata.file_path"), "/"), -1
        ).alias("__file"),
        F.col("_metadata.row_index").alias("__pos"),
    )


def _apply_dvs(
    spark: SparkSession, path: str, dirty: list[dict], schema
) -> DataFrame:
    """Read DV-carrying entries and anti-join their deletion vectors:
    returns surviving rows WITH the (__file, __pos) identity columns
    still attached (callers that only want data drop them). The DV
    side holds deleted POSITIONS, not data, and is read once for the
    union of the entries' DV files. The manifest's own ``dv_rows``
    counts decide the join strategy driver-side: small vectors are
    broadcast (the common case — deletes are a sliver of the table);
    past the threshold the hint is withheld and the anti-join
    shuffles, which stays correct however many billions of rows a
    mass-delete vectorized."""
    from pyspark.sql import functions as F

    df = _with_row_identity(
        spark.read.schema(schema).parquet(
            *_pool_paths(path, [e["path"] for e in dirty])
        )
    )
    dv_paths = sorted({p for e in dirty for p in e["dv_files"]})
    dv = (
        spark.read.parquet(*_pool_paths(path, dv_paths))
        .select("__file", "__pos")
        .distinct()
    )
    if sum(int(e.get("dv_rows", 0)) for e in dirty) <= 2_000_000:
        dv = F.broadcast(dv)
    return df.join(dv, ["__file", "__pos"], "left_anti")


def _interval_split(
    entries: list[dict], col: str, lo, hi
) -> tuple[list[dict], list[dict]]:
    """Split manifest entries into (candidates, skipped) for the
    predicate ``lo <= col <= hi``: skipped files' [min, max] stats
    PROVE they hold no qualifying row; candidates may. Files without
    usable stats for ``col`` stay candidates (conservative — pruning
    never changes results, it only narrows IO). Pure driver-side
    interval arithmetic over the in-memory manifest: O(#files), no
    job launched to decide — the Delta/Iceberg data-skipping read
    contract."""
    cand: list[dict] = []
    skipped: list[dict] = []
    for e in entries:
        # a 0-row file proves disjointness trivially (empty staged
        # partitions carry no footer stats but also no rows)
        if e.get("rows") == 0:
            skipped.append(e)
            continue
        st = (e.get("stats") or {}).get(col)
        mn = None if st is None else st.get("min")
        mx = None if st is None else st.get("max")
        # NaN-valued footer stats (a writer that folded NaN into
        # min/max) prove nothing: every ordered comparison with NaN is
        # false, which would silently mis-skip. Treat as stat-less.
        if mn is None or mx is None or _stat_nan(mn) or _stat_nan(mx):
            cand.append(e)
            continue
        try:
            disjoint = (lo is not None and mx < lo) or (
                hi is not None and mn > hi
            )
        except TypeError:
            # cross-type stats (an int bound against string stats, a
            # legacy manifest) prove nothing — stay a candidate, the
            # exact predicate/anti-join decides downstream
            disjoint = False
        if disjoint:
            skipped.append(e)
        else:
            cand.append(e)
    return cand, skipped


def _stat_nan(x) -> bool:
    return isinstance(x, float) and x != x


def _member_provable(stat_vals, bound_vals) -> bool:
    """Membership pruning (single-valued files, value-set indexes,
    segment-ref value unions) proves disjointness with PYTHON set
    semantics — faithful to Spark's coercing equality only when the
    two sides live in one type class. ``'05' not in {5}`` is True in
    Python while ``'05' = 5`` coerces true in Spark, so a str/numeric
    mix proves nothing (bool↔int agree in both systems: True == 1
    both sides). Returns False when the proof is not allowed."""
    def has_str(vs):
        return any(isinstance(v, str) for v in vs)

    def has_num(vs):
        return any(isinstance(v, (int, float)) for v in vs)

    s1, n1 = has_str(stat_vals), has_num(stat_vals)
    s2, n2 = has_str(bound_vals), has_num(bound_vals)
    return not ((s1 and n2) or (s2 and n1))


def _value_set_disjoint(st, bound_set) -> bool:
    """True when a file's stats slot PROVES no row carries any value
    in ``bound_set``: single-valued files (min == max, the partition
    layout) by direct membership, value-indexed files
    (:func:`versioned_value_index` ``vals`` sets) by empty
    intersection, bloom-indexed files (the high-cardinality tier) by
    all-bits-unset probes. Stat-less / multi-valued / cross-type
    slots stay conservative candidates."""
    if not st:
        return False
    try:
        mn, mx = st.get("min"), st.get("max")
        if mn is not None and mn == mx:
            if _member_provable([mn], bound_set) and mn not in bound_set:
                return True
        evals = st.get("vals")
        if evals is not None:
            if _member_provable(evals, bound_set) and not (
                set(evals) & set(bound_set)
            ):
                return True
        bl = st.get("bloom")
        if bl is not None:
            return _bloom_absent(bl, bound_set)
    except TypeError:
        return False
    return False


def versioned_pruned_read(
    spark: SparkSession,
    path: str,
    col: str,
    lo,
    hi,
    *,
    version: int | None = None,
) -> DataFrame:
    """Scan-side file skipping for a versioned snapshot: read only the
    files whose manifest [min, max] stats on ``col`` can intersect
    [lo, hi], then re-apply the exact predicate. The MERGE path has
    pruned writes since the manifest store landed
    (:func:`versioned_upsert`); this is the symmetric read half — a
    point/range lookup on a key-clustered 100 TB table opens a
    handful of files, decided from kilobytes of driver-side manifest,
    never a table scan.

    The one-column spelling of :func:`versioned_read_where` with the
    bound ``{col: (lo, hi)}``, planned by the same :func:`_plan_read`
    (either side may be None for an open side). Exactness: pruning
    drops only files PROVEN disjoint, and the residual predicate
    re-filters the survivors, so the result is row-identical to
    ``versioned_read(...).filter(lo <= col <= hi)`` (driver-oracled by
    q_versioned_pruned_read; file-count economics unit-pinned in
    tests/test_versioned.py)."""
    return versioned_read_where(spark, path, {col: (lo, hi)}, version=version)


def versioned_read_where(
    spark: SparkSession,
    path: str,
    bounds: dict,
    *,
    version: int | None = None,
    metrics: dict | None = None,
) -> DataFrame:
    """Multi-column pruned read: ``bounds`` maps column → value (point
    lookup), ``(lo, hi)`` interval or IN list, ANDed; either interval
    side may be ``None`` for an OPEN side (``{"ts": (cutoff, None)}`` —
    the everything-since-X shape), pruning and residual both one-sided.
    :func:`_resolve_bounds` turns the dict into pruning units and
    :func:`_plan_read` plans them — whole manifest segments skipped
    from ref aggregate stats, then files from per-entry stats (EXACT on
    partition columns and value-indexed columns, conservative footer
    intervals elsewhere); the ``skopje_versioned`` connector plans its
    pushed filters through the same two calls. The exact residual
    predicate re-filters, so the result is row-identical to
    ``versioned_read(...).filter(AND of bounds)``. ``metrics`` (a dict,
    if given) receives ``segments_opened``/``segments_total``.

    This is the canonical partitioned-lake read shape: ``{"day": d,
    "source": "web"}`` on a day×source-partitioned 100 TB table opens
    exactly one partition's files, decided from kilobytes of driver
    manifest. Hidden ``date()`` partitions participate transparently:
    a raw-timestamp bound derives a prune-only day interval, and a
    bound on the virtual day target itself filters boundary files
    through ``to_date(source)`` (see :func:`_resolve_bounds`)."""
    from pyspark.sql.types import StructType

    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    v = committed if version is None else version
    with open(os.path.join(path, f"v={v}", _MANIFEST_NAME)) as f:
        man = json.load(f)
    schema = StructType.fromJson(man["schema"])
    resolved = _resolve_bounds(
        bounds, schema, _schema_mapping(schema),
        table_partition_specs(path, version=v),
    )
    entries, seg_opened, seg_total = _plan_read(path, man, resolved)
    if metrics is not None:
        metrics["segments_opened"] = seg_opened
        metrics["segments_total"] = seg_total
    return _read_entries(spark, path, entries, schema).filter(
        _bounds_predicate(resolved)
    )


def _match_files(
    spark: SparkSession,
    path: str,
    entries: list[dict],
    updates: DataFrame,
    key: str,
    stats_key: str | None = None,
) -> tuple[list[dict], list[dict]]:
    """Split a manifest's file entries into (candidates, carried):
    candidates MAY contain a row whose ``key`` matches an update key
    (conservative superset — correctness never depends on stat
    precision), carried files provably cannot and ride into the next
    manifest untouched.

    The check is an interval-containment join of the DISTINCT update
    keys against the per-file [min, max] stats: the stats frame is
    O(#files) rows broadcast to the update side, so the decision
    costs one pass over the update keys however large the table —
    never a table scan. Files without usable stats for ``key`` (type
    not stats-safe, truncated footer, pre-stats manifest) are always
    candidates. NULL update keys need no candidacy at all: the merge
    anti-join is an equi-join, where NULL never matches (SQL MERGE
    semantics — NULL-keyed updates insert, they cannot replace).

    ``stats_key``: the PHYSICAL column name to look stats up under
    when it differs from the update frame's logical ``key`` (column
    rename without rewrite — file footers keep the physical name
    forever)."""
    from pyspark.sql import functions as F

    sk = key if stats_key is None else stats_key
    key_type = None
    for fld in updates.schema.fields:
        if fld.name == key:
            key_type = fld.dataType
    cand, stat_rows = [], []
    zero_rows = [e for e in entries if e.get("rows") == 0]
    entries = [e for e in entries if e.get("rows") != 0]
    for e in entries:
        st = (e.get("stats") or {}).get(sk)
        mn = None if st is None else st.get("min")
        # NaN-valued stats prove nothing (see _interval_split) — the
        # file stays a conservative rewrite candidate
        if (
            mn is None
            or key_type is None
            or _stat_nan(mn)
            or _stat_nan(st.get("max"))
        ):
            cand.append(e)
        else:
            stat_rows.append(e)
    if not stat_rows:
        return cand, zero_rows
    from pyspark.sql.types import (
        DateType,
        StringType,
        StructField,
        StructType,
    )

    # DATE keys: manifest stats are canonical ISO strings
    # (_stat_encode), so the interval join runs in the string domain —
    # fixed-width ISO order equals date order, and casting the update
    # keys is one codegen expression
    cmp_type = key_type
    key_expr = F.col(key)
    if isinstance(key_type, DateType):
        cmp_type = StringType()
        key_expr = F.col(key).cast("string")
    sdf = spark.createDataFrame(
        [(e["path"], e["stats"][sk]["min"], e["stats"][sk]["max"])
         for e in stat_rows],
        StructType([
            StructField("__path", StringType()),
            StructField("__mn", cmp_type),
            StructField("__mx", cmp_type),
        ]),
    )
    kdf = updates.select(key_expr.alias("__k")).distinct()
    # Spark's equi-join treats NaN = NaN as a match, but NaN fails every
    # ordered comparison, so the interval test would wrongly carry a
    # file holding NaN-keyed rows past a NaN-keyed update (the stale row
    # would survive alongside its replacement). Mirror Delta's NaN
    # data-skipping carve-out: a NaN update key makes EVERY stats file a
    # candidate (min/max stats cannot prove NaN-absence).
    hit = (F.col("__k") >= F.col("__mn")) & (F.col("__k") <= F.col("__mx"))
    from pyspark.sql.types import DoubleType, FloatType

    if isinstance(key_type, (FloatType, DoubleType)):
        hit = hit | F.isnan(F.col("__k"))
    matched = {
        r["__path"]
        for r in kdf.join(F.broadcast(sdf), hit)
        .select("__path").distinct().collect()
    }
    carried = list(zero_rows)
    for e in stat_rows:
        if e["path"] in matched:
            cand.append(e)
        else:
            carried.append(e)
    return cand, carried


def _bucket_prune_candidates(
    path: str,
    base_v: int,
    keys: list[str],
    frame: DataFrame,
    cand: list[dict],
    carried: list[dict],
) -> tuple[list[dict], list[dict]]:
    """Storage-partitioned MERGE candidacy: when the CURRENT spec
    bucket-partitions a merge key (``b=bucket(N, key)``), compute the
    update keys' bucket set Spark-side (one tiny distinct, ≤N rows
    collected) and carry every single-valued bucket file outside the
    set — provably match-free, because equal keys hash to equal
    buckets. An m-key merge on a bucketed 100 TB table rewrites at
    most m buckets; interval pruning alone can't do this for
    hash-scattered keys (their [min, max] span covers every file).

    Spec EVOLUTION: the walk covers the current spec AND every
    historical epoch (``table_partition_specs``) — a table evolved
    from ``b=bucket(16,k)`` to ``b2=bucket(32,k)`` prunes new-epoch
    files by their ``b2`` bucket set and OLD-epoch files by their
    ``b`` set, each file answering only for the target it carries
    single-valued stats for (epoch targets are unique — same-target
    re-derivation is refused at evolution time). One <=N-row distinct
    per bucket epoch."""
    from pyspark.sql import functions as F

    spec = table_partition_specs(path, version=base_v)
    for target, source, tr in _parse_partition_spec(spec):
        if not tr.startswith("bucket[") or source not in keys or not cand:
            continue
        n = int(tr[len("bucket["):-1])
        rows = (
            frame.select(_bucket_expr(F.col(source), n).alias("__b"))
            .distinct()
            .collect()
        )
        # NULL keys never equi-match (SQL MERGE), so a NULL bucket
        # contributes no candidacy
        bset = {r["__b"] for r in rows if r["__b"] is not None}
        still: list[dict] = []
        extra: list[dict] = []
        for e in cand:
            st = (e.get("stats") or {}).get(target)
            mn = None if st is None else st.get("min")
            mx = None if st is None else st.get("max")
            if mn is not None and mn == mx and mn not in bset:
                extra.append(e)
            else:
                still.append(e)  # stat-less / multi-bucket: conservative
        cand, carried = still, carried + extra
    return cand, carried


def _base_snapshot(path: str, expected_version) -> tuple[int, dict]:
    """THE base-snapshot resolver of every DML commit: (base version,
    raw manifest). The base is the latest unless ``expected_version``
    pins it (the OCC loop's compare-and-swap base)."""
    base_v = (
        latest_version(path)
        if expected_version is _UNGUARDED
        else expected_version
    )
    if base_v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    with open(os.path.join(path, f"v={base_v}", _MANIFEST_NAME)) as f:
        return base_v, json.load(f)


def _carried_markers(
    n_carried: int, closed_refs: list[dict], n_segments: int | None
) -> dict[str, str]:
    """``n_files_carried`` (open-segment files kept plus every closed
    segment's members) and, over a segmented base, how many kilobyte
    segments the commit opened vs carried by reference."""
    out = {
        "n_files_carried": str(
            n_carried + sum(int(r["n"]) for r in closed_refs)
        )
    }
    if n_segments is not None:
        out["n_segments_total"] = str(n_segments)
        out["n_segments_opened"] = str(n_segments - len(closed_refs))
    return out


def _key_bounds(frame: DataFrame, keys: list[str]) -> list[tuple]:
    """Per key column, (min, max, has_nan, n_nonnull) of ``frame``'s
    keys — ONE tiny agg job over the (already computed) key frame. The
    planner prunes segments and files by these bounds; the first key's
    bounds are also the rebase's added-file disjointness proof."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import DoubleType, FloatType

    aggs = []
    for i, k in enumerate(keys):
        nan_agg = (
            F.max(F.isnan(F.col(k)))
            if isinstance(frame.schema[k].dataType, (FloatType, DoubleType))
            else F.lit(False)
        )
        aggs += [
            F.min(k).alias(f"lo{i}"),
            F.max(k).alias(f"hi{i}"),
            nan_agg.alias(f"nan{i}"),
            F.count(k).alias(f"n{i}"),
        ]
    row = frame.agg(*aggs).first()
    # canonical stats domain (dates → ISO strings) so the bounds
    # compare directly against manifest/segment stats values
    return [
        (
            _stat_encode(row[f"lo{i}"]),
            _stat_encode(row[f"hi{i}"]),
            bool(row[f"nan{i}"]),
            int(row[f"n{i}"]),
        )
        for i in range(len(keys))
    ]


def _bounds_usable(bounds: tuple) -> bool:
    """Key bounds prune only when they are stats-safe, NaN-free and
    non-empty (all-NULL keys match nothing but prove nothing either)."""
    lo, hi, has_nan, n_nonnull = bounds
    return (
        n_nonnull > 0
        and not has_nan
        and isinstance(lo, _STATS_SAFE)
        and isinstance(hi, _STATS_SAFE)
    )


def _plan_key_candidates(
    spark: SparkSession,
    path: str,
    base_v: int,
    man: dict,
    frame: DataFrame,
    keys: list[str],
    mapping: dict[str, str],
) -> tuple[list[dict], list[dict], list[dict], int | None, tuple]:
    """THE key-candidate planner of MERGE, UPSERT and key-frame DELETE:
    which base files may hold a row whose key tuple is in ``frame``
    (already cast to the table's types). Returns (closed_refs,
    candidates, carried, n_segments, first_key_bounds):

    1. segment tier — segments whose aggregate first-key range cannot
       intersect the keys ride by reference, never parsed;
    2. :func:`_match_files` — per-file interval join of the DISTINCT
       first keys against the open entries' stats;
    3. composite keys — a file provably disjoint from the key range
       on ANY key column cannot hold a full-tuple match, so each
       extra key prunes by driver interval arithmetic (a merge keyed
       (id, source) prunes on the source PARTITION even when id leads);
    4. :func:`_bucket_prune_candidates` — a bucketed key prunes by the
       keys' exact bucket set (hash-scattered keys span every
       interval, so only set membership can close files)."""
    bounds = _key_bounds(frame, keys)
    sk0 = mapping.get(keys[0], keys[0])
    closed_refs, open_entries, n_segments = _split_segments(
        path, man,
        [(sk0, *bounds[0][:2], None)] if _bounds_usable(bounds[0]) else [],
    )
    cand, carried = _match_files(
        spark, path, open_entries, frame, keys[0], stats_key=sk0
    )
    for k, b in zip(keys[1:], bounds[1:]):
        if cand and _bounds_usable(b):
            cand, extra = _interval_split(cand, mapping.get(k, k), *b[:2])
            carried = carried + extra
    cand, carried = _bucket_prune_candidates(
        path, base_v, keys, frame, cand, carried
    )
    return closed_refs, cand, carried, n_segments, bounds[0]


def _extend_dvs(
    entries: list[dict], counts: dict[str, int], new_rels: list[str]
) -> list[dict]:
    """Entries with the staged deletion-vector sidecars appended to
    every file holding ``counts`` (pool basename → rows deleted); a
    file whose every row is now deleted drops out."""
    out = []
    for e in entries:
        n_hit = counts.get(os.path.basename(e["path"]), 0)
        if not n_hit:
            out.append(e)
            continue
        dv_rows = int(e.get("dv_rows", 0)) + n_hit
        if dv_rows >= e["rows"]:
            continue
        e2 = dict(e)
        e2["dv_files"] = list(e.get("dv_files", [])) + new_rels
        e2["dv_rows"] = dv_rows
        out.append(e2)
    return out


def _split_hit(
    entries: list[dict], counts: dict[str, int]
) -> tuple[list[dict], list[dict]]:
    """(entries holding a counted row, the rest); ``counts`` maps pool
    basename → rows matched."""
    hit = [e for e in entries if counts.get(os.path.basename(e["path"]))]
    rest = [e for e in entries if not counts.get(os.path.basename(e["path"]))]
    return hit, rest


def _commit_blind_append(
    path: str,
    entries: list[dict],
    commit_meta: dict[str, str],
    *,
    schema_json: dict,
    constraints: str | None,
    overwrite: bool = False,
    layout: list[str] | None = None,
    on_base=None,
    lock_timeout_s: float = 600.0,
) -> int | None:
    """THE commit of every blind append whose data files are already
    staged: the connector's batch writer (append or overwrite), its
    stream writer, and a guarded :func:`versioned_append` that lost its
    first CAS race. An append reads nothing, so it commutes with every
    concurrent data commit, and each try of :func:`_retry_lost_races`
    re-targets the CURRENT latest L:

    1. refuses when L's schema is not ``schema_json`` (a concurrent
       rename/evolution would read the batch through a schema it was
       never planned for) or, for a non-empty batch, when L's CHECK
       marker is not ``constraints`` (the marker the batch was
       validated under);
    2. carries L's segment refs BY REFERENCE (a legacy flat manifest's
       entries re-chunk once) — or nothing for a create (no L) or an
       ``overwrite``, which also record ``layout`` as the table's
       partition spec and reset its epoch history;
    3. CASes on L.

    A try costs one kilobyte top-level manifest read and one CAS; no
    segment file is opened. ``on_base(L)`` (L is None for a create)
    returns extra commit markers, or None to stop without committing
    (the stream writer's ledger finds the batch already landed).
    Returns the committed version, or None when ``on_base`` stopped."""

    def attempt() -> int | None:
        base = latest_version(path)
        reuse, files = None, entries
        if base is not None and not overwrite:
            with open(os.path.join(path, f"v={base}", _MANIFEST_NAME)) as f:
                raw = json.load(f)
            if raw["schema"] != schema_json:
                raise CommitConflict(
                    f"append at {path} refused: concurrent commit changed "
                    f"the table schema (now v{base}) after this append "
                    "was planned"
                )
            reuse = raw.get("segments")
            files = entries if reuse is not None else raw["files"] + entries
        current = (
            None if base is None
            else snapshot_meta(path, "constraints", version=base)
        )
        if entries and current != constraints:
            raise CommitConflict(
                f"append at {path} refused: CHECK constraints changed "
                "after this batch was validated"
            )
        meta = {
            **commit_meta,
            **_carried_markers(len(files) - len(entries), reuse or [], None),
        }
        if (base is None or overwrite) and layout is not None:
            meta["partition_by"] = json.dumps(layout)
            meta["partition_specs"] = "[]"
        if on_base is not None:
            extra = on_base(base)
            if extra is None:
                return None
            meta.update(extra)
        return _commit_manifest(
            path, schema_json, files, meta, base, lock_timeout_s,
            reuse_refs=reuse,
        )

    return _retry_lost_races(attempt, f"append at {path}")


@dataclass
class _DmlPlan:
    """What one row-level DML op, compaction or purge decided over its
    base snapshot, for :func:`_dml_commit` to stage and publish. ``touched`` are opened
    base entries the op replaces: rewritten away (their surviving rows
    are part of ``rows``) or, with ``dv``, kept with their deletion
    vectors extended. ``carried`` are the other opened base entries,
    kept as they are; ``closed_refs`` the base segments the plan never
    opened, carried by reference. Base entries in none of the three
    (a partition drop's covered files) leave the table."""

    op: str
    base_v: int
    man: dict  # the base's raw top-level manifest
    schema_json: dict  # the schema the commit publishes
    closed_refs: list[dict]
    n_segments: int | None
    carried: list[dict]
    touched: list[dict] = field(default_factory=list)
    rows: DataFrame | None = None  # staged as new data files
    dv: tuple | None = None  # (__file/__pos frame, {pool basename: rows hit})
    changes: list = field(default_factory=list)  # [(frame, _change_type)]
    # _rebase's added-file proof: (stats_key, first_key_bounds, noun),
    # or None for an opaque predicate that refuses any added file
    proof: tuple | None = None
    markers: dict = field(default_factory=dict)
    # staged files per partition tuple: a compaction spreads its file
    # budget so a big partition never funnels into one writer task
    files_per_partition: int = 1


def _dml_commit(
    path: str,
    plan: _DmlPlan,
    *,
    meta: dict[str, str] | None,
    expected_version,
    lock_timeout_s: float,
    rebase_on_conflict: bool = False,
) -> int:
    """THE commit tail of the six row-level DML ops (upsert, merge,
    append, delete, replace_where, update) and of compaction and purge
    (:func:`_compact_commit`): stage ``plan.rows`` as data files in the
    table's layout and ``plan.dv``'s positions as deletion-vector
    sidecars, record the change feed (each frame conformed to the
    published schema and labelled ``_change_type``), build the markers
    and publish through :func:`_commit_manifest`, closed segments by
    reference. Durable state (constraints, layout, writer progress) is
    carried by :func:`_commit_manifest`; every other marker is a fact
    of the commit that records it, never copied from the base.

    A lost CAS race with ``rebase_on_conflict`` (guarded mode only)
    re-targets the already-staged commit at the new latest: an append,
    which reads nothing and so commutes with every data commit, through
    :func:`_commit_blind_append`; every other op through
    :func:`_rebase`. Without it the :class:`LostRace` propagates."""
    import math
    from functools import reduce

    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(plan.schema_json)
    new_entries = [] if plan.rows is None else _stage_data_files(
        plan.rows, path, _schema_mapping(schema),
        partition_by=table_partitioning(path, version=plan.base_v),
        files_per_partition=plan.files_per_partition,
    )
    touched_out: list[dict] = []
    dv_rels: list[str] = []
    if plan.dv is not None:
        positions, counts = plan.dv
        dv_rels = _stage_aux_files(
            positions, path, kind="dv",
            n_files=max(1, math.ceil(sum(counts.values()) / 5_000_000)),
        )
        touched_out = _extend_dvs(plan.touched, counts, dv_rels)
    kept = plan.carried + touched_out
    commit_meta = {
        "op": plan.op,
        "n_files_rewritten": str(0 if plan.dv else len(plan.touched)),
        **_carried_markers(len(kept), plan.closed_refs, plan.n_segments),
        **plan.markers,
    }
    if plan.op == "append":
        commit_meta["n_files_appended"] = str(len(new_entries))
    if plan.op == "delete":
        commit_meta["n_dv_files"] = str(len(dv_rels))
    if plan.changes:
        cdc = reduce(DataFrame.unionByName, [
            _conform(df, schema).withColumn("_change_type", F.lit(kind))
            for df, kind in plan.changes
        ])
        commit_meta["cdc_files"] = json.dumps(
            _stage_aux_files(cdc, path, kind="cdc")
        )
    commit_meta.update(meta or {})
    try:
        return _commit_manifest(
            path, plan.schema_json, kept + new_entries, commit_meta,
            expected_version, lock_timeout_s, reuse_refs=plan.closed_refs,
        )
    except LostRace:
        if not rebase_on_conflict or not isinstance(expected_version, int):
            raise
        if plan.op != "append":
            return _rebase(
                path, plan, touched_out, new_entries, commit_meta,
                lock_timeout_s,
            )
        return _commit_blind_append(
            path, new_entries, commit_meta, schema_json=plan.schema_json,
            constraints=snapshot_meta(
                path, "constraints", version=plan.base_v
            ),
            on_base=lambda latest: {
                "rebased_onto": str(latest),
                "n_rebased_over": str(latest - plan.base_v),
            },
            lock_timeout_s=lock_timeout_s,
        )


def _rebase(
    path: str,
    plan: _DmlPlan,
    touched_out: list[dict],
    new_entries: list[dict],
    commit_meta: dict,
    lock_timeout_s: float,
) -> int:
    """Resolve a LOST COMMIT RACE without re-deriving the commit —
    Delta-style logical conflict detection. The staged commit (data
    files or DV sidecars already pooled, manifest entries in hand) is
    re-targeted at the CURRENT latest snapshot L when the intervening
    commits provably cannot conflict; the rebase itself is pure
    driver-side manifest arithmetic plus one CAS — no Spark job, no
    data rewrite. Conditions checked against L:

    1. schema at L identical to the base's (a concurrent
       rename/evolution changes read semantics — refuse);
    2. CHECK-constraint marker unchanged (a new constraint must
       re-validate our staged rows — refuse);
    3. every touched base entry (files a merge rewrote, files a
       delete vectorized) appears in L IDENTICAL, deletion vectors
       included — a concurrent rewrite or DV would be silently undone
       or interleaved — refuse;
    4. every file ADDED since the base is provably disjoint from our
       keys, per ``plan.proof``: ``(stats_key, first_key_bounds,
       noun)`` checks the added files' footer stats against the key
       interval (NaN or stats-unsafe keys refusing); ``None`` (a
       predicate delete, opaque to stats) refuses any added file.

    When all hold, re-running the commit on L would select exactly the
    same files and stage exactly our output, so L's entries minus the
    touched ones, plus ``touched_out`` (the vectorized versions) and
    ``new_entries``, IS the serial result; files carried from L keep
    whatever a concurrent writer gave them. Recorded change-feed files
    stay valid for the same reason. Refusals raise
    :class:`CommitConflict`; the caller's OCC loop falls back to a full
    re-derive. A rebase that itself loses the publish race re-checks
    against the newer latest (:func:`_retry_lost_races`).

    Cost per try: the base's and L's kilobyte top-level manifests, plus
    only three kinds of segment file — those the plan itself opened
    (where every touched file lives), L's segments the base lacks (the
    only place an added file can be) and the base's segments L lacks
    (where a touched file may have changed). Every other segment of L
    rides into the commit BY REFERENCE, unopened; only the opened
    entries re-chunk. So a race costs O(touched + concurrently changed
    segments) driver JSON, not O(table manifest); the commit records
    ``n_segments_total``/``n_segments_opened`` against L like a
    first-CAS commit. A legacy flat base manifest has no refs to match,
    so it opens every segment of L, as a full read would."""
    base_refs = plan.man.get("segments", [])
    in_base = {r["path"] for r in base_refs}
    closed = {r["path"] for r in plan.closed_refs}
    touched = {e["path"] for e in plan.touched}
    base_constraints = snapshot_meta(path, "constraints", version=plan.base_v)

    def attempt() -> int:
        latest = latest_version(path)
        if latest is None:
            raise CommitConflict(
                f"rebase refused: table at {path} has no committed version"
            )
        with open(os.path.join(path, f"v={latest}", _MANIFEST_NAME)) as f:
            raw = json.load(f)
        if raw["schema"] != plan.man["schema"]:
            raise CommitConflict(
                "rebase refused: concurrent commit changed the table "
                f"schema between v{plan.base_v} and v{latest}"
            )
        if snapshot_meta(path, "constraints", version=latest) != (
            base_constraints
        ):
            raise CommitConflict(
                "rebase refused: concurrent commit changed CHECK "
                f"constraints between v{plan.base_v} and v{latest}"
            )
        l_refs = raw.get("segments", [])
        in_l = {r["path"] for r in l_refs}
        keep = [r for r in l_refs if r["path"] in closed]
        # L's refs the base lacks (a legacy flat L's inline entries
        # count as such), and the plan's opened refs L still holds
        fresh = raw.get("files", []) + _ref_entries(
            path, [r for r in l_refs if r["path"] not in in_base]
        )
        reopened = _ref_entries(
            path,
            [r for r in l_refs if r["path"] in in_base - closed],
        )
        gone = {
            e["path"]
            for e in plan.man.get("files", []) + _ref_entries(
                path, [r for r in base_refs if r["path"] not in in_l]
            )
        }
        l_by_path = {e["path"]: e for e in reopened + fresh}
        for e in sorted(plan.touched, key=lambda e: e["path"]):
            if l_by_path.get(e["path"]) != e:
                raise CommitConflict(
                    "rebase refused: concurrent commit touched "
                    f"{'vectorized' if plan.dv else 'rewritten'} file "
                    f"{e['path']}"
                )
        added = [e for e in fresh if e["path"] not in gone]
        if added and plan.proof is None:
            raise CommitConflict(
                "rebase refused: concurrent commit added "
                f"{len(added)} file(s) and a predicate delete "
                "cannot prove disjointness"
            )
        if added:
            stats_key, bounds, noun = plan.proof
            if bounds[3]:  # all-NULL keys match nothing anywhere
                if not _bounds_usable(bounds):
                    raise CommitConflict(
                        f"rebase refused: {noun} keys not provably "
                        "disjoint from concurrently added files (NaN or "
                        "stats-unsafe key type)"
                    )
                overlap, _ = _interval_split(added, stats_key, *bounds[:2])
                if overlap:
                    raise CommitConflict(
                        f"rebase refused: {len(overlap)} concurrently added "
                        f"file(s) may contain {noun} keys"
                    )
        kept = [
            e for e in reopened + fresh if e["path"] not in touched
        ] + touched_out
        meta2 = {
            **commit_meta,
            **_carried_markers(
                len(kept), keep, len(l_refs) if "segments" in raw else None
            ),
            "rebased_onto": str(latest),
            "n_rebased_over": str(latest - plan.base_v),
        }
        return _commit_manifest(
            path, plan.schema_json, kept + new_entries, meta2, latest,
            lock_timeout_s, reuse_refs=keep,
        )

    return _retry_lost_races(attempt, f"rebase at {path}")


def _in_table_types(df: DataFrame, schema, prefix: str = "") -> DataFrame:
    """``df`` with every column the table also has cast to the table's
    type, each renamed ``prefix + name``. Pooled files then never fork
    physical types (an int batch into a long column), and key bounds
    live in the table's type domain, so they compare cleanly against
    manifest stats (raw bounds of a castable-but-different key type
    would cross-type-compare, or derive buckets from a different
    canonical form than the rows a coercing join matches)."""
    from pyspark.sql import functions as F

    types = {f.name: f.dataType for f in schema.fields}
    return df.select(
        *[
            (F.col(c).cast(types[c]) if c in types else F.col(c))
            .alias(prefix + c)
            for c in df.columns
        ]
    )


def _key_join(df: DataFrame, other: DataFrame, keys: list[str], how: str):
    """``df``'s rows whose key tuple is (``left_semi``) or is not
    (``left_anti``) among ``other``'s distinct key tuples."""
    return df.join(other.select(*keys).distinct(), keys, how)


def _keyed_plan(
    spark: SparkSession,
    path: str,
    base_v: int,
    man: dict,
    key_frame: DataFrame,
    keys: list[str],
    mapping: dict[str, str],
    schema,
) -> tuple[_DmlPlan, DataFrame | None]:
    """The plan MERGE and UPSERT share: the key candidates of
    ``key_frame`` (:func:`_plan_key_candidates`) become the touched
    files, rewritten away, and the rebase proof is the first key's
    bounds. Also returns the candidate SLICE, read DV-aware so a
    candidate file's deleted rows never resurrect through the rewrite
    (None when no file can hold a key)."""
    closed_refs, cand, carried, n_segments, bounds0 = _plan_key_candidates(
        spark, path, base_v, man, key_frame, keys, mapping
    )
    plan = _DmlPlan(
        "merge", base_v, man, man["schema"], closed_refs, n_segments,
        carried, touched=cand,
        proof=(mapping.get(keys[0], keys[0]), bounds0, "update"),
    )
    return plan, (_read_entries(spark, path, cand, schema) if cand else None)


def versioned_upsert(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    meta: dict[str, str] | None = None,
    evolve_schema: bool = False,
    expected_version: int | None | object = _UNGUARDED,
    lock_timeout_s: float = 600.0,
    change_feed: bool = False,
    rebase_on_conflict: bool = False,
) -> int:
    """MERGE as a snapshot commit: next version = (current rows not
    matching an update key) ∪ updates. The current snapshot is read,
    never mutated — a failed upsert leaves the table exactly as it was.
    Unlike :func:`versioned_merge`, every update row lands, duplicates
    for one key included, and a target row matching an update key is
    replaced however many copies of it the table holds.

    ``rebase_on_conflict=True`` (guarded mode only): a lost
    compare-and-swap race first attempts a METADATA-ONLY rebase onto
    the new latest (:func:`_rebase`) — if the intervening
    commits provably don't conflict (schema/constraints unchanged,
    our rewritten files untouched, added files key-disjoint by
    stats), the already-staged output commits against the new base
    with no Spark job and no data rewrite. Refused rebases raise
    :class:`CommitConflict` exactly as before, so OCC loops fall back
    to a full re-derive.

    ``change_feed=True`` additionally records the commit's LOGICAL
    changes (insert / update_preimage / update_postimage rows) as
    ``cdc-*`` pool files referenced from the commit's ``cdc_files``
    marker — the write-side half of :func:`versioned_change_feed`.
    Without it, a physical file diff cannot recover logical changes (a
    partial rewrite rewrites unchanged neighbor rows too), and the
    read-side fallback pays a full snapshot diff.

    PARTIAL REWRITE (the Delta/Iceberg write economics): only data
    files whose per-file stats can contain a matched key are read,
    anti-joined, and rewritten (:func:`_plan_key_candidates`); every
    other file is carried into the new manifest by reference. A 1-row
    upsert on a key-clustered 100 TB table therefore writes one file
    plus a kilobyte manifest — against ~O(table) for the naive
    read-all/rewrite-all merge. The first key column prunes segments
    and files, every further key column prunes files by its interval
    (sound for composite keys: a file disjoint on any key column
    cannot hold a full-tuple match); cluster the table on the first
    key (sources/skipping.write_clustered) for tight file ranges. The
    commit records ``n_files_rewritten`` /
    ``n_files_carried`` markers, so the economics are auditable from
    :func:`versioned_history`.

    ``evolve_schema=True`` permits ADDITIVE schema changes in either
    direction: columns new in ``updates`` appear in the committed
    snapshot with NULLs for the kept rows, and columns absent from
    ``updates`` survive with NULLs for the update rows — Delta's
    mergeSchema semantics. Carried files are NOT rewritten for an
    evolution; the read path NULL-fills from the manifest schema.
    Earlier snapshots keep their own schema. The default stays
    strict: a drifted schema is more often a bug than an evolution.

    ``expected_version`` (internal to the OCC loop) pins the base
    snapshot AND turns the commit into a compare-and-swap on it."""
    from pyspark.sql.types import StructType

    base_v, man = _base_snapshot(path, expected_version)
    table_schema = StructType.fromJson(man["schema"])
    table_cols = [f.name for f in table_schema.fields]
    upd_cols = set(updates.columns)
    if upd_cols != set(table_cols) and not evolve_schema:
        raise ValueError(
            f"upsert schema {sorted(upd_cols)} differs from table schema "
            f"{sorted(table_cols)} at {path} — pass evolve_schema=True for "
            "additive evolution"
        )
    # evolved schema: table fields, then updates' new fields (order
    # mirrors unionByName(allowMissingColumns=True))
    new_fields = list(table_schema.fields)
    for fld in updates.schema.fields:
        if fld.name not in set(table_cols):
            new_fields.append(fld)
    # physical-name discipline: evolved columns must not collide with
    # any physical name a rename left behind in the pooled files, nor
    # with a DROPPED column's physical (its bytes still sit in
    # pre-drop files — a collision would resurrect them)
    retired = json.loads(
        snapshot_meta(path, "retired_physicals", version=base_v) or "[]"
    )
    # a physical name the CURRENT schema actively uses is live, not
    # retired — a RESTORE across a DROP COLUMN re-publishes the
    # column under its original physical, and treating that name as
    # reserved would remap the live column to a fresh physical and
    # silently NULL it for every carried file (whole-column data
    # loss through drop → restore → upsert)
    live_phys = {
        (f.metadata or {}).get("physical", f.name)
        for f in table_schema.fields
    }
    new_schema = _ensure_unique_physicals(
        StructType(new_fields), reserved=set(retired) - live_phys
    )
    mapping = _schema_mapping(new_schema)
    # aligned BEFORE any stats pruning (see _in_table_types)
    aligned = _in_table_types(updates, table_schema)
    plan, slice_df = _keyed_plan(
        spark, path, base_v, man, aligned, keys, mapping, table_schema
    )
    plan.schema_json = new_schema.jsonValue()
    plan.rows = aligned if slice_df is None else _key_join(
        slice_df, aligned, keys, "left_anti"
    ).unionByName(aligned, allowMissingColumns=evolve_schema)
    if change_feed:
        # Delta-CDF-style write-side change recording: classify the
        # update rows against the candidate slice's EXISTING keys
        # (matched → update_preimage + update_postimage, unmatched →
        # insert). Preimages come from the same candidate slice the
        # merge reads anyway — never the carried files — and make the
        # feed self-sufficient for consumers that need OLD values
        # (IVM sum folding, digest maintenance) without a time-travel
        # join back into the base.
        if slice_df is None:
            plan.changes = [(aligned, "insert")]
        else:
            plan.changes = [
                (_key_join(aligned, slice_df, keys, "left_anti"), "insert"),
                (
                    _key_join(slice_df, aligned, keys, "left_semi"),
                    "update_preimage",
                ),
                (
                    _key_join(aligned, slice_df, keys, "left_semi"),
                    "update_postimage",
                ),
            ]
    return _dml_commit(
        path, plan, meta=meta, expected_version=expected_version,
        lock_timeout_s=lock_timeout_s, rebase_on_conflict=rebase_on_conflict,
    )


def versioned_merge(
    spark: SparkSession,
    path: str,
    source: DataFrame,
    keys: list[str],
    *,
    when_matched_update: str | None = "TRUE",
    when_matched_delete: str | None = None,
    when_not_matched_insert: str | None = "TRUE",
    update_set: dict[str, str] | None = None,
    meta: dict[str, str] | None = None,
    expected_version: int | None | object = _UNGUARDED,
    lock_timeout_s: float = 600.0,
    change_feed: bool = False,
    rebase_on_conflict: bool = False,
) -> int:
    """Full MERGE INTO clause semantics as one snapshot commit —
    Delta's ``WHEN MATCHED [AND cond] THEN UPDATE/DELETE, WHEN NOT
    MATCHED [AND cond] THEN INSERT`` — with the same partial-rewrite
    economics as :func:`versioned_upsert`: only key-matched candidate
    files are read and rewritten, every other file rides into the new
    manifest by reference (sound because :func:`_plan_key_candidates`
    proves carried files can hold no matched key, so every clause
    decision happens inside the candidate slice).

    Conditions and ``update_set`` expressions are SQL strings
    evaluated over the MATCHED pair: target columns under their own
    names, source columns prefixed ``src_``. Clause precedence is
    Delta's: a matched pair first tests ``when_matched_delete``, then
    ``when_matched_update`` (``update_set`` maps target column →
    expression; None replaces the whole row with the source's
    columns); a matched pair satisfying neither keeps the target row
    unchanged. Unmatched SOURCE rows insert iff
    ``when_not_matched_insert`` (evaluated over ``src_``-prefixed
    columns); unmatched TARGET rows always survive. Source must carry
    the target's exact schema (no evolution on this path — use
    :func:`versioned_upsert` for that). Multiple source rows matching
    one target key are rejected loudly (SQL MERGE's cardinality
    violation) — last-writer-wins silent nondeterminism is how
    replicas diverge. ``rebase_on_conflict`` as in
    :func:`versioned_upsert`.

    Matched-DELETEs here are rewrite-style, not deletion vectors: the
    candidate files are being rewritten anyway, so dropping the rows
    is free; use :func:`versioned_delete` when deletes should touch
    no data file at all."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    base_v, man = _base_snapshot(path, expected_version)
    table_schema = StructType.fromJson(man["schema"])
    table_cols = [f.name for f in table_schema.fields]
    if not set(table_cols) <= set(source.columns):
        raise ValueError(
            f"merge source schema {sorted(source.columns)} lacks table "
            f"columns {sorted(set(table_cols) - set(source.columns))} at "
            f"{path}"
        )
    # EXTRA source columns are legal: they participate in clause
    # conditions (src_-prefixed) but never reach the table — the
    # changelog-apply shape, where an __op column drives the clauses
    table_type = {f.name: f.dataType for f in table_schema.fields}
    src = _in_table_types(source, table_schema, prefix="src_")
    # cardinality guard: one source row per key, or the merge is
    # nondeterministic — fail loudly like SQL MERGE
    dup = (
        src.groupBy(*[f"src_{k}" for k in keys])
        .count()
        .filter(F.col("count") > 1)
        .limit(1)
        .collect()
    )
    if dup:
        raise ValueError(
            f"merge source has multiple rows for key "
            f"{[dup[0][f'src_{k}'] for k in keys]} — SQL MERGE cardinality "
            "violation"
        )
    key_src = src.select(*[F.col(f"src_{k}").alias(k) for k in keys])
    plan, slice_df = _keyed_plan(
        spark, path, base_v, man, key_src, keys,
        _schema_mapping(table_schema), table_schema,
    )

    upd_cond = F.expr(when_matched_update) if when_matched_update else F.lit(False)
    del_cond = F.expr(when_matched_delete) if when_matched_delete else F.lit(False)
    ins_cond = (
        F.expr(when_not_matched_insert)
        if when_not_matched_insert
        else F.lit(False)
    )
    if update_set is None:
        update_set = {c: f"src_{c}" for c in table_cols}
    upd_proj = [
        F.expr(update_set[c]).cast(table_type[c]).alias(c)
        if c in update_set
        else F.col(c)
        for c in table_cols
    ]

    # three-valued clause semantics: only a condition that evaluates
    # TRUE fires its clause — NULL (e.g. a NULL op column) must behave
    # like FALSE, never like "delete". Coalescing to FALSE before
    # negating keeps survivors (~deleted) and the change feed
    # (deleted) exact complements, so data and CDF can never diverge.
    deleted = F.coalesce(del_cond.cast("boolean"), F.lit(False))
    inserts = src.select(
        *[F.col(f"src_{c}").alias(c) for c in table_cols],
        ins_cond.alias("__ins"),
    )
    if slice_df is not None:
        j = slice_df.join(
            src.withColumn("__src_present", F.lit(True)),
            [F.col(k) == F.col(f"src_{k}") for k in keys],
            "left",
        )
        matched = F.col("__src_present").isNotNull()
        pairs = j.filter(matched)
        # precedence: delete first, then update, else keep unchanged
        survivors = pairs.filter(~deleted).select(
            *[
                F.when(upd_cond, p).otherwise(F.col(c)).alias(c)
                for c, p in zip(table_cols, upd_proj)
            ]
        )
        rewritten = j.filter(~matched).select(*table_cols).unionByName(
            survivors
        )
        inserts = _key_join(inserts, pairs, keys, "left_anti")
    inserts = inserts.filter(F.col("__ins")).drop("__ins")
    plan.rows = (
        inserts if slice_df is None else rewritten.unionByName(inserts)
    )
    if change_feed:
        # clause-accurate CDF recording: deletes and update preimages
        # carry TARGET values, update postimages the projected values,
        # inserts the admitted source rows — another pass over the
        # candidate files the merge reads anyway
        plan.changes = [(inserts, "insert")]
        if slice_df is not None:
            upd_pairs = pairs.filter(~deleted & upd_cond)
            plan.changes += [
                (pairs.filter(deleted).select(*table_cols), "delete"),
                (upd_pairs.select(*table_cols), "update_preimage"),
                (upd_pairs.select(*upd_proj), "update_postimage"),
            ]
    return _dml_commit(
        path, plan, meta=meta, expected_version=expected_version,
        lock_timeout_s=lock_timeout_s, rebase_on_conflict=rebase_on_conflict,
    )


def versioned_merge_concurrent(
    spark: SparkSession,
    path: str,
    updates: DataFrame,
    keys: list[str],
    *,
    meta: dict[str, str] | None = None,
    max_retries: int = 5,
    backoff_s: float = 0.1,
    evolve_schema: bool = False,
) -> int:
    """MERGE safe under CONCURRENT writers: read the latest snapshot
    (pinned by version), derive merged = (rows not matching an update
    key) ∪ updates, and commit with compare-and-swap on that base
    version. A lost race (:class:`LostRace`) always first
    attempts a METADATA-ONLY rebase onto the new latest
    (:func:`_rebase`): when the intervening commits provably
    don't conflict — the common case for writers on disjoint key
    ranges — the staged output lands with one more manifest CAS and
    ZERO re-derivation. Only a refused rebase re-reads the NEW
    latest and re-derives the merge — the standard optimistic
    transaction loop, so N writers upserting disjoint keys all land
    and serialize into N consecutive versions with no lost updates
    (unit-pinned with racing threads). Exponential backoff between
    attempts; raises the final conflict after ``max_retries`` losses.

    Semantic note: concurrent writers that touch the SAME key
    serialize too — last committer wins that key, exactly like
    sequential upserts in commit order. Readers are unaffected
    throughout (pointer-swap isolation)."""
    last: CommitConflict | None = None
    for attempt in range(max_retries + 1):
        base = latest_version(path)
        try:
            if base is None:
                return versioned_write(
                    updates, path, meta=meta, expected_version=None
                )
            # partial-rewrite merge pinned to the base manifest; the
            # commit CASes on the same version, so a racing writer's
            # carried-file set can never be stitched to ours
            return versioned_upsert(
                spark, path, updates, keys,
                meta=meta, evolve_schema=evolve_schema,
                expected_version=base,
                rebase_on_conflict=True,
            )
        except CommitConflict as e:
            last = e
            time.sleep(backoff_s * (2**attempt))
    raise CommitConflict(
        f"merge at {path} lost {max_retries + 1} commit races; last: {last}"
    )


def versioned_append(
    spark: SparkSession,
    path: str,
    batch: DataFrame,
    *,
    meta: dict[str, str] | None = None,
    expected_version: int | None | object = _UNGUARDED,
    lock_timeout_s: float = 600.0,
    change_feed: bool = False,
    rebase_on_conflict: bool = False,
) -> int:
    """Blind APPEND as a snapshot commit: stage the batch's files into
    the pool and commit a manifest of (every current file, by
    reference) + (the new files). O(batch) data written however large
    the table — the ingest op for insert-only feeds (event logs, crawl
    fetches) where the MERGE anti-join would be pure waste. No key
    semantics: duplicates are appended verbatim (dedup is an explicit
    upstream stage, exactly the reference's pre-dedup COPY contract).

    Schema must match the table exactly (columns by name; values cast
    to the table's physical types so pooled files never fork).
    ``change_feed=True`` records the batch itself as ``insert`` rows —
    the cheapest possible CDF recording, one extra write of the batch.
    ``rebase_on_conflict=True`` (guarded mode only): a lost CAS race
    re-targets the staged files at the new latest through
    :func:`_commit_blind_append` (refused on a schema or CHECK change)."""
    from pyspark.sql.types import StructType

    base_v, raw = _base_snapshot(path, expected_version)
    table_schema = StructType.fromJson(raw["schema"])
    table_cols = [f.name for f in table_schema.fields]
    if set(batch.columns) != set(table_cols):
        raise ValueError(
            f"append schema {sorted(batch.columns)} differs from table "
            f"schema {sorted(table_cols)} at {path}"
        )
    aligned = _in_table_types(batch, table_schema)
    # segment-diff: EVERY base segment rides by reference — an append
    # never reads, parses, or re-serializes existing metadata; legacy
    # flat manifests re-chunk once and segment from then on
    plan = _DmlPlan(
        "append", base_v, raw, raw["schema"], raw.get("segments", []), None,
        raw.get("files", []), rows=aligned,
        changes=[(aligned, "insert")] if change_feed else [],
    )
    return _dml_commit(
        path, plan, meta=meta, expected_version=expected_version,
        lock_timeout_s=lock_timeout_s, rebase_on_conflict=rebase_on_conflict,
    )


def _utc_epoch_day(v) -> "datetime.date":
    """The UTC calendar day of a Python datetime's EPOCH — the exact
    inverse of :func:`_day_expr`'s write-side stamp. Naive datetimes
    convert to Spark timestamps through the SYSTEM zone (PySpark's
    literal/createDataFrame conversion — verified, not session tz),
    so ``.timestamp()`` (same system-zone rule) reproduces the epoch
    the residual predicate will compare against; aware datetimes are
    exact by definition."""
    import datetime as _dt
    import math

    return _dt.date(1970, 1, 1) + _dt.timedelta(
        days=math.floor(v.timestamp() / 86400.0)
    )


def _as_date(v, dtype=None):
    """Coerce a bound value toward the day-partition stats domain:
    datetime → the day :func:`_day_expr` would stamp for it (UTC
    epoch day for TIMESTAMP sources, wall date for TIMESTAMP_NTZ),
    ISO string → date, date passes; anything else returns None (no
    derivation possible)."""
    import datetime as _dt

    from pyspark.sql.types import TimestampNTZType

    if isinstance(v, _dt.datetime):
        if isinstance(dtype, TimestampNTZType):
            return v.date()  # NTZ wall time IS the value
        return _utc_epoch_day(v)
    if isinstance(v, _dt.date):
        return v
    if isinstance(v, str):
        try:
            return _dt.date.fromisoformat(v)
        except ValueError:
            return None
    return None


def _resolve_bounds(
    bounds: dict, schema, mapping: dict[str, str], spec: list[str]
) -> list[dict]:
    """Resolve a user bounds dict against the schema AND the partition
    spec into pruning/predicate units:

    ``{"key": stats-name, "expr": (() -> Column)|None, "lo", "hi",
    "coverage": bool}``

    ``expr`` builds the residual column only when called (by
    :func:`_bounds_predicate`), so resolving — and planning through
    :func:`_plan_read` — needs no JVM: the connector resolves its
    pushed filters inside Spark's Python planning worker.

    - a REAL column bounds itself (stats under its physical name,
      residual predicate on the column). If it is also the SOURCE of
      a ``date()`` hidden partition, a PRUNE-ONLY derived bound on
      the virtual target is added for free — date() is monotone, so
      ``ts ∈ [lo, hi] ⇒ day ∈ [date(lo), date(hi)]`` — which is what
      lets a raw-timestamp bound skip day partitions even though
      timestamp footer stats are never recorded (Iceberg's hidden
      partitioning). Derived bounds prove disjointness, never
      coverage (a covered day can hold timestamps outside the
      bound).
    - the TARGET of a ``date()`` transform may be bounded directly
      (``{"day": d}``): stats are the exact per-file day values, and
      the residual predicate evaluates ``to_date(source)`` — real
      columns only, so boundary/legacy files still filter exactly.

    An IN-LIST bound (``{"source": ["web", "books"]}``) prunes by the
    interval [min, max] of the list PLUS exact per-file set
    membership where stats pin a single value (partition files:
    ``min == max``) — a multi-day read opens exactly the listed
    days' files, not the span between them.

    Point values become degenerate intervals; None bounds refused
    (range predicates are null-rejecting)."""
    from pyspark.sql import functions as F

    if not bounds:
        raise ValueError("bounds dict is empty")
    names = {f.name for f in schema.fields}
    parsed_spec = _parse_partition_spec(spec)
    # monotone hidden transforms (date/month/hour/truncate): a range
    # bound on the SOURCE derives a prune-only range on each target;
    # one source may feed several targets (day + month across epochs)
    mono = {t: (s, tr) for t, s, tr in parsed_spec if _is_mono(tr)}
    sources_mono: dict[str, list[tuple[str, str]]] = {}
    for t, (s, tr) in mono.items():
        sources_mono.setdefault(s, []).append((t, tr))
    buckets = {
        t: (s, int(tr[len("bucket["):-1]))
        for t, s, tr in parsed_spec
        if tr.startswith("bucket[")
    }
    bucket_sources = {s: (t, n) for t, (s, n) in buckets.items()}
    dtypes = {f.name: f.dataType for f in schema.fields}
    out: list[dict] = []
    for col, b in bounds.items():
        raw_vals = None
        if isinstance(b, (list, set, frozenset)):
            raw_vals = sorted(set(b), key=repr)
            if not raw_vals or any(v is None for v in raw_vals):
                raise ValueError(
                    f"IN-list bound for {col!r} must be non-empty and "
                    "NULL-free (IN is null-rejecting)"
                )
            lo, hi = min(raw_vals), max(raw_vals)
        else:
            lo, hi = b if isinstance(b, tuple) else (b, b)
        if lo is None and hi is None:
            raise ValueError(
                f"bound for {col!r} is (None, None) — range predicates "
                "are null-rejecting; use an explicit IS NULL predicate "
                "string to target NULL rows"
            )
        if not isinstance(b, tuple) and (lo is None or hi is None):
            raise ValueError(
                f"point bound for {col!r} is None — range predicates "
                "are null-rejecting; use an explicit IS NULL predicate "
                "string to target NULL rows"
            )

        def unit(key, expr, lo_, hi_, vals, coverage):
            u = {"key": key, "expr": expr, "lo": lo_, "hi": hi_,
                 "coverage": coverage}
            if vals is not None:
                u["vals"] = {_stat_encode(v) for v in vals}
                u["raw_vals"] = list(vals)
            return u

        if col in names:
            out.append(unit(
                mapping.get(col, col), lambda c=col: F.col(c), lo, hi,
                raw_vals, True,
            ))
            src_t = dtypes[col]
            for target, tr in sources_mono.get(col, []):
                # monotone: each present side derives; an OPEN side
                # stays open on the target too
                dlo = None if lo is None else _derived_value(tr, lo, src_t)
                dhi = None if hi is None else _derived_value(tr, hi, src_t)
                ok_lo = lo is None or dlo is not None
                ok_hi = hi is None or dhi is not None
                if ok_lo and ok_hi and not (dlo is None and dhi is None):
                    dvals = None
                    if raw_vals is not None:
                        dset = [
                            _derived_value(tr, v, src_t) for v in raw_vals
                        ]
                        dvals = dset if all(
                            d is not None for d in dset
                        ) else None
                    out.append(unit(target, None, dlo, dhi, dvals, False))
            bt = bucket_sources.get(col)
            if bt is not None:
                # bucket is NOT monotone: only EQUALITY bounds derive —
                # a point value pins one bucket, an IN-list pins the
                # bucket set (prune-only; the real-column unit above
                # already carries the exact residual)
                btarget, n = bt
                # derive only when the bound's Python type matches the
                # source column type — see _bucket_bound_ok
                safe = lambda v: _bucket_bound_ok(v, src_t)  # noqa: E731
                if raw_vals is not None and all(safe(v) for v in raw_vals):
                    bvals = sorted({_bucket_of(v, n) for v in raw_vals})
                    out.append(unit(
                        btarget, None, min(bvals), max(bvals), bvals,
                        False,
                    ))
                elif raw_vals is None and lo == hi and safe(lo):
                    b = _bucket_of(lo, n)
                    out.append(unit(btarget, None, b, b, None, False))
        elif col in buckets:
            # direct bound on the bucket target: exact residual via
            # the bucket expression over the real source column
            bsrc, n = buckets[col]
            bexpr = lambda s=bsrc, n=n: _bucket_expr(F.col(s), n)  # noqa: E731
            out.append(unit(col, bexpr, lo, hi, raw_vals, True))
        elif col in mono:
            src, tr = mono[col]
            texpr = lambda s=src, t=tr, d=dtypes[src]: (  # noqa: E731
                _hidden_expr(t, F.col(s), d)[0]
            )
            if tr == "date":
                # day targets coerce to the date domain (ISO strings
                # and datetimes accepted); other transforms take the
                # label values literally
                if raw_vals is not None:
                    dvals = [_as_date(v) for v in raw_vals]
                    if any(d is None for d in dvals):
                        raise ValueError(
                            f"IN-list for hidden partition {col!r} must "
                            f"be dates/ISO strings, got {raw_vals!r}"
                        )
                    out.append(unit(
                        col, texpr, min(dvals), max(dvals), dvals, True,
                    ))
                    continue
                dlo = None if lo is None else _as_date(lo)
                dhi = None if hi is None else _as_date(hi)
                if (lo is not None and dlo is None) or (
                    hi is not None and dhi is None
                ):
                    raise ValueError(
                        f"bound for hidden partition {col!r} must be a "
                        f"date/ISO string, got {(lo, hi)!r}"
                    )
                out.append(unit(col, texpr, dlo, dhi, None, True))
            else:
                out.append(unit(col, texpr, lo, hi, raw_vals, True))
        else:
            raise KeyError(
                f"bound column {col!r} is neither a table column "
                f"({sorted(names)}) nor a hidden partition target "
                f"({sorted([*mono, *buckets])})"
            )
    return out


def _bounds_predicate(resolved: list[dict]):
    from functools import reduce
    from operator import and_

    from pyspark.sql import functions as F

    preds = []
    for u in resolved:
        if u["expr"] is None:
            continue
        expr = u["expr"]()
        if "raw_vals" in u:
            preds.append(expr.isin(u["raw_vals"]))
            continue
        if u["lo"] is not None:
            preds.append(expr >= F.lit(u["lo"]))
        if u["hi"] is not None:
            preds.append(expr <= F.lit(u["hi"]))
    if not preds:
        return F.lit(True)
    return reduce(and_, preds)


def _classify_for_delete(
    entries: list[dict], resolved: list[dict]
) -> tuple[list[dict], list[dict], list[dict]]:
    """Split entries for a bounds-dict DELETE into (scan, carried,
    dropped). DROPPED files' stats PROVE every live row satisfies all
    coverage-capable bounds: ``min >= lo and max <= hi`` with an
    exact ZERO null count (NULL never satisfies a range predicate, so
    a null-bearing or null-count-unknown file can only be scanned).
    CARRIED files provably hold no matching row (ANY bound — derived
    prune-only bounds included — proving disjointness suffices).
    Exact on partition columns (injected ``min == max`` stats, nulls
    0); conservative footer intervals elsewhere — stats imprecision
    can only demote a file to the scan, never misclassify it."""
    scan: list[dict] = []
    carried: list[dict] = []
    dropped: list[dict] = []
    for e in entries:
        if e.get("rows") == 0:
            carried.append(e)
            continue
        covered_all = True
        disjoint = False
        for u in resolved:
            lo_e, hi_e = _stat_encode(u["lo"]), _stat_encode(u["hi"])
            st = (e.get("stats") or {}).get(u["key"]) or {}
            mn, mx = st.get("min"), st.get("max")
            # the bound's exact value set, when it has one: an IN-list,
            # or a degenerate point interval
            bset = u.get("vals")
            if bset is None and lo_e is not None and lo_e == hi_e:
                bset = {lo_e}
            # recorded per-file EXACT value set (versioned_value_index)
            # — NULL-free by construction, so membership disjointness
            # is sound (range/IN predicates are null-rejecting) and
            # containment + exact zero nulls proves coverage
            evals = st.get("vals")
            u_cov = False
            try:
                if evals is not None:
                    es = set(evals)
                    if (
                        bset is not None
                        and _member_provable(es, bset)
                        and not (es & set(bset))
                    ):
                        disjoint = True
                        break
                    if (lo_e is not None and all(v < lo_e for v in es)) or (
                        hi_e is not None and all(v > hi_e for v in es)
                    ):
                        disjoint = True
                        break
                    if u["coverage"] and st.get("nulls") == 0:
                        if bset is not None:
                            u_cov = es <= set(bset)
                        else:
                            u_cov = all(
                                (lo_e is None or v >= lo_e)
                                and (hi_e is None or v <= hi_e)
                                for v in es
                            )
                if (
                    mn is None
                    or mx is None
                    or _stat_nan(mn)
                    or _stat_nan(mx)
                ):
                    if u["coverage"] and not u_cov:
                        covered_all = False
                    continue
                if (lo_e is not None and mx < lo_e) or (
                    hi_e is not None and mn > hi_e
                ):
                    disjoint = True
                    break
                if (
                    bset is not None
                    and mn == mx
                    and _member_provable([mn], bset)
                    and mn not in bset
                ):
                    # single-valued file (partition layout) outside
                    # the IN-list: provably no matching row
                    disjoint = True
                    break
                if (
                    bset is not None
                    and st.get("bloom") is not None
                    and _bloom_absent(st["bloom"], bset)
                ):
                    # bloom tier: every sought value provably absent
                    disjoint = True
                    break
                if not u["coverage"]:
                    continue  # prune-only: disjointness proof only
                if not u_cov:
                    if bset is not None and u.get("vals") is not None:
                        u_cov = (
                            mn == mx
                            and mn in bset
                            and st.get("nulls") == 0
                        )
                    elif u.get("vals") is None:
                        u_cov = (
                            (lo_e is None or mn >= lo_e)
                            and (hi_e is None or mx <= hi_e)
                            and st.get("nulls") == 0
                        )
                if not u_cov:
                    covered_all = False
            except TypeError:  # cross-type compare proves nothing
                if u["coverage"] and not u_cov:
                    covered_all = False
        if disjoint:
            carried.append(e)
        elif covered_all:
            dropped.append(e)
        else:
            scan.append(e)
    return scan, carried, dropped


def versioned_delete(
    spark: SparkSession,
    path: str,
    condition,
    *,
    meta: dict[str, str] | None = None,
    expected_version: int | None | object = _UNGUARDED,
    lock_timeout_s: float = 600.0,
    change_feed: bool = False,
    rebase_on_conflict: bool = False,
) -> int:
    """DELETE as a merge-on-read commit — the Delta deletion-vector
    design: matching rows are recorded as (file, row-position) pairs in
    small DV sidecar files, and the new manifest carries every data
    file BY REFERENCE with its DV list extended. **No data file is
    rewritten** — a predicate delete touching 0.1% of a 100 TB table
    writes kilobytes of positions plus a manifest, against O(matched
    files) for a rewrite-style MERGE and O(table) for a naive one. The
    read side (:func:`_read_entries`) anti-joins the vectors on exact
    row identity; :func:`versioned_compact` materializes them away
    (its rewrite goes through the DV-applied read, so the compacted
    snapshot carries no vectors).

    ``condition`` is a Column or SQL string over the table's columns,
    or a key DataFrame — rows whose key tuple (the frame's column set)
    appears in it are deleted via a semi-join, the replica-sync /
    feed-apply shape — or a BOUNDS DICT (column → value or
    ``(lo, hi)``, ANDed): the partition-drop shape. With a dict,
    files whose stats PROVE every live row matches (exact on
    partition columns: ``min == max == value``, zero nulls) are
    dropped from the manifest OUTRIGHT — no scan, no DV, no data IO:
    deleting one day from a day-partitioned 100 TB table is a
    kilobyte commit (Hive's DROP PARTITION / Delta's partition-DELETE
    fast path). Provably-disjoint files are carried unopened; only
    boundary files are scanned and vectorized. Rows already deleted
    by an earlier DV never re-match (the matching scan is itself
    DV-applied), so overlapping deletes stay position-disjoint. A
    file whose every row is now deleted is DROPPED from the manifest
    outright. Returns the new version — or the CURRENT version
    unchanged when nothing matched (an empty delete is a no-op, not
    an empty commit).

    Commit markers: ``op=delete``, ``n_files_rewritten=0`` (always —
    that is the point), ``n_dv_files``, ``n_rows_deleted``,
    ``n_files_dropped``. Time travel is untouched: prior snapshots
    list their own (shorter) DV sets, so a pinned reader still sees
    the rows."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    base_v, man = _base_snapshot(path, expected_version)
    schema = StructType.fromJson(man["schema"])
    mapping = _schema_mapping(schema)
    # KEY-FRAME deletes (the replica-apply shape) prune BOTH tiers
    # before any data moves: segment-diff carries provably-disjoint
    # manifest segments by reference (never parsed), and per-file
    # footer stats drop provably-disjoint files from the SCAN itself —
    # a narrow key-frame delete on a clustered 100 TB table reads a
    # handful of files. Predicate-string deletes must scan everything
    # the predicate could match (the predicate is opaque to stats).
    drop_entries: list[dict] = []
    proof = None
    if isinstance(condition, dict):
        # bounds-dict delete (the partition-drop shape): classify
        # every file from stats alone — fully-covered files drop from
        # the manifest with zero IO, disjoint files are carried
        # unopened, only boundary files reach the scan below
        resolved = _resolve_bounds(
            condition, schema, mapping,
            table_partition_specs(path, version=base_v),
        )
        closed_refs, open_entries, n_segments = _split_segments(
            path, man, _resolved_ref_bounds(resolved)
        )
        scan_entries, carried_open, drop_entries = _classify_for_delete(
            open_entries, resolved
        )
        condition = _bounds_predicate(resolved)
    elif isinstance(condition, DataFrame):
        # key frame in the TABLE's types before any stats pruning
        # (see _in_table_types): silent under-delete otherwise
        condition = _in_table_types(condition, schema)
        kcols = list(condition.columns)
        closed_refs, scan_entries, carried_open, n_segments, bounds0 = (
            _plan_key_candidates(
                spark, path, base_v, man, condition, kcols, mapping
            )
        )
        proof = (mapping.get(kcols[0], kcols[0]), bounds0, "delete")
    else:
        closed_refs, scan_entries, n_segments = _split_segments(
            path, man, []
        )
        carried_open = []
    if not scan_entries and not drop_entries:
        return base_v  # no file can hold a matching row: no-op
    hit = None
    counts: dict[str, int] = {}
    if scan_entries:
        # DV-applied row-identity scan, predicate served the LOGICAL
        # names
        df = _with_row_identity_entries(spark, path, scan_entries, schema)
        if isinstance(condition, DataFrame):
            # key-frame delete: rows whose key tuple appears in the frame
            # (the replica-sync / feed-apply shape) — a semi-join against
            # the broadcastable key set, never a predicate compile
            # (no broadcast hint: AQE broadcasts small key sets itself and
            # a mass-delete key frame must be allowed to shuffle)
            hit = df.join(condition.distinct(), kcols, "left_semi")
        else:
            cond = F.expr(condition) if isinstance(condition, str) else condition
            hit = df.filter(cond)
        if change_feed:
            # the feed needs the deleted ROWS, not just positions — one
            # checkpoint serves both projections
            hit = hit.localCheckpoint(eager=True)
            matched = hit.select("__file", "__pos")
        else:
            matched = hit.select("__file", "__pos").localCheckpoint(eager=True)
        counts = {
            r["__file"]: r["n"]
            for r in matched.groupBy("__file").agg(F.count("*").alias("n")).collect()
        }
    if not counts and not drop_entries:
        return base_v
    dropped_live = sum(
        int(e.get("rows", 0)) - int(e.get("dv_rows", 0)) for e in drop_entries
    )
    vectorized, unhit = _split_hit(scan_entries, counts)
    plan = _DmlPlan(
        "delete", base_v, man, man["schema"], closed_refs, n_segments,
        carried_open + unhit, touched=vectorized,
        dv=(matched, counts) if counts else None,
        proof=proof,
        markers={
            "n_rows_deleted": str(sum(counts.values()) + dropped_live),
            "n_files_scanned": str(len(scan_entries)),
            "n_files_dropped": str(len(drop_entries)),
        },
    )
    if change_feed:
        # deleted ROWS: the scan's hits plus the full content of
        # dropped files (their live rows are the delete — read once
        # here, the only IO a partition drop ever pays, and only when
        # a feed was asked for)
        if hit is not None:
            plan.changes.append((hit.drop("__file", "__pos"), "delete"))
        if drop_entries:
            plan.changes.append(
                (_read_entries(spark, path, drop_entries, schema), "delete")
            )
    # entry drops cannot be replayed by the DV rebase (it only extends
    # vectors over the latest's entries) — a lost race then raises, so
    # the OCC loop re-derives instead of resurrecting dropped files
    return _dml_commit(
        path, plan, meta=meta, expected_version=expected_version,
        lock_timeout_s=lock_timeout_s,
        rebase_on_conflict=rebase_on_conflict and not drop_entries,
    )


def versioned_replace_where(
    spark: SparkSession,
    path: str,
    bounds: dict,
    batch: DataFrame,
    *,
    meta: dict[str, str] | None = None,
    expected_version: int | None | object = _UNGUARDED,
    lock_timeout_s: float = 600.0,
    change_feed: bool = False,
) -> int:
    """Delta's ``replaceWhere`` — atomically replace EXACTLY the rows
    matching ``bounds`` (column → value or ``(lo, hi)``, ANDed) with
    ``batch``, in ONE commit: the idempotent partition backfill. A
    daily pipeline re-running "rebuild day D" gets the same table
    state however many times it runs, and a reader never sees the
    partition half-rebuilt (pointer-swap isolation).

    Economics ride the same stats classification as the bounds
    DELETE (:func:`_classify_for_delete`): fully-covered files leave
    the manifest without being opened, provably-disjoint files carry
    by reference, and only boundary files are rewritten (their
    non-matching rows survive into the rewrite alongside the batch).
    On a day-partitioned table this is drop-one-partition +
    append-the-new-day — zero old bytes read unless a file straddles
    the bounds or a feed is recorded.

    Safety rail (Delta's): every batch row must itself satisfy
    ``bounds`` — writing outside the region being replaced is almost
    always a bug and is refused loudly before anything stages.
    ``change_feed=True`` records dropped/boundary-matching rows as
    deletes and the batch as inserts."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    base_v, man = _base_snapshot(path, expected_version)
    schema = StructType.fromJson(man["schema"])
    table_cols = [f.name for f in schema.fields]
    if set(batch.columns) != set(table_cols):
        raise ValueError(
            f"replace batch schema {sorted(batch.columns)} differs from "
            f"table schema {sorted(table_cols)} at {path}"
        )
    mapping = _schema_mapping(schema)
    resolved = _resolve_bounds(
        bounds, schema, mapping,
        table_partition_specs(path, version=base_v),
    )
    pred = _bounds_predicate(resolved)
    aligned = _in_table_types(batch, schema)
    stray = aligned.filter(
        ~F.coalesce(pred.cast("boolean"), F.lit(False))
    ).limit(1).collect()
    if stray:
        raise ValueError(
            f"replace batch contains row(s) outside the replaced region "
            f"{bounds} (e.g. {tuple(stray[0])}) — refusing to write "
            "outside the bounds being replaced"
        )
    closed_refs, open_entries, n_segments = _split_segments(
        path, man, _resolved_ref_bounds(resolved)
    )
    scan_entries, carried_open, drop_entries = _classify_for_delete(
        open_entries, resolved
    )
    plan = _DmlPlan(
        "replace_where", base_v, man, man["schema"], closed_refs, n_segments,
        carried_open, touched=scan_entries, rows=aligned,
        markers={"n_files_dropped": str(len(drop_entries))},
    )
    matching = F.coalesce(pred.cast("boolean"), F.lit(False))
    if scan_entries:
        # boundary files: DV-applied read, non-matching rows survive
        # into the rewrite next to the batch
        boundary = _read_entries(spark, path, scan_entries, schema)
        plan.rows = boundary.filter(~matching).unionByName(aligned)
    if change_feed:
        plan.changes = [(aligned, "insert")]
        if scan_entries:
            plan.changes.append((boundary.filter(matching), "delete"))
        if drop_entries:
            plan.changes.append(
                (_read_entries(spark, path, drop_entries, schema), "delete")
            )
    return _dml_commit(
        path, plan, meta=meta, expected_version=expected_version,
        lock_timeout_s=lock_timeout_s,
    )


def _conform(df: DataFrame, schema) -> DataFrame:
    """Project ``df`` onto ``schema``: present columns cast to the
    schema's types, absent columns NULL-filled — the same by-name
    semantics the manifest read path uses."""
    from pyspark.sql import functions as F

    have = set(df.columns)
    return df.select(
        *[
            F.col(f.name).cast(f.dataType).alias(f.name)
            if f.name in have
            else F.lit(None).cast(f.dataType).alias(f.name)
            for f in schema.fields
        ]
    )


def _stage_aux_files(
    df: DataFrame, path: str, *, kind: str, n_files: int = 1
) -> list[str]:
    """Write an auxiliary frame (deletion vectors, change-feed rows)
    as immutable ``{kind}-*`` parquet files in the table's shared data
    pool and return their relative paths. Same crash-safety contract
    as :func:`_stage_data_files`: unique names, unreferenced on
    failure, collected by vacuum's age-gated ref-count pass."""
    staged = os.path.join(path, f".stage-{kind}-{uuid.uuid4().hex}")
    df.coalesce(n_files).write.mode("errorifexists").parquet(staged)
    pool = os.path.join(path, _DATA_DIR)
    os.makedirs(pool, exist_ok=True)
    prefix = uuid.uuid4().hex[:12]
    rels = []
    for i, f in enumerate(sorted(os.listdir(staged))):
        if not f.endswith(".parquet") or f.startswith(("_", ".")):
            continue
        name = f"{kind}-{prefix}-{i:05d}.parquet"
        os.replace(os.path.join(staged, f), os.path.join(pool, name))
        rels.append(f"{_DATA_DIR}/{name}")
    shutil.rmtree(staged, ignore_errors=True)
    return rels


def versioned_update(
    spark: SparkSession,
    path: str,
    set_map: dict[str, str],
    condition,
    *,
    meta: dict[str, str] | None = None,
    expected_version: int | None | object = _UNGUARDED,
    lock_timeout_s: float = 600.0,
    change_feed: bool = False,
) -> int:
    """UPDATE ... SET ... WHERE as a partial-rewrite snapshot commit:
    only files that actually CONTAIN a matching live row are
    rewritten (SET expressions applied to matching rows, everything
    else byte-preserved through the rewrite, deletion vectors
    materialized away for the rewritten files); every other file
    rides into the new manifest by reference. ``condition`` is a SQL
    predicate string, or a bounds dict (the
    :func:`versioned_read_where` shape) — the dict path prunes
    provably-disjoint files from the SCAN itself via stats, so a
    partition-scoped UPDATE on a 100 TB table reads only the
    partition. All SET expressions evaluate over the PRE-update row
    (SQL UPDATE semantics) and cast back to the column's type, so
    pooled files never fork physical types.

    ``change_feed=True`` records update_preimage/update_postimage
    rows exactly like :func:`versioned_upsert`'s feed."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    base_v, man = _base_snapshot(path, expected_version)
    schema = StructType.fromJson(man["schema"])
    mapping = _schema_mapping(schema)
    dtypes = {f.name: f.dataType for f in schema.fields}
    unknown = [c for c in set_map if c not in dtypes]
    if unknown:
        raise KeyError(
            f"UPDATE SET targets {unknown} not in schema {sorted(dtypes)}"
        )
    if isinstance(condition, dict):
        resolved = _resolve_bounds(
            condition, schema, mapping,
            table_partition_specs(path, version=base_v),
        )
        closed_refs, open_entries, n_segments = _split_segments(
            path, man, _resolved_ref_bounds(resolved)
        )
        scan_b, carried_open, covered = _classify_for_delete(
            open_entries, resolved
        )
        # fully-covered files still REWRITE for an update (the delete
        # path drops them; here every row changes)
        scan_entries = scan_b + covered
        cond_col = _bounds_predicate(resolved)
    else:
        closed_refs, scan_entries, n_segments = _split_segments(
            path, man, []
        )
        carried_open = []
        cond_col = (
            F.expr(condition) if isinstance(condition, str) else condition
        )
    if not scan_entries:
        return base_v  # no file can hold a matching row: no-op
    # pass 1: which files contain a matching LIVE row (row identity +
    # DV anti-join, the delete scan's shape)
    df = _with_row_identity_entries(spark, path, scan_entries, schema)
    counts = {
        r["__file"]: int(r["n"])
        for r in df.filter(cond_col)
        .groupBy("__file")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    }
    if not counts:
        return base_v
    rewrite, keep = _split_hit(scan_entries, counts)
    # pass 2: rewrite exactly the matched files, SET applied row-wise
    slice_df = _read_entries(spark, path, rewrite, schema)

    # SET applies where the condition holds — every preimage row does,
    # so one projection serves the rewrite and the postimages
    set_proj = [
        F.when(cond_col, F.expr(set_map[f.name]))
        .otherwise(F.col(f.name))
        .cast(f.dataType)
        .alias(f.name)
        if f.name in set_map
        else F.col(f.name)
        for f in schema.fields
    ]
    plan = _DmlPlan(
        "update", base_v, man, man["schema"], closed_refs, n_segments,
        keep + carried_open, touched=rewrite,
        rows=slice_df.select(*set_proj),
        markers={
            "n_rows_updated": str(sum(counts.values())),
            "n_files_scanned": str(len(scan_entries)),
        },
    )
    if change_feed:
        pre = slice_df.filter(cond_col).localCheckpoint(eager=True)
        plan.changes = [
            (pre, "update_preimage"),
            (pre.select(*set_proj), "update_postimage"),
        ]
    return _dml_commit(
        path, plan, meta=meta, expected_version=expected_version,
        lock_timeout_s=lock_timeout_s,
    )


def _with_row_identity_entries(
    spark: SparkSession, path: str, entries: list[dict], schema
) -> DataFrame:
    """The delete/update scan shape: the given entries read by
    PHYSICAL name with ``__file``/``__pos`` row identity, prior
    deletion vectors anti-joined away, served under LOGICAL names."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructField, StructType

    mapping = _schema_mapping(schema)
    renamed = any(p != n for n, p in mapping.items())
    read_schema = (
        StructType(
            [
                StructField(mapping[f.name], f.dataType, f.nullable)
                for f in schema.fields
            ]
        )
        if renamed
        else schema
    )
    df = _with_row_identity(
        spark.read.schema(read_schema).parquet(
            *_pool_paths(path, [e["path"] for e in entries])
        )
    )
    if renamed:
        df = df.select(
            *[F.col(mapping[f.name]).alias(f.name) for f in schema.fields],
            "__file",
            "__pos",
        )
    old_dvs = sorted(
        {p for e in entries for p in e.get("dv_files", [])}
    )
    if old_dvs:
        prior = (
            spark.read.parquet(*_pool_paths(path, old_dvs))
            .select("__file", "__pos")
            .distinct()
        )
        df = df.join(F.broadcast(prior), ["__file", "__pos"], "left_anti")
    return df


def versioned_restore(
    path: str,
    version: int,
    *,
    spark: SparkSession | None = None,
    validate: bool = True,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """RESTORE: re-commit an earlier snapshot's manifest as the new
    latest (Delta's RESTORE TABLE ... VERSION AS OF). Pure metadata —
    the data files are referenced, never copied, so rolling a 100 TB
    table back to yesterday writes one manifest. History is preserved
    (restore is a NEW version; nothing is erased), and vacuum's
    ref-count keeps every file any retained manifest — including the
    restored one — still lists.

    The commit is a guarded CAS on the current latest, retried on a
    lost race (:func:`_retry_lost_races`), so a restore can never
    silently clobber a concurrent
    data commit (it serializes after it — restore then wins, which is
    what "roll the table back" means, but the race is now explicit in
    history instead of the racing commit's files vanishing).

    CHECK constraints added AFTER ``version`` still govern the table
    the restore publishes, so ``validate=True`` (default) proves the
    restored rows satisfy the CURRENT constraint set before
    committing — one short-circuited scan of the restored snapshot,
    only when constraints exist (``spark`` or the active session is
    used). ``validate=False`` skips the scan for the operator who
    knows the history is clean."""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    if version > committed:
        raise FileNotFoundError(
            f"version {version} at {path} is not committed "
            f"(latest committed: {committed})"
        )
    with open(os.path.join(path, f"v={version}", _MANIFEST_NAME)) as f:
        raw = json.load(f)
    reuse = raw.get("segments")
    entries = [] if reuse is not None else raw["files"]
    validated: set[str] = set()

    def attempt() -> int:
        base = latest_version(path)
        cons = table_constraints(path, version=base)
        marker = json.dumps(cons, sort_keys=True)
        if validate and cons and marker not in validated:
            s = spark or SparkSession.getActiveSession()
            if s is None:
                s = SparkSession.builder.getOrCreate()
            broken = _find_violations(
                versioned_read(s, path, version=version), cons
            )
            if broken:
                raise ConstraintViolation(
                    f"restoring v{version} at {path} would violate "
                    f"currently active CHECK constraint(s) {broken}: "
                    f"{[cons[n] for n in broken]} — drop them or pass "
                    "validate=False to override"
                )
            validated.add(marker)
        commit_meta = {
            "op": "restore",
            "source_version": str(version),
            # the layout claim follows the CONTENT being re-published,
            # not the current latest's property — and so does the
            # retired-physicals ledger: a restored column's physical
            # name is LIVE again in the restored schema, and carrying
            # the post-drop ledger forward would remap it on the next
            # upsert (silent NULL for every carried file)
            "partition_by": snapshot_meta(
                path, "partition_by", version=version
            ) or "[]",
            "partition_specs": snapshot_meta(
                path, "partition_specs", version=version
            ) or "[]",
            "retired_physicals": snapshot_meta(
                path, "retired_physicals", version=version
            ) or "[]",
        }
        commit_meta.update(meta or {})
        return _commit_manifest(
            path, raw["schema"], entries, commit_meta,
            base, lock_timeout_s, reuse_refs=reuse,
        )

    return _retry_lost_races(attempt, f"restore at {path}")


def versioned_clone(
    src_path: str,
    dst_path: str,
    *,
    version: int | None = None,
    as_of_ts: float | None = None,
    meta: dict[str, str] | None = None,
    lock_timeout_s: float = 600.0,
    expected_version: int | None | object = _UNGUARDED,
) -> int:
    """SHALLOW CLONE: publish a chosen snapshot of ``src_path`` as a
    brand-new independent table at ``dst_path`` WITHOUT copying data
    (Delta's ``CREATE TABLE ... SHALLOW CLONE``, Iceberg's zero-copy
    branch-as-table). The source manifest's file entries — stats
    included — transfer verbatim, and every referenced data/DV pool
    file is HARD-LINKED into the clone's pool: O(files) metadata
    syscalls, zero bytes of row data moved, so cloning a 100 TB table
    costs what a commit costs. Falls back to a real copy only when
    the link fails (cross-device), keeping semantics identical.

    The clone is a fully independent table from birth:

    - writes to either side stage NEW pool files (pool files are
      immutable by contract), so neither table can ever see the
      other's subsequent commits;
    - ``vacuum`` on either side unlinks only that table's pool NAMES —
      the shared inode survives until the last referencing table drops
      it (POSIX link counting), so vacuuming the source never breaks
      the clone, and vice versa (unit-pinned);
    - the clone starts its own history at ``v=0`` (history is not
      cloned — exactly Delta's contract), and its change feed serves
      that v0 as creation inserts like any other table.

    Time-travel clones: pass ``version`` or ``as_of_ts`` to clone an
    EARLIER snapshot — the zero-copy way to fork "the corpus as of
    yesterday's decontamination run" for an experiment. ``dst_path``
    must not already hold a committed table (clone creates, it never
    replaces). Object-store note: without hard links a deployment
    would keep absolute source paths in the entries instead (Delta's
    shallow-clone layout); the manifest format needs no change, only
    a resolver that honors absolute entry paths."""
    committed = latest_version(src_path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {src_path}")
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version or as_of_ts, not both")
        version = version_as_of_timestamp(src_path, as_of_ts)
    v = committed if version is None else version
    if v > committed:
        raise FileNotFoundError(
            f"version {v} at {src_path} is not committed "
            f"(latest committed: {committed})"
        )
    if latest_version(dst_path) is not None:
        raise FileExistsError(
            f"clone target {dst_path} already holds a committed table"
        )
    man = _read_manifest(src_path, v)
    _link_pool_files(
        src_path, dst_path, man["files"],
        f"snapshot v={v} at {src_path}", "clone a retained version",
    )
    commit_meta = {
        "op": "clone",
        "source_path": src_path,
        "source_version": str(v),
    }
    # table properties transfer with the snapshot: the clone enforces
    # the CHECK constraints that governed the cloned version, keeps its
    # layout claim truthful, keeps the retired-physicals ledger (its
    # pool files are hard links to pre-drop bytes, which re-adding a
    # dropped column would resurrect), and keeps maintaining the value
    # index in the clone's own codec — all pure per-table policy
    for prop in _MERGE_PROPS:
        val = snapshot_meta(src_path, prop, version=v)
        if val is not None:
            commit_meta[prop] = val
    commit_meta.update(meta or {})
    # pass expected_version=None to turn the pre-flight emptiness check
    # into an atomic create (two racing cloners: one commits, the
    # other gets a loud CommitConflict instead of stacking a v1)
    return _commit_manifest(
        dst_path, man["schema"], man["files"], commit_meta,
        expected_version, lock_timeout_s,
    )


# ---------------------------------------------------------------------------
# Named refs: tags and branches (Iceberg's ref model, re-expressed over
# this store's linear version chain + shallow clones). A TAG is an
# immutable name for a committed version, stored in the carried ``refs``
# table property — creating one is a kilobyte metadata commit, and
# :func:`vacuum` protects every tagged snapshot from retention. A BRANCH
# is an independently writable fork: a zero-copy shallow clone under
# ``<table>/_branches/<name>`` (hard-linked pool, own version chain)
# whose base version is recorded in ``refs`` so that
# :func:`versioned_publish` can later fast-forward main to the branch's
# state — the write-audit-publish pattern (stage on the branch, audit
# with any read/DQ query, publish as ONE metadata+links commit).
# ---------------------------------------------------------------------------

_REF_NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9._-]{0,63}$")


def _check_ref_name(name: str) -> None:
    if not _REF_NAME.match(name) or ".." in name:
        raise ValueError(
            f"ref name {name!r} must match [A-Za-z0-9][A-Za-z0-9._-]* "
            "(max 64 chars, no '..')"
        )


def table_refs(path: str, *, version: int | None = None) -> dict:
    """The table's named refs as ``{name: {"type": "tag"|"branch",
    ...}}`` — a carried table property, so it reflects the latest
    commit (or a pinned ``version``)."""
    v = latest_version(path) if version is None else version
    if v is None:
        raise FileNotFoundError(f"no committed version at {path}")
    raw = snapshot_meta(path, "refs", version=v)
    return json.loads(raw) if raw else {}


def branch_path(path: str, name: str) -> str:
    """Filesystem location of branch ``name`` — itself a full
    versioned table, usable with every read/write API."""
    _check_ref_name(name)
    return os.path.join(path, "_branches", name)


def _resolve_ref(path: str, name: str) -> tuple[str, int]:
    """Resolve a ref to ``(table_path, version)``: a tag pins a
    version of the table itself; a branch resolves to the branch
    table's committed latest."""
    refs = table_refs(path)
    entry = refs.get(name)
    if entry is None:
        raise KeyError(f"no ref named {name!r} at {path}")
    if entry["type"] == "tag":
        return path, int(entry["version"])
    bdir = branch_path(path, name)
    bv = latest_version(bdir)
    if bv is None:
        raise FileNotFoundError(
            f"branch {name!r} at {path} has no committed version "
            f"(missing {bdir})"
        )
    return bdir, bv


def versioned_tag(
    path: str, name: str, *,
    version: int | None = None, as_of_ts: float | None = None,
    replace: bool = False, lock_timeout_s: float = 600.0,
) -> int:
    """Name a committed snapshot (default: the latest). Metadata-only
    — one kilobyte commit regardless of table size. Tagged versions
    are exempt from :func:`vacuum` retention until the tag is dropped
    (:func:`versioned_drop_ref`), so ``versioned_tag(p, "train-v3")``
    is the durable way to pin "the corpus this model trained on".
    ``replace=True`` retargets an existing tag; retargeting is refused
    otherwise, and a branch name can never be retargeted as a tag."""
    _check_ref_name(name)
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version or as_of_ts, not both")
        version = version_as_of_timestamp(path, as_of_ts)

    def derive(committed: int, raw: dict):
        v = committed if version is None else version
        if v > committed or v < 0:
            raise FileNotFoundError(
                f"version {v} at {path} is not committed "
                f"(latest committed: {committed})"
            )
        if not os.path.isdir(os.path.join(path, f"v={v}")):
            raise FileNotFoundError(
                f"version {v} at {path} has been vacuumed — a tag "
                "must pin a readable snapshot"
            )
        refs = table_refs(path, version=committed)
        prior = refs.get(name)
        if prior is not None and (prior["type"] != "tag" or not replace):
            raise ValueError(
                f"ref {name!r} already exists at {path} as a "
                f"{prior['type']}; "
                + ("drop the branch first"
                   if prior["type"] == "branch"
                   else "pass replace=True to retarget")
            )
        refs[name] = {
            "type": "tag", "version": v, "created_ts": repr(time.time()),
        }
        return raw["schema"], {"op": "tag", "refs": json.dumps(refs)}

    return _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)


def versioned_drop_ref(
    path: str, name: str, *, lock_timeout_s: float = 600.0,
) -> int:
    """Remove a tag or branch. Dropping a tag releases its snapshot to
    normal vacuum retention; dropping a branch also deletes the branch
    table directory (its pool held hard links, so shared bytes survive
    in main's pool — POSIX link counting, same contract as clone).
    The directory is TOMBSTONE-RENAMED before the refs commit and
    deleted after, so a concurrent re-create of the same name — which
    can only begin once the commit removes the refs entry — never has
    its fresh clone deleted by this drop's cleanup."""
    _check_ref_name(name)
    is_branch = table_refs(path).get(name, {}).get("type") == "branch"
    tomb = _retire_branch_dir(path, name) if is_branch else None

    def derive(committed: int, raw: dict):
        refs = table_refs(path, version=committed)
        if name not in refs:
            raise KeyError(f"no ref named {name!r} at {path}")
        del refs[name]
        return raw["schema"], {"op": "drop_ref", "refs": json.dumps(refs)}

    try:
        n = _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)
    except KeyError:
        # ref vanished under us (a racing drop won): our tombstoned
        # dir — if any — is that drop's leftover; clear it
        if tomb is not None:
            shutil.rmtree(tomb, ignore_errors=True)
        raise
    except BaseException:
        if tomb is not None:
            os.replace(tomb, branch_path(path, name))
        raise
    if tomb is not None:
        shutil.rmtree(tomb, ignore_errors=True)
    return n


def versioned_branch(
    path: str, name: str, *,
    version: int | None = None, as_of_ts: float | None = None,
    lock_timeout_s: float = 600.0,
) -> str:
    """Fork an independently writable branch from a committed snapshot
    (default: the latest) and record it in the table's refs. The fork
    is a zero-copy shallow clone (hard-linked pool — O(files) metadata
    syscalls on a 100 TB table, zero row bytes moved) living under
    ``<table>/_branches/<name>``; every versioned API works on the
    returned path. Writes to the branch NEVER touch main; main commits
    after the fork make the branch unpublishable (fast-forward only —
    :func:`versioned_publish` refuses loudly). Returns the branch
    path."""
    _check_ref_name(name)
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    if as_of_ts is not None:
        if version is not None:
            raise ValueError("pass version or as_of_ts, not both")
        version = version_as_of_timestamp(path, as_of_ts)
    base = committed if version is None else version
    if base > committed:
        raise FileNotFoundError(
            f"version {base} at {path} is not committed "
            f"(latest committed: {committed})"
        )
    if name in table_refs(path, version=committed):
        raise ValueError(f"ref {name!r} already exists at {path}")
    bdir = branch_path(path, name)
    # a branch directory with NO refs entry is EITHER crash residue (a
    # creator died between clone and refs commit; drops tombstone
    # their dirs first, so committed drops never leave one) OR a
    # concurrent creator's in-flight clone. The two are separated by
    # AGE, the same Delta-style gate vacuum and the commit-lock steal
    # use: an in-flight clone's dir is seconds old (the clone itself
    # keeps touching it); genuine residue is by definition older than
    # any live writer. Sweeping unconditionally would delete a racing
    # winner's fresh clone and leave its refs commit pointing at
    # nothing — so a FRESH dir refuses loudly instead.
    if os.path.isdir(bdir):
        try:
            residue_age = time.time() - os.path.getmtime(bdir)
        except FileNotFoundError:
            residue_age = None  # vanished — the racer cleaned it up
        if residue_age is not None:
            if residue_age < lock_timeout_s:
                raise CommitConflict(
                    f"branch {name!r} at {path} is being created by a "
                    f"concurrent writer (dir is {residue_age:.1f}s old; "
                    f"presumed live under {lock_timeout_s}s)"
                )
            shutil.rmtree(bdir, ignore_errors=True)
    # crashed drops' `.dropped-*` tombstones are swept here too — but
    # only OLD ones: an in-flight drop renames its dir to a freshened
    # tombstone BEFORE its commit and renames it back if the commit is
    # refused, so deleting a fresh tombstone would break that rollback.
    broot = os.path.join(path, "_branches")
    if os.path.isdir(broot):
        for d in os.listdir(broot):
            if not d.startswith(".dropped-"):
                continue
            full = os.path.join(broot, d)
            try:
                if time.time() - os.path.getmtime(full) < lock_timeout_s:
                    continue
            except FileNotFoundError:
                continue
            shutil.rmtree(full, ignore_errors=True)
    try:
        versioned_clone(
            path, bdir, version=base,
            meta={"op": "branch", "branch_of": path,
                  "branch_base_version": str(base)},
            lock_timeout_s=lock_timeout_s,
            # atomic create: a racing creator of the same name loses
            # with a loud conflict instead of stacking a second commit
            # on the winner's branch table
            expected_version=None,
        )
    except CommitConflict:
        raise ValueError(
            f"ref {name!r} already exists at {path} (concurrent "
            "branch creation)"
        )
    # ownership token: the failure cleanup below may only delete a dir
    # WE cloned. If a racer (correctly) swept us as presumed-crashed
    # residue and recloned, the dir holds ITS token, not ours — and a
    # dir serving a committed refs entry is never deleted regardless.
    token = uuid.uuid4().hex
    tok_f = os.path.join(bdir, ".creator")
    with open(tok_f, "w") as f:
        f.write(token)

    def derive(cur: int, raw: dict):
        refs = table_refs(path, version=cur)
        if name in refs:
            raise ValueError(f"ref {name!r} already exists at {path}")
        # publishable base = the version THIS refs commit creates
        # (cur+1 under the CAS) — main's state there is byte-identical
        # to the forked snapshot, so a later publish that CASes on it
        # is a true fast-forward. A branch forked from a HISTORICAL
        # version records no base: publishing it would silently revert
        # main's newer commits, so versioned_publish refuses it.
        refs[name] = {
            "type": "branch", "fork_version": base,
            "base_version": (cur + 1) if base == cur else None,
            "created_ts": repr(time.time()),
        }
        return raw["schema"], {"op": "branch", "refs": json.dumps(refs)}

    try:
        _metadata_commit(path, derive, lock_timeout_s=lock_timeout_s)
    except BaseException:
        # delete only our OWN failed clone, and only while no refs
        # entry serves the name — if a racer's commit won the name,
        # whatever dir sits here (possibly its reclone of ours) now
        # backs a committed branch and must survive our failure
        try:
            with open(tok_f) as f:
                ours = f.read() == token
        except OSError:
            ours = False
        if ours and name not in table_refs(path):
            shutil.rmtree(bdir, ignore_errors=True)
        raise
    try:
        os.unlink(tok_f)
    except FileNotFoundError:
        pass
    return bdir


# branch table properties adopted by main on publish — the audited
# state is the WHOLE branch table, schema evolution and layout included
# (a branch's refs, stream ledger and live cursors are its own)
_PUBLISH_PROPS = tuple(
    p for p in _TABLE_PROPS
    if p not in ("refs", "stream_ledger", "live_cursors")
)

# commit ops that change ONLY the refs map: the file set and every
# non-ref table property carry verbatim, so content-level reasoning
# (fast-forward publishes, branch staleness) walks over them
_REF_ONLY_OPS = ("tag", "drop_ref", "branch")


def _ff_base(path: str, entry: dict, committed: int | None) -> int | None:
    """The effective fast-forward base of a branch: its recorded base,
    advanced over any purely ref-only commits (which leave content
    byte-identical). None when the branch is not publishable — forked
    historical, or main's content really diverged."""
    if entry.get("base_version") is None:
        return None
    base = int(entry["base_version"])
    if committed is None or base > committed:
        return None
    if base == committed:
        return base
    if all(
        snapshot_meta(path, "op", version=v) in _REF_ONLY_OPS
        for v in range(base + 1, committed + 1)
    ):
        return committed
    return None


def _retire_branch_dir(path: str, name: str) -> str | None:
    """Atomically move a branch directory aside (tombstone rename) so
    a concurrent re-create of the same name can never have its fresh
    clone deleted by our later cleanup. Returns the tombstone path, or
    None when the directory did not exist."""
    bdir = branch_path(path, name)
    tomb = os.path.join(
        path, "_branches", f".dropped-{name}-{uuid.uuid4().hex}"
    )
    try:
        os.replace(bdir, tomb)
        # rename preserves the dir's own mtime (only the parent's
        # changes), so an in-flight drop of an old branch would read
        # as ancient residue; freshen so the age-gated tombstone sweep
        # in versioned_branch leaves live drops' rollback paths alone
        _freshen(tomb)
        return tomb
    except FileNotFoundError:
        return None


def versioned_publish(
    path: str, name: str, *,
    drop: bool = False, lock_timeout_s: float = 600.0,
) -> int:
    """FAST-FORWARD main to branch ``name``'s committed state — the
    publish step of write-audit-publish. Every pool file the branch's
    manifest references is hard-linked into main's pool (files main
    already holds are skipped by name — pool names are uuid-unique and
    immutable), then the branch's manifest commits onto main as one
    guarded version: O(new files) metadata syscalls, zero row bytes
    copied, and readers of main flip atomically from the pre-audit to
    the post-audit state. The commit compare-and-swaps on the branch's
    recorded base version, so if main advanced since the fork the
    publish refuses with :class:`CommitConflict` (re-fork and replay —
    Iceberg's fast-forward contract; nothing is ever merged silently).
    The branch's table properties (constraints, partition layout +
    spec history, rename ledger, stats, value-index config) transfer
    with it. ``drop=True`` removes the branch after publishing;
    otherwise its recorded base advances so it can keep staging."""
    committed = latest_version(path)
    # the refs map read at `committed` is EXACTLY the state the CAS
    # below asserts is still current — a ref commit landing after this
    # read bumps the version and fails the publish loudly, so the
    # committed refs rewrite can never overwrite a concurrent tag
    refs = table_refs(path, version=committed)
    entry = refs.get(name)
    if entry is None:
        raise KeyError(f"no ref named {name!r} at {path}")
    if entry["type"] != "branch":
        raise ValueError(f"ref {name!r} at {path} is a tag, not a branch")
    if entry.get("base_version") is None:
        raise ValueError(
            f"branch {name!r} at {path} forked from historical version "
            f"{entry.get('fork_version')} and is not publishable — "
            "publishing it would revert main's newer commits; use "
            "versioned_restore for that, or re-branch from the latest"
        )
    # REF-ONLY commits after the recorded base (tagging a release,
    # creating or dropping a sibling branch) carry the file set and
    # every non-ref property verbatim, so main's CONTENT still equals
    # the branch's fork point — the fast-forward stays sound and the
    # CAS simply moves up to the current version. Any other op means
    # real divergence and refuses here.
    base = _ff_base(path, entry, committed)
    if base is None or committed != base:
        raise CommitConflict(
            f"publish of branch {name!r} at {path} is not a "
            f"fast-forward: main is at version {committed}, the branch "
            f"forked from {entry['base_version']} — re-branch from the "
            "current version and replay the staged changes"
        )
    bdir = branch_path(path, name)
    bv = latest_version(bdir)
    if bv is None:
        raise FileNotFoundError(
            f"branch {name!r} at {path} has no committed version"
        )
    man = _read_manifest(bdir, bv)
    _link_pool_files(
        bdir, path, man["files"], f"branch {name!r}",
        "the branch is unpublishable",
    )
    commit_meta: dict[str, str] = {
        "op": "publish_branch", "branch": name,
        "branch_version": str(bv),
    }
    for prop in _PUBLISH_PROPS:
        pv = snapshot_meta(bdir, prop, version=bv)
        if pv is not None:
            commit_meta[prop] = pv
    new_refs = dict(refs)
    if drop:
        del new_refs[name]
    else:
        new_refs[name] = {
            **entry, "base_version": base + 1,
            "published_ts": repr(time.time()),
        }
    commit_meta["refs"] = json.dumps(new_refs)
    # dropping: tombstone-rename the branch dir BEFORE the commit so a
    # re-creator of the same name (who can only start after our commit
    # removes the refs entry) never has its fresh clone deleted by our
    # cleanup; a refused commit renames it back untouched
    tomb = _retire_branch_dir(path, name) if drop else None
    try:
        n = _commit_manifest(
            path, man["schema"], man["files"], commit_meta,
            base, lock_timeout_s,
        )
    except BaseException:
        if tomb is not None:
            os.replace(tomb, bdir)
        raise
    if tomb is not None:
        shutil.rmtree(tomb, ignore_errors=True)
    return n


class MergeConflict(CommitConflict):
    """A three-way branch merge found changes that cannot be combined
    mechanically: the same file (or the same table property) was
    changed differently on the branch and on main since the fork.
    Resolution is always the same — re-branch from the current main
    and replay the conflicting work there."""


# table properties resolved three-way by versioned_merge_branch; a
# property BOTH sides changed (differently) is a conflict. column_stats
# is deliberately absent: stats are advisory and possibly stale on both
# sides, so the merge keeps main's and lets the next ANALYZE refresh.
_MERGE_PROPS = tuple(p for p in _PUBLISH_PROPS if p != "column_stats")


def _three_way(fork_val, branch_val, main_val, what: str):
    """Classic three-way resolution on one opaque value: untouched on
    the branch keeps main's; untouched (or identically changed) on
    main takes the branch's; changed differently on both refuses."""
    if branch_val == fork_val:
        return main_val
    if main_val == fork_val or main_val == branch_val:
        return branch_val
    raise MergeConflict(
        f"merge refused: {what} changed on BOTH the branch and main "
        "since the fork — re-branch from the current version and "
        "replay"
    )


def _sweep_disjoint(b_ivs: list, m_ivs: list):
    """Any-overlap test between two interval lists: sort by lower
    bound, then a two-pointer sweep — O(n log n + m log m) total, not
    the O(n·m) pair loop (two 50k-file deltas would be 2.5e9
    comparisons driver-side). Each element is ``(lo, hi, path)``;
    returns ``((branch_path, main_path) | None, comparisons)`` where
    the pair is the first overlap found."""
    b = sorted(b_ivs, key=lambda t: t[0])
    m = sorted(m_ivs, key=lambda t: t[0])
    i = j = comp = 0
    while i < len(b) and j < len(m):
        comp += 1
        blo, bhi, bp = b[i]
        mlo, mhi, mp = m[j]
        if blo <= mhi and mlo <= bhi:
            return (bp, mp), comp
        # the interval that ends first can never overlap anything
        # later in the other (lo-sorted) list's remaining elements
        if bhi < mhi:
            i += 1
        else:
            j += 1
    return None, comp


def versioned_merge_branch(
    path: str, name: str, *,
    drop: bool = False,
    key: str | None = None,
    spark: SparkSession | None = None,
    lock_timeout_s: float = 600.0,
) -> int:
    """THREE-WAY MERGE branch ``name`` into main when both have
    advanced since the fork — the general case :func:`versioned_publish`
    (fast-forward only) refuses. Git/Nessie semantics at FILE
    granularity: the branch's delta since its fork point (files added,
    files removed, entries changed — deletion vectors included) is
    replayed onto main's CURRENT manifest, and any file or table
    property that changed differently on both sides raises
    :class:`MergeConflict` loudly. Nothing is ever combined silently:

    - a file the branch removed or rewrote must be byte-identical on
      main to its fork state (or already carry the branch's exact
      change, from an earlier publish/merge of this same branch —
      then it is a no-op). Main having compacted, deleted from, or
      rewritten that file is a conflict: serial order would have
      required the branch's change to target the NEW file.
    - files only MAIN touched since the fork carry through untouched —
      that is the point of the merge.
    - appends commute: files added on the branch link into main's pool
      and join the manifest. Pass ``key`` to additionally require the
      branch's added/changed files PROVABLY key-disjoint (by footer
      stats) from files main added since the fork — the upsert-grade
      guarantee; without it the merge is file-level (two appends of
      the same logical key both survive, exactly like two
      :func:`versioned_append` writers).
    - schema and the governed table properties (CHECK constraints,
      partition layout + spec history, rename/drop ledger, value-index
      config) resolve three-way; changed-on-both refuses. A constraint
      ADDED on main since the fork always refuses — the branch's rows
      were never validated against it. Symmetrically, a constraint
      changed on the BRANCH while main committed data since the fork
      validates main's post-fork rows against the changed constraints
      (pass ``spark=``; one O(main's delta) job) — or refuses when no
      session is supplied, so the merged table never advertises a
      CHECK its rows were not proven to satisfy.

    The merge itself is pure driver-side manifest arithmetic plus
    O(new files) hard links and one kilobyte CAS commit
    (``op=merge_branch``) — no Spark job, zero row bytes copied, any
    table size. A lost commit race re-derives against the new latest
    (conflict rules re-checked; :func:`_retry_lost_races`). After the
    merge the branch is left unpublishable (main now holds changes the
    branch lacks — record says ``merged_version``); keep staging ONLY
    appends for repeat merges, or pass ``drop=True`` / re-branch.

    The merge commit has no recorded CDC sidecars, so the change feed
    serves it via the keyed snapshot-diff fallback like any
    publish_branch commit. (Delta/Iceberg have no branch merge; the
    file-level contract here matches lakeFS's merge and Nessie's
    content-key conflict detection, one level finer.)"""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    refs = table_refs(path, version=committed)
    entry = refs.get(name)
    if entry is None:
        raise KeyError(f"no ref named {name!r} at {path}")
    if entry["type"] != "branch":
        raise ValueError(f"ref {name!r} at {path} is a tag, not a branch")
    fork_v = int(entry["fork_version"])
    bdir = branch_path(path, name)
    bv = latest_version(bdir)
    if bv is None:
        raise FileNotFoundError(
            f"branch {name!r} at {path} has no committed version"
        )
    try:
        fork_man = _read_manifest(path, fork_v)
    except FileNotFoundError:
        raise FileNotFoundError(
            f"fork version {fork_v} at {path} has been vacuumed — the "
            f"merge base for branch {name!r} is gone; re-branch from "
            "the current version and replay"
        )
    bman = _read_manifest(bdir, bv)
    fork_by = {e["path"]: e for e in fork_man["files"]}
    b_by = {e["path"]: e for e in bman["files"]}
    b_removed = [p for p in fork_by if p not in b_by]
    b_changed = {
        p: e for p, e in b_by.items()
        if p in fork_by and e != fork_by[p]
    }
    b_added = {p: e for p, e in b_by.items() if p not in fork_by}

    # branch-side property/schema values are fixed for the whole retry
    # loop; main's side re-reads each attempt
    b_props = {
        prop: snapshot_meta(bdir, prop, version=bv)
        for prop in _MERGE_PROPS
    }
    f_props = {
        prop: snapshot_meta(path, prop, version=fork_v)
        for prop in _MERGE_PROPS
    }

    def _key_interval(e: dict):
        st = (e.get("stats") or {}).get(key)
        if st is None:
            return None
        mn, mx = st.get("min"), st.get("max")
        if mn is None or mx is None or _stat_nan(mn) or _stat_nan(mx):
            return None
        return (mn, mx)

    def attempt() -> int:
        latest = latest_version(path)
        man_l = _read_manifest(path, latest)
        l_by = {e["path"]: e for e in man_l["files"]}

        # --- schema + governed properties, three-way -----------------
        schema_json = _three_way(
            fork_man["schema"], bman["schema"], man_l["schema"],
            "the table schema",
        )
        meta_props: dict[str, str] = {}
        for prop in _MERGE_PROPS:
            m_val = snapshot_meta(path, prop, version=latest)
            merged = _three_way(
                f_props[prop], b_props[prop], m_val,
                f"table property {prop!r}",
            )
            if (
                prop == "constraints"
                and m_val != f_props[prop]
                and b_props[prop] == f_props[prop]
            ):
                # main added/changed CHECK constraints after the fork
                # and the branch never saw them: the branch's staged
                # rows were never validated, so carrying them through
                # would smuggle unvalidated data past the constraint.
                # (If the branch carries main's exact constraints, its
                # own commits validated against them — the same trust
                # versioned_publish extends.)
                raise MergeConflict(
                    "merge refused: main's CHECK constraints changed "
                    f"since fork v{fork_v} — the branch's rows were "
                    "never validated against them; re-branch and replay"
                )
            if prop == "constraints" and merged != m_val:
                # the SYMMETRIC hole: the merge would advertise the
                # branch's (changed) constraints, but rows main
                # committed after the fork were only ever validated
                # against main's own — carrying them in unvalidated
                # makes the merged table lie about its CHECK
                # guarantees. With a session, validate exactly main's
                # post-fork live entries against exactly the changed
                # constraints (O(main's delta), one job); without one
                # refuse loudly (the merge is otherwise job-free).
                m_new_entries = [
                    e for p, e in l_by.items()
                    if fork_by.get(p) != e
                    and int(e.get("rows", 0)) - int(e.get("dv_rows", 0)) > 0
                ]
                if m_new_entries:
                    if spark is None:
                        raise MergeConflict(
                            "merge refused: the branch's CHECK "
                            f"constraints changed since fork v{fork_v} "
                            "and main has data commits since — main's "
                            "new rows were never validated against "
                            "them; pass spark= to validate them during "
                            "the merge, or re-branch and replay"
                        )
                    all_cons = json.loads(merged) if merged else {}
                    old_cons = json.loads(m_val) if m_val else {}
                    delta_cons = {
                        n: x for n, x in all_cons.items()
                        if old_cons.get(n) != x
                    }
                    if delta_cons:
                        from pyspark.sql.types import StructType

                        rows = _read_entries(
                            spark, path, m_new_entries,
                            StructType.fromJson(man_l["schema"]),
                        )
                        broken = _find_violations(rows, delta_cons)
                        if broken:
                            raise MergeConflict(
                                "merge refused: main's post-fork rows "
                                "violate the branch's CHECK "
                                f"constraint(s) {broken} — fix the rows "
                                "on main (or drop the constraint) and "
                                "retry"
                            )
            if merged is not None:
                meta_props[prop] = merged

        # --- file-level three-way -------------------------------------
        out_by = dict(l_by)
        to_link: list[dict] = []
        for p in b_removed:
            cur = l_by.get(p)
            if cur is None:
                raise MergeConflict(
                    f"merge refused: file {p} was removed on the branch "
                    "AND is gone from main (compacted, deleted, or "
                    "merged before) — whether the two removals agree is "
                    "undecidable at file level; re-branch and replay"
                )
            if cur != fork_by[p]:
                raise MergeConflict(
                    f"merge refused: file {p} was removed on the branch "
                    "but changed on main since the fork"
                )
            del out_by[p]
        for p, be in b_changed.items():
            cur = l_by.get(p)
            if cur == be:
                continue  # main already carries this exact change
            if cur != fork_by[p]:
                raise MergeConflict(
                    f"merge refused: file {p} changed on BOTH the "
                    "branch and main since the fork"
                )
            out_by[p] = be
            to_link.append(be)
        for p, be in b_added.items():
            cur = l_by.get(p)
            if cur == be:
                continue  # already published/merged
            if cur is not None:
                raise MergeConflict(
                    f"merge refused: file {p} exists on main with a "
                    "different entry"
                )
            out_by[p] = be
            to_link.append(be)

        # --- optional upsert-grade key disjointness -------------------
        if key is not None:
            m_delta = [
                e for p, e in l_by.items()
                if fork_by.get(p) != e  # added or changed on main
            ]
            def _live_rows(e: dict) -> int:
                return int(e.get("rows", 0)) - int(e.get("dv_rows", 0))

            b_ivs = []
            for be in list(b_changed.values()) + list(b_added.values()):
                if _live_rows(be) == 0:
                    continue  # provably holds no keys
                bi = _key_interval(be)
                if bi is None:
                    raise MergeConflict(
                        f"merge refused: branch file {be['path']} has "
                        f"no usable footer stats on key {key!r} — "
                        "disjointness unprovable"
                    )
                b_ivs.append((bi[0], bi[1], be["path"]))
            m_ivs = []
            for me in m_delta:
                if _live_rows(me) == 0:
                    continue
                mi = _key_interval(me)
                if mi is None:
                    if b_ivs:
                        raise MergeConflict(
                            f"merge refused: main file {me['path']} has "
                            f"no usable footer stats on key {key!r} — "
                            "disjointness unprovable"
                        )
                    continue
                m_ivs.append((mi[0], mi[1], me["path"]))
            hit, _ = _sweep_disjoint(b_ivs, m_ivs)
            if hit is not None:
                raise MergeConflict(
                    f"merge refused: branch file {hit[0]} and main "
                    f"file {hit[1]} may share keys on {key!r}"
                )

        # --- pool links for the branch's new bytes --------------------
        _link_pool_files(
            bdir, path, to_link, f"branch {name!r}",
            "the branch is unmergeable",
        )

        new_refs = dict(table_refs(path, version=latest))
        if name not in new_refs:
            raise MergeConflict(
                f"merge refused: branch {name!r} was dropped concurrently"
            )
        if drop:
            del new_refs[name]
        else:
            new_refs[name] = {
                **new_refs[name],
                # main now holds changes the branch lacks: a later
                # publish would revert them, so the branch is no longer
                # fast-forwardable. fork_version stays — repeat merges
                # of further APPENDS three-way against the same base.
                "base_version": None,
                "merged_version": latest + 1,
                "merged_ts": repr(time.time()),
            }
        commit_meta: dict[str, str] = {
            "op": "merge_branch", "branch": name,
            "branch_version": str(bv),
            "merge_base_version": str(fork_v),
            "refs": json.dumps(new_refs),
            **meta_props,
        }
        entries = sorted(out_by.values(), key=lambda e: e["path"])
        # a commit that does not land renames the branch dir back
        # before the next try re-derives
        tomb = _retire_branch_dir(path, name) if drop else None
        try:
            n = _commit_manifest(
                path, schema_json, entries, commit_meta,
                latest, lock_timeout_s,
            )
        except BaseException:
            if tomb is not None:
                os.replace(tomb, bdir)
            raise
        if tomb is not None:
            shutil.rmtree(tomb, ignore_errors=True)
        return n

    return _retry_lost_races(
        attempt, f"merge of branch {name!r} at {path}"
    )


# commit ops with zero logical row changes, which every change-feed
# reader skips: physical motion or a metadata-only property change
# (rename serves each range in its as-recorded schema — consumers
# spanning a rename map old names themselves, per
# versioned_rename_column). Ref-only commits (tag/drop_ref/branch)
# carry the file set verbatim. publish_branch is NOT here: it really
# changes content, and with no recorded CDC sidecars it takes the
# keyed snapshot-diff fallback (or raises loudly without keys).
_ZERO_CHANGE_OPS = frozenset({
    "compact", "rename_column", "set_constraint", "drop_constraint",
    "analyze", "drop_column", "widen_column", "set_partition_spec",
    "value_index", "refold_refs", "tag", "drop_ref", "branch",
})


def versioned_change_feed(
    spark: SparkSession,
    path: str,
    *,
    from_version: int,
    to_version: int | None = None,
    keys: list[str] | None = None,
) -> DataFrame:
    """The table's CHANGE DATA FEED over a committed version range
    (``from_version`` .. ``to_version``, both inclusive; ``to``
    defaults to the committed latest): one row per logical change with
    ``_change_type`` ∈ {insert, update_preimage, update_postimage,
    delete} and ``_commit_version`` — Delta's ``readChangeFeed``
    contract, the pull side every incremental consumer (replica sync,
    IVM refresh, downstream re-embedding) builds on. Preimages make
    the feed self-sufficient for consumers that fold OLD values out
    (signed-aggregate IVM, digest maintenance) — no time-travel join
    back into the base. The snapshot-diff fallback emits postimages
    only (the diff cannot see intermediate old values).

    Commits written with ``change_feed=True`` serve their recorded
    ``cdc-*`` pool files — native parquet scans, O(changes) however
    large the table, no Python in the data path. Commits WITHOUT a
    recording fall back to a snapshot diff of (v-1, v) — exact but
    O(table); this needs ``keys`` and is refused otherwise (loud,
    because silently paying table-scans per commit is how 100 TB
    pipelines die). ``op=compact`` and ``op=restore`` source commits
    are content-motion only: compaction contributes no logical
    changes and is skipped outright; a restore's changes ARE
    meaningful (it rolls content back) and use the fallback.
    Version 0 (table creation) contributes every row as ``insert``
    when asked for — served from the snapshot itself, no diff needed.

    Feed rows across an additive schema evolution align by name with
    NULL-fill (``allowMissingColumns``), newest schema wins."""
    from pyspark.sql import functions as F
    from pyspark.sql.types import StructType

    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    hi = committed if to_version is None else to_version
    if hi > committed:
        raise FileNotFoundError(
            f"version {hi} at {path} is not committed (latest: {committed})"
        )
    parts: list[DataFrame] = []
    for v in range(from_version, hi + 1):
        if not os.path.isdir(os.path.join(path, f"v={v}")):
            raise FileNotFoundError(
                f"version {v} at {path} has been vacuumed — the feed "
                "range is gone. Advance the consumer past it (accepting "
                "the gap) or run vacuum with retention covering the "
                "slowest consumer's cursor."
            )
        if snapshot_meta(path, "op", version=v) in _ZERO_CHANGE_OPS:
            continue
        cdc_json = snapshot_meta(path, "cdc_files", version=v)
        if v == 0:
            frame = versioned_read(spark, path, version=0).withColumn(
                "_change_type", F.lit("insert")
            )
        elif cdc_json is not None:
            man = _read_manifest(path, v)
            schema = StructType.fromJson(man["schema"]).add(
                "_change_type", "string"
            )
            frame = spark.read.schema(schema).parquet(
                *_pool_paths(path, json.loads(cdc_json))
            )
        else:
            if keys is None:
                raise ValueError(
                    f"version {v} at {path} has no recorded change feed "
                    "(commit without change_feed=True); pass keys=[...] to "
                    "allow the O(table) snapshot-diff fallback"
                )
            from skopje_spark.operators.cdc import snapshot_diff

            d = snapshot_diff(
                versioned_read(spark, path, version=v - 1),
                versioned_read(spark, path, version=v),
                keys,
            )
            frame = d.select(
                *[c for c in d.columns if c != "__op"],
                F.when(F.col("__op") == "I", F.lit("insert"))
                .when(F.col("__op") == "U", F.lit("update_postimage"))
                .otherwise(F.lit("delete"))
                .alias("_change_type"),
            )
        parts.append(frame.withColumn("_commit_version", F.lit(v)))
    if not parts:
        man = _read_manifest(path, hi)
        schema = (
            StructType.fromJson(man["schema"])
            .add("_change_type", "string")
            .add("_commit_version", "integer")
        )
        return spark.createDataFrame([], schema)
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p, allowMissingColumns=True)
    return out


def versioned_export_manifest(
    path: str,
    out_dir: str | None = None,
    *,
    version: int | None = None,
    ref: str | None = None,
) -> dict:
    """Export a committed snapshot as a PLAIN FILE LIST any external
    parquet reader can consume — Delta's symlink-format-manifest idea
    (``GENERATE symlink_format_manifest``): one ``manifest`` text file
    of absolute parquet paths (sorted, one per line), plus — on a
    partitioned table — one ``<target>=<value>/.../manifest`` per
    partition tuple so engines that mount partition directories can
    prune. DuckDB reads it as ``read_parquet([lines])``, Trino/Presto
    via a symlink table, a shell script via ``xargs``.

    EXACTNESS over convenience: the export refuses loudly when the
    snapshot's parquet bytes alone do not equal its logical content —
    any entry carrying deletion vectors (external readers would
    resurrect deleted rows; run :func:`versioned_purge` with
    ``min_dv_ratio`` ~0 or :func:`versioned_compact` first) or a
    schema whose logical names differ from the physical parquet names
    (post-rename; external readers would see physical names). A
    refused export names the remediation.

    Pure driver-side metadata: O(files) manifest arithmetic + one text
    write, no Spark session, no data read. Returns ``{"version",
    "n_files", "manifest_path"}``. The export is a point-in-time
    artifact — it references pool files by absolute path and is NOT
    vacuum-protected; tag the version (:func:`versioned_tag`) to pin
    it."""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    if ref is not None:
        if version is not None:
            raise ValueError("pass version or ref, not both")
        rpath, v = _resolve_ref(path, ref)
    else:
        rpath = path
        v = committed if version is None else version
        if v > committed:
            raise FileNotFoundError(
                f"version {v} at {path} is not committed "
                f"(latest: {committed})"
            )
    man = _read_manifest(rpath, v)
    dv_files = [e["path"] for e in man["files"] if e.get("dv_files")]
    if dv_files:
        raise ValueError(
            f"export refused: {len(dv_files)} file(s) carry deletion "
            "vectors — external readers would resurrect deleted rows. "
            "Materialize first (versioned_purge(min_dv_ratio=1e-9) or "
            "versioned_compact), then export the new version."
        )
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(man["schema"])
    mapping = _schema_mapping(schema)
    renamed = {n: p for n, p in mapping.items() if n != p}
    if renamed:
        raise ValueError(
            "export refused: renamed column(s) "
            f"{sorted(renamed)} serve logical names this store maps "
            "from physical parquet names — external readers would see "
            "the physical names. versioned_compact rewrites the data "
            "under the logical names; export that version."
        )
    out = (
        out_dir
        if out_dir is not None
        else os.path.join(rpath, "_exports", f"v={v}")
    )
    os.makedirs(out, exist_ok=True)
    abs_paths = sorted(
        os.path.abspath(os.path.join(rpath, e["path"]))
        for e in man["files"]
    )
    flat = os.path.join(out, "manifest")
    fd, tmp = tempfile.mkstemp(dir=out, prefix=".manifest-")
    with os.fdopen(fd, "w") as f:
        f.write("\n".join(abs_paths) + ("\n" if abs_paths else ""))
    os.replace(tmp, flat)
    spec = table_partitioning(rpath, version=v)
    if spec:
        targets = [t for t, _, _ in _parse_partition_spec(spec)]
        by_tuple: dict[tuple, list[str]] = {}
        for e in man["files"]:
            part = e.get("partition") or {}
            key = tuple(str(part.get(t)) for t in targets)
            by_tuple.setdefault(key, []).append(
                os.path.abspath(os.path.join(rpath, e["path"]))
            )
        for key, files in sorted(by_tuple.items()):
            pdir = os.path.join(
                out, *(f"{t}={val}" for t, val in zip(targets, key))
            )
            os.makedirs(pdir, exist_ok=True)
            fd, tmp = tempfile.mkstemp(dir=pdir, prefix=".manifest-")
            with os.fdopen(fd, "w") as f:
                f.write("\n".join(sorted(files)) + "\n")
            os.replace(tmp, os.path.join(pdir, "manifest"))
    return {"version": v, "n_files": len(abs_paths), "manifest_path": flat}


def versioned_replicate(
    spark: SparkSession,
    src_path: str,
    dst_path: str,
    checkpoint: str,
    *,
    keys: list[str],
    change_feed: bool = False,
) -> int | None:
    """Incrementally sync a REPLICA table from the source's recorded
    change feed — the standard CDF consumer: read the feed from the
    checkpointed cursor to the source's committed latest, reduce it to
    each key's FINAL state across the range (a multi-commit chain like
    insert → update → delete nets to its last action), apply as one
    upsert + one key-frame DV delete on the replica, then advance the
    cursor. Returns the replica's new version, or None when already
    current.

    Cost: O(|feed|) reduction + a partial-rewrite merge + a
    vectors-only delete — the source table is never scanned, which is
    the entire point of replicating from the feed at 100 TB.

    Exactly-once by replay: a crash anywhere before the cursor
    advance re-applies the same range, and both apply steps are
    content-idempotent (same-value upsert, absent-key delete). First
    sync (fresh cursor) starts at version 0, whose creation rows the
    feed serves as inserts — no separate bootstrap copy.

    ``change_feed=True`` makes the replica record ITS OWN feed, so
    further consumers can chain off it (a replica of a replica, a
    view maintained on the replica) without ever touching the
    original source."""
    committed = latest_version(src_path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {src_path}")
    frm = change_feed_cursor(src_path, checkpoint)
    if frm > committed:
        return None  # already current
    feed = versioned_change_feed(
        spark, src_path, from_version=frm, to_version=committed
    )
    ups, dels = _net_final_changes(feed, keys)
    v = None
    if latest_version(dst_path) is None:
        v = versioned_write(ups, dst_path)
    elif ups.limit(1).count():
        v = versioned_upsert(
            spark, dst_path, ups, keys, change_feed=change_feed
        )
    if dels.limit(1).count():
        v = versioned_delete(
            spark, dst_path, dels, change_feed=change_feed
        )
    change_feed_advance(checkpoint, committed)
    return v


def _net_final_changes(
    feed: DataFrame, keys: list[str]
) -> tuple[DataFrame, DataFrame]:
    """Reduce a change feed range to each key's FINAL action, the one
    reduction of every feed consumer that applies changes by key
    (:func:`versioned_replicate`, ``LivePipeline`` upsert nodes).
    Returns (upserts without ``_change_type``, deleted key frame), both
    over one eager local checkpoint.

    The newest commit wins; preimages are not actions (they describe
    the old state their postimage replaces). A single commit can
    record a delete AND an insert of one key
    (``versioned_replace_where(change_feed=True)`` stages the removal
    and the replacement together); within a commit the
    insert/postimage is the final state, so same-commit ties rank the
    delete lowest — the delete of a replaced key is never elected."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    act = feed.filter(F.col("_change_type") != "update_preimage")
    w = Window.partitionBy(*keys).orderBy(
        F.col("_commit_version").desc(),
        F.when(F.col("_change_type") == "delete", F.lit(0))
        .otherwise(F.lit(1))
        .desc(),
    )
    last = (
        act.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn", "_commit_version")
        .localCheckpoint(eager=True)
    )
    ups = last.filter(F.col("_change_type") != "delete").drop("_change_type")
    dels = last.filter(F.col("_change_type") == "delete").select(*keys)
    return ups, dels


def change_feed_cursor(path: str, checkpoint: str) -> int:
    """The next unconsumed version for a checkpointed feed consumer:
    0 for a fresh checkpoint, else one past the last version
    acknowledged by :func:`change_feed_advance`. The read/advance pair
    gives exactly-once consumption: read the feed from the cursor to
    the committed latest, apply it transactionally downstream, THEN
    advance — a crash between apply and advance replays the same
    range, which an idempotent (keyed) downstream absorbs."""
    try:
        with open(checkpoint) as f:
            return int(f.read().strip()) + 1
    except (FileNotFoundError, ValueError):
        return 0


def change_feed_advance(checkpoint: str, version: int) -> None:
    """Acknowledge consumption through ``version`` (atomic replace —
    a torn write can never produce a half-advanced cursor)."""
    d = os.path.dirname(os.path.abspath(checkpoint)) or "."
    os.makedirs(d, exist_ok=True)
    fd, tmp = tempfile.mkstemp(dir=d, prefix=".cfc")
    with os.fdopen(fd, "w") as f:
        f.write(str(version))
    os.replace(tmp, checkpoint)


def stream_incarnation_id(checkpoint: str) -> str:
    """Stable id of one logical stream incarnation: a hash of the
    checkpoint location. Structured Streaming's batch ids are only
    meaningful WITHIN one checkpoint — a job restarted with a fresh
    checkpoint renumbers batches from 0 over re-read (and possibly
    NEW) data, so a ledger keyed by bare batch_id would skip brand-new
    batches that happen to reuse old numbers and silently drop their
    data. Scoping the ledger by (incarnation, batch) — Delta's txn
    (appId, version) idea — confines dedup to true same-checkpoint
    replays; a new incarnation re-applies everything, which the
    key-MERGE makes content-idempotent."""
    import hashlib

    return hashlib.sha256(
        os.path.abspath(checkpoint).encode("utf-8")
    ).hexdigest()[:12]


def _stream_ledger(path: str, version: int | None) -> dict[str, int]:
    """The ``stream_ledger`` table property at ``version``: writer id
    → the last batch id it committed (empty before any)."""
    raw = None if version is None else snapshot_meta(
        path, "stream_ledger", version=version
    )
    return json.loads(raw or "{}")


def _ledger_entry(
    path: str, version: int | None, stream_id: str, batch_id: int
) -> dict[str, str] | None:
    """THE replay check of every ledgered stream commit: the batch's
    own ``stream_ledger`` entry, to commit WITH its data (a post-commit
    stamp would leave a crash window where a replay re-applies the
    batch), or None when the ledger at ``version`` already covers
    ``batch_id`` (a replay)."""
    if _stream_ledger(path, version).get(stream_id, -1) >= batch_id:
        return None
    return {"stream_ledger": json.dumps({stream_id: int(batch_id)})}


def last_stream_batch(path: str, *, stream_id: str | None = None) -> int | None:
    """Highest micro-batch id durably applied to the table BY the
    given stream incarnation, read from the latest commit's carried
    ``stream_ledger`` property: one marker read, however long the
    history and whatever ``vacuum`` retired. ``stream_id=None`` returns
    the highest batch id of any writer in the ledger
    (display/diagnostics)."""
    led = _stream_ledger(path, latest_version(path))
    if stream_id is None:
        return max(led.values(), default=None)
    return led.get(stream_id)


def apply_stream_batch(
    path: str,
    keys: list[str],
    batch_df: DataFrame,
    batch_id: int,
    stream_id: str,
    on_commit=None,
    change_feed: bool = False,
) -> bool:
    """One ledgered micro-batch apply (the foreachBatch body of
    :func:`versioned_stream_upsert`, exposed so replay semantics are
    directly unit-testable): MERGE the batch unless this incarnation's
    ledger already covers ``batch_id``; run ``on_commit`` either way.
    Returns whether the batch was freshly applied. ``change_feed``
    passes through to the MERGE so every fresh stream commit records
    its logical changes (the creation commit needs no recording —
    version 0 is served as inserts by the feed reader)."""
    committed = latest_version(path)
    meta = _ledger_entry(path, committed, stream_id, batch_id)
    if meta is not None and committed is None:
        versioned_write(batch_df, path, meta=meta)
    elif meta is not None:
        versioned_upsert(
            batch_df.sparkSession, path, batch_df, keys, meta=meta,
            change_feed=change_feed,
        )
    fresh = meta is not None
    # on_commit runs even for replay-SKIPPED batches: a crash in the
    # window between the base commit and the hook's own work would
    # otherwise never be healed (the replay skips the commit and would
    # skip the hook with it). Hooks must therefore be idempotent when
    # the base is unchanged — versioned_ivm_view is, by its
    # base_version marker. ``fresh`` tells the hook whether THIS call
    # produced the latest commit (so the batch's keys bound what
    # changed); replay-skipped calls must not assume that.
    if on_commit is not None:
        on_commit(batch_df.sparkSession, batch_df, fresh)
    return fresh


def versioned_stream_upsert(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    *,
    available_now: bool = True,
    on_commit=None,
    change_feed: bool = False,
):
    """EXACTLY-ONCE streaming MERGE into the versioned table:
    ``foreachBatch`` + :func:`versioned_upsert`, made idempotent by a
    batch-id ledger riding inside each commit.

    Structured Streaming guarantees at-least-once delivery to
    foreachBatch — a batch that crashed mid-apply is REPLAYED with
    the same ``batch_id`` under the SAME checkpoint. Each successful
    apply commits ``{<incarnation>: <batch_id>}`` into the carried
    ``stream_ledger`` table property inside the snapshot (written
    before the pointer swap, so data and ledger are atomic together),
    where the incarnation is :func:`stream_incarnation_id` of the
    checkpoint. A replayed batch whose id is <= this incarnation's
    ledger entry is skipped without touching the table —
    same-checkpoint replays leave BOTH row content and version history
    identical. The ledger is read from the latest commit alone, so
    interleaved commits and ``vacuum`` never lose it, and streams with
    different checkpoints keep separate entries on one table.

    A job restarted with a FRESH checkpoint is a NEW incarnation:
    batch ids renumber from 0 over re-read (and possibly new) data,
    so its batches are deliberately NOT skipped — a bare-batch-id
    ledger here would silently drop whatever new data landed in the
    renumbered early batches. Re-applying the re-read prefix is
    content-idempotent through the key-MERGE (extra versions, no row
    changes) — correctness first, history compactness second.

    First batch on an empty table commits v=0 directly; later batches
    run the anti-join MERGE. Returns the streaming query.

    ``on_commit(spark, batch_df, fresh)``, if given, runs after EVERY
    batch — fresh or replay-skipped (``fresh`` False) — so idempotent
    downstream maintenance (e.g. a :func:`versioned_ivm_view` refresh)
    self-heals across crashes in the commit→hook window."""
    from skopje_spark.streaming.streams import foreach_batch_sink

    sid = stream_incarnation_id(checkpoint)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        apply_stream_batch(
            path, keys, batch_df, batch_id, sid, on_commit=on_commit,
            change_feed=change_feed,
        )

    return foreach_batch_sink(
        stream_df, checkpoint, apply_batch, available_now=available_now
    )


def vacuum(
    path: str, *, keep: int = 2, min_file_age_s: float = 600.0,
    dry_run: bool = False,
) -> list[int]:
    """Drop all but the newest ``keep`` COMMITTED snapshots (never the
    current pointer target), remove uncommitted crash residue above
    the pointer, then REF-COUNT the data pool: a file is deleted only
    when no retained manifest references it AND it is older than
    ``min_file_age_s``. Returns the committed versions removed.

    The keep-window is computed over committed versions only —
    residue directories never consume retention slots (they are junk,
    not history), so ``keep=2`` always retains two COMMITTED
    snapshots. The age gate is the Delta-style guard against the
    vacuum/writer race: an in-flight writer's freshly pooled (still
    unreferenced) files and a racing merge's carried-file reads both
    stay safe as long as retention exceeds the longest write/scan.
    Run it with retention matched to the longest running reader — a
    reader pinned to a vacuumed version fails on its next file open,
    exactly as in Delta.

    Writer progress — stream batch ledgers, live-pipeline input
    cursors — is a carried table property of the latest commit, which
    is always retained, so no keep-window strands a writer. A
    maintained view's ``base_version`` is different: it names a
    version of its BASE table, which the base's keep-window must
    cover.

    ``dry_run=True`` reports the versions that WOULD be removed and
    deletes nothing — the safety check before vacuuming a table whose
    maintained views pin ``base_version`` markers into its history."""
    committed = latest_version(path)
    all_vs = _versions(path)
    vs = [v for v in all_vs if committed is not None and v <= committed]
    keep_set = set(vs[-keep:]) | ({committed} if committed is not None else set())
    # TAGGED snapshots are pinned outside the keep-window: a tag is a
    # durable promise ("the corpus model X trained on") and vacuum
    # honors it until versioned_drop_ref releases it. Branches need no
    # slot here — they are independent tables whose pools hold their
    # own hard links.
    if committed is not None:
        for r in table_refs(path, version=committed).values():
            if r.get("type") == "tag":
                keep_set.add(int(r["version"]))
    removed = []
    for v in vs:
        if v not in keep_set:
            removed.append(v)
    if dry_run:
        return removed
    for v in removed:
        shutil.rmtree(os.path.join(path, f"v={v}"))
    # Crash residue past the pointer: age-gate on directory mtime (the
    # same Delta-style guard the pool pass uses) so a vacuum racing an
    # in-flight commit — whose manifest dir has been renamed into place
    # but whose pointer swap hasn't landed yet — never deletes the
    # about-to-be-published version. Genuine crash residue is by
    # definition old; an in-flight commit's dir is seconds old.
    now = time.time()
    for v in all_vs:
        if committed is None or v > committed:
            vdir = os.path.join(path, f"v={v}")
            try:
                if now - os.path.getmtime(vdir) >= min_file_age_s:
                    shutil.rmtree(vdir, ignore_errors=True)
            except FileNotFoundError:
                pass
    # ref-count the pool across every RETAINED manifest — data files,
    # DV sidecars, AND the manifest segment files themselves (they are
    # content-addressed pool citizens shared across versions)
    referenced: set[str] = set()
    for v in keep_set:
        try:
            raw_path = os.path.join(path, f"v={v}", _MANIFEST_NAME)
            with open(raw_path) as f:
                raw = json.load(f)
            for ref in raw.get("segments", []):
                referenced.add(os.path.basename(ref["path"]))
            for e in _read_manifest(path, v)["files"]:
                referenced.add(os.path.basename(e["path"]))
                for p in e.get("dv_files", []):  # deletion-vector sidecars
                    referenced.add(os.path.basename(p))
        except FileNotFoundError:
            pass
        cdc_json = snapshot_meta(path, "cdc_files", version=v)
        if cdc_json:  # change-feed sidecars ride on commit markers
            for p in json.loads(cdc_json):
                referenced.add(os.path.basename(p))
    pool = os.path.join(path, _DATA_DIR)
    if os.path.isdir(pool):
        now = time.time()
        for f in os.listdir(pool):
            full = os.path.join(pool, f)
            try:
                if f not in referenced and now - os.path.getmtime(full) >= min_file_age_s:
                    os.unlink(full)
            except FileNotFoundError:
                pass
    return removed


def versioned_changes(
    spark: SparkSession,
    path: str,
    keys: list[str],
    *,
    from_version: int,
    to_version: int | None = None,
) -> DataFrame:
    """CDC from time travel: the I/U/D changelog between two committed
    snapshots (``to_version`` defaults to the committed latest) —
    operators/cdc.py's snapshot_diff over the two pinned reads. This
    is the read-side complement of :func:`versioned_upsert`: downstream
    consumers (incremental rollups, replica sync, digest maintenance)
    pull exactly what changed between commits without the writer
    having to emit a changelog. Caveat for digest maintenance
    (quality.table_digest_update): U rows carry NEW-side values (D
    rows carry old images), so U keys' BEFORE-images must come from
    the ``from_version`` snapshot — :func:`versioned_digest_frames`
    does that wiring; use it."""
    from skopje_spark.operators.cdc import snapshot_diff

    old = versioned_read(spark, path, version=from_version)
    new = versioned_read(spark, path, version=to_version)
    return snapshot_diff(old, new, keys)


def versioned_digest_frames(
    spark: SparkSession,
    path: str,
    keys: list[str],
    *,
    from_version: int,
    to_version: int | None = None,
) -> tuple[DataFrame, DataFrame]:
    """The CORRECT (inserts, deletes) pair for incremental digest
    maintenance (quality.table_digest_update) between two commits —
    the wiring the changelog alone cannot provide: U rows carry
    NEW-side values only, so the delete side fetches the U keys'
    BEFORE-images from the ``from_version`` snapshot (D rows already
    carry old values).

    ``inserts`` = new images of I and U rows; ``deletes`` = old
    images of U and D rows. Feeding these to table_digest_update
    makes ``update(digest(old)) == digest(new)`` EXACTLY
    (unit-pinned, including updates that change digest columns —
    the case naive changelog wiring silently corrupts).

    Cost: the changelog diff (one full-outer key join) + one
    left-semi join of the old snapshot against the U keys."""
    from pyspark.sql import functions as F

    from skopje_spark.operators.cdc import snapshot_diff

    old = versioned_read(spark, path, version=from_version)
    new = versioned_read(spark, path, version=to_version)
    ch = snapshot_diff(old, new, keys)
    cols = old.columns
    inserts = ch.filter(F.col("__op").isin("I", "U")).select(*cols)
    u_keys = ch.filter(F.col("__op") == "U").select(*keys)
    deletes = (
        old.join(u_keys, keys, "left_semi")
        .select(*cols)
        .unionByName(ch.filter(F.col("__op") == "D").select(*cols))
    )
    return inserts, deletes


def _compact_commit(
    spark: SparkSession,
    path: str,
    plan: _DmlPlan,
    *,
    target_files: int | None,
    target_file_bytes: int,
    guarded: bool,
    lock_timeout_s: float,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
) -> int:
    """THE rewrite of compaction and purge: read ``plan.touched`` (the
    covered files) with their deletion vectors applied, lay the rows
    out in ``target_files`` files — by default one per
    ``target_file_bytes`` of LIVE bytes, since dead rows never come
    back — and commit through :func:`_dml_commit` with
    ``plan.carried`` kept as they are, ``plan.closed_refs`` by
    reference and, when ``guarded``, a compare-and-swap on the base.

    Layout: z-order over ``cluster_by`` with ``zorder`` (one extra
    aggregate job for the column ranges), a range partition and sort
    on ``cluster_by`` without, and with neither a ``coalesce`` — a
    NARROW dependency, no shuffle — or a ``repartition`` when asked to
    grow the file count. On a partitioned table the file budget is
    spread across the covered partition tuples (keyed by transform
    TARGET, as the entries record them).

    A rewrite that carries no file replaces every file, so no earlier
    layout epoch and no pre-rename physical name survives it: it
    resets the partition-spec history and stages under the logical
    column names.

    A maintained view's ``base_version`` is the one source-commit
    marker a rewrite keeps: the view's content is unchanged, so its
    next refresh still starts there. It is deliberately no carried
    table property — a manual write to the view must still strand
    that refresh loudly."""
    import math

    from pyspark.sql.types import StructType

    covered = plan.touched
    view_base = snapshot_meta(path, "base_version", version=plan.base_v)
    if view_base is not None:
        plan.markers["base_version"] = view_base
    if not plan.carried and not plan.closed_refs:
        plan.schema_json = {**plan.schema_json, "fields": [
            {**f, "metadata": {
                k: v for k, v in (f.get("metadata") or {}).items()
                if k != "physical"
            }}
            for f in plan.schema_json["fields"]
        ]}
        plan.markers["partition_specs"] = "[]"
    plan.markers["source_version"] = str(plan.base_v)
    if covered:
        cur = _read_entries(
            spark, path, covered, StructType.fromJson(plan.man["schema"])
        )
        if target_files is None:
            live_bytes = sum(
                int(e["bytes"])
                * (int(e["rows"]) - int(e.get("dv_rows", 0)))
                // max(1, int(e["rows"]))
                for e in covered
            )
            target_files = max(1, math.ceil(live_bytes / target_file_bytes))
        if cluster_by and zorder:
            from pyspark.sql import functions as F

            from skopje_spark.sources.skipping import column_ranges, zorder_col

            z = zorder_col(
                [F.col(c) for c in cluster_by],
                column_ranges(cur, list(cluster_by)),
            )
            plan.rows = (
                cur.withColumn("__z", z)
                .repartitionByRange(target_files, F.col("__z"))
                .sortWithinPartitions("__z")
                .drop("__z")
            )
        elif cluster_by:
            plan.rows = cur.repartitionByRange(
                target_files, *cluster_by
            ).sortWithinPartitions(*cluster_by)
        elif target_files <= cur.rdd.getNumPartitions():
            plan.rows = cur.coalesce(target_files)
        else:
            plan.rows = cur.repartition(target_files)
        spec = table_partitioning(path, version=plan.base_v)
        if spec:
            tgts = [t for t, _, _ in _parse_partition_spec(spec)]
            n_parts = len({
                tuple((e.get("partition") or {}).get(t) for t in tgts)
                for e in covered
            })
            plan.files_per_partition = max(1, target_files // n_parts)
    return _dml_commit(
        path, plan, meta=None,
        expected_version=plan.base_v if guarded else _UNGUARDED,
        lock_timeout_s=lock_timeout_s,
    )


def versioned_compact(
    spark: SparkSession,
    path: str,
    *,
    target_files: int | None = None,
    target_file_bytes: int = 128 * 1024 * 1024,
    guarded: bool = False,
    cluster_by: list[str] | None = None,
    zorder: bool = False,
    where: dict | None = None,
) -> int:
    """Small-file compaction as a commit: rewrite the committed latest
    snapshot into fewer, right-sized files and commit the result as
    the next version (markers ``op=compact``, ``source_version``,
    ``n_files_compacted``, plus a maintained view's ``base_version``;
    table properties carry as on every commit).
    Content-identical by construction; history (and any pinned
    readers) untouched — compaction is just another snapshot.

    ``guarded=True`` commits with compare-and-swap on the source
    version — REQUIRED whenever writers may run concurrently: an
    unguarded compactor that reads v, rewrites, and commits after
    another writer landed v+1 would publish a snapshot that silently
    DROPS that writer's rows (the classic compaction/ingest race).
    Under the guard the compactor loses the race loudly
    (:class:`CommitConflict`) and can simply re-run against the new
    latest; the default stays unguarded for single-writer pipelines.

    Sizing: ``target_files`` wins if given; otherwise
    ceil(live bytes / ``target_file_bytes``). The rewrite uses
    ``coalesce`` when reducing the file count — a NARROW dependency
    (each output task reads several input files, no shuffle), which is
    the whole economics of compaction at 100 TB: IO-bound copy, zero
    exchange. Falls back to ``repartition`` only if asked to *grow*
    the file count.

    ``cluster_by``: OPTIMIZE-style re-clustering — range-partition and
    sort the rewrite on the given columns, paying the one shuffle
    coalesce avoids, so every output file's [min, max] stats on those
    columns become tight again. After enough scattered MERGEs a
    key-clustered table degrades (rewritten files span wide key
    ranges, so partial-rewrite pruning and pruned reads elect ever
    more candidates); a clustered compaction restores the skip
    economics in one pass. ``zorder=True`` interleaves the columns
    instead (one extra aggregate job for their ranges), so a narrow
    range on ANY of them skips files. Content identical either way.

    ``where`` (column → value or ``(lo, hi)``, the bounds-dict shape)
    SCOPES the compaction, clustering and z-order included: only files
    PROVABLY fully inside the bounds are rewritten — the
    one-hot-partition OPTIMIZE every streaming ingest needs nightly —
    and every other file (boundary files included: compaction is an
    optimization, partial coverage can simply wait) rides into the new
    version unchanged; a manifest segment whose ref aggregates prove
    it disjoint from the bounds is carried by reference, never
    opened. At 100 TB this is the difference between re-copying the
    table and re-copying one day, and between parsing the whole
    manifest and parsing that day's segments. A scope nothing
    provably covers is a no-op."""
    from pyspark.sql.types import StructType

    base_v, man = _base_snapshot(path, _UNGUARDED)
    if where is None:
        closed, covered, n_segments = _split_segments(path, man, [])
        carried: list[dict] = []
        markers = {}
    else:
        schema = StructType.fromJson(man["schema"])
        resolved = _resolve_bounds(
            where, schema, _schema_mapping(schema),
            table_partition_specs(path, version=base_v),
        )
        closed, open_entries, n_segments = _split_segments(
            path, man, _resolved_ref_bounds(resolved)
        )
        boundary, carried, covered = _classify_for_delete(
            open_entries, resolved
        )
        carried += boundary  # boundary files wait for full bounds
        if not covered:
            return base_v  # nothing provably in scope: no empty commit
        markers = {"compact_where": json.dumps(
            {k: repr(val) for k, val in where.items()}, sort_keys=True
        )}
    markers["n_files_compacted"] = str(len(covered))
    plan = _DmlPlan(
        "compact", base_v, man, man["schema"], closed, n_segments, carried,
        touched=covered, markers=markers,
    )
    return _compact_commit(
        spark, path, plan, target_files=target_files,
        target_file_bytes=target_file_bytes, guarded=guarded,
        lock_timeout_s=600.0, cluster_by=cluster_by, zorder=zorder,
    )


def versioned_purge(
    spark: SparkSession,
    path: str,
    *,
    min_dv_ratio: float = 0.1,
    target_file_bytes: int = 128 * 1024 * 1024,
    guarded: bool = False,
    lock_timeout_s: float = 600.0,
) -> int:
    """PURGE deletion-vector debt from exactly the files that carry
    too much of it — Iceberg's ``rewrite_data_files`` with a
    delete-file threshold / Delta's ``REORG TABLE ... APPLY (PURGE)``.
    Merge-on-read DELETEs are the right write-side economics (zero
    data files rewritten), but every subsequent read pays the
    (file, position) anti-join for DV'd files; once a file's deleted
    fraction crosses ``min_dv_ratio`` the rewrite pays for itself.
    Three tiers, all decided from manifest arithmetic:

    - files with ZERO live rows drop from the manifest outright — no
      read, no write, their bytes await vacuum;
    - files at or above ``min_dv_ratio`` are read DV-applied and
      rewritten compacted (they shed their vectors and their dead
      rows);
    - everything else — including files below the threshold and all
      pristine files — carries by identical entry, untouched.

    Content-identical by construction (the rewrite reads exactly the
    surviving rows); history and pinned readers untouched; partition
    layout preserved (the rewrite re-fans per recorded tuple); markers
    as for :func:`versioned_compact`.
    ``guarded=True`` compare-and-swaps on the source version — the
    same compaction/ingest race contract as :func:`versioned_compact`.
    Returns the new version (or the current one when nothing
    qualifies — a clean table is a no-op, not an empty commit).

    Scale: a 100 TB table that deleted 1% of rows scattered across 2%
    of its files rewrites those files only — O(affected bytes), not
    O(table). The decision reads the kilobyte top-level manifest and
    parses only the segments whose ref records deleted rows
    (``dv_rows > 0``; a ref that records no count is opened too):
    O(segments holding vectors) driver JSON, every pristine segment
    carried by reference."""
    if not 0.0 < min_dv_ratio <= 1.0:
        raise ValueError(f"min_dv_ratio must be in (0, 1]: {min_dv_ratio}")
    base_v, man = _base_snapshot(path, _UNGUARDED)
    refs = man.get("segments")
    closed = [r for r in refs or [] if r.get("dv_rows", 1) == 0]
    open_entries = man["files"] if refs is None else _ref_entries(
        path, [r for r in refs if r.get("dv_rows", 1) != 0]
    )
    dead: list[dict] = []
    covered: list[dict] = []
    carried: list[dict] = []
    for e in open_entries:
        rows = int(e.get("rows", 0))
        dv = int(e.get("dv_rows", 0))
        if rows and dv >= rows:
            dead.append(e)
        elif rows and dv and dv / rows >= min_dv_ratio:
            covered.append(e)
        else:
            carried.append(e)
    if not dead and not covered:
        return base_v
    plan = _DmlPlan(
        "compact",  # content-motion only: feed/IVM treat it as such
        base_v, man, man["schema"], closed,
        None if refs is None else len(refs), carried, touched=covered,
        markers={
            "purge_min_dv_ratio": repr(float(min_dv_ratio)),
            "n_files_purged": str(len(covered)),
            "n_files_dropped": str(len(dead)),
        },
    )
    return _compact_commit(
        spark, path, plan, target_files=None,
        target_file_bytes=target_file_bytes, guarded=guarded,
        lock_timeout_s=lock_timeout_s,
    )


def versioned_ivm_view(
    spark: SparkSession,
    base_path: str,
    view_path: str,
    *,
    table_keys: list[str],
    group_keys: list[str],
    sum_cols: list[str] = (),
    min_cols: list[str] = (),
    max_cols: list[str] = (),
    touched_keys: DataFrame | None = None,
    use_change_feed: bool = False,
) -> int:
    """Materialized grouped-aggregate view OF a versioned table,
    maintained incrementally ACROSS commits — operators/ivm.py wired
    to time travel.

    ``use_change_feed=True`` refreshes from the base's RECORDED change
    feed (commits written with ``change_feed=True``) instead of a
    snapshot diff: delta input becomes O(|changes|) native cdc reads —
    no full-outer join of two base snapshots, no before-image join
    (feed preimages serve that), no ``touched_keys`` hint needed.
    Signed folding telescopes multi-commit chains (insert then update
    then delete of one key nets to zero) exactly. Loud failure if any
    commit in the range lacks a recording — silently degrading to
    per-commit table scans is how 100 TB refreshes die.

    First call (no committed view): full :func:`ivm_build` of the
    base's committed latest, committed with a ``base_version`` marker.
    Every later call: CDC changelog between the view's recorded
    ``base_version`` and the base's current latest
    (:func:`versioned_changes`), folded into the stored view with
    :func:`ivm_apply` (U/D before-images come from the PINNED old
    snapshot — exactly the wiring the digest-maintenance docs
    mandate), committed as the view's next version with the new
    marker. Already-current views return their version untouched
    (refresh is idempotent).

    Refresh cost: the changelog is one full-outer join of the two base
    snapshots (each shuffles once) plus the O(|view| + |changes|)
    fold (+ a touched-group semi-join slice of the new snapshot when
    min/max are kept) — the base is never re-AGGREGATED after the
    first call. When the caller KNOWS which table keys can have
    changed between the two versions (a stream batch's keys, a load
    manifest), pass them as ``touched_keys``: both snapshots are then
    pruned to those keys by broadcast semi-join BEFORE diffing, so no
    base-sized shuffle happens at all — per-refresh cost drops to
    scan + O(|view| + |touched|). The hint is a correctness contract:
    a change outside ``touched_keys`` is silently missed.

    Retention contract: the base's ``vacuum`` must keep every version
    still referenced by a view's ``base_version`` marker, or the next
    refresh falls back to failing loudly on the missing snapshot
    (never silently full-rebuilding)."""
    from skopje_spark.operators.cdc import snapshot_diff
    from skopje_spark.operators.ivm import ivm_apply, ivm_build

    base_v = latest_version(base_path)
    if base_v is None:
        raise FileNotFoundError(f"no committed version at {base_path}")
    view_v = latest_version(view_path)
    if view_v is None:
        view = ivm_build(
            versioned_read(spark, base_path, version=base_v),
            group_keys, sum_cols, min_cols, max_cols,
        )
        return versioned_write(
            view, view_path,
            meta={"base_version": str(base_v), "op": "ivm_full"},
        )

    marker = snapshot_meta(view_path, "base_version", version=view_v)
    if marker is None:
        raise ValueError(
            f"view at {view_path} v={view_v} carries no base_version marker"
        )
    last_base = int(marker)
    if last_base == base_v:
        return view_v  # already current

    new = versioned_read(spark, base_path, version=base_v)
    if use_change_feed:
        from skopje_spark.operators.ivm import ivm_apply_feed

        feed = versioned_change_feed(
            spark, base_path, from_version=last_base + 1, to_version=base_v
        )
        folded = ivm_apply_feed(
            versioned_read(spark, view_path, version=view_v),
            feed,
            group_keys=group_keys,
            sum_cols=sum_cols,
            min_cols=min_cols,
            max_cols=max_cols,
            new=new if (min_cols or max_cols) else None,
        )
        return versioned_write(
            folded, view_path,
            meta={"base_version": str(base_v), "op": "ivm_feed"},
        )
    old = versioned_read(spark, base_path, version=last_base)
    diff_old, diff_new = old, new
    if touched_keys is not None:
        from pyspark.sql import functions as _F

        tk = _F.broadcast(touched_keys.select(*table_keys).distinct())
        diff_old = old.join(tk, list(table_keys), "left_semi")
        diff_new = new.join(tk, list(table_keys), "left_semi")
    changelog = snapshot_diff(diff_old, diff_new, table_keys)
    folded = ivm_apply(
        versioned_read(spark, view_path, version=view_v),
        changelog,
        diff_old,
        table_keys=table_keys,
        group_keys=group_keys,
        sum_cols=sum_cols,
        min_cols=min_cols,
        max_cols=max_cols,
        new=new if (min_cols or max_cols) else None,
    )
    return versioned_write(
        folded, view_path,
        meta={"base_version": str(base_v), "op": "ivm_incremental"},
    )


def versioned_stream_materialized_view(
    stream_df: DataFrame,
    base_path: str,
    view_path: str,
    keys: list[str],
    checkpoint: str,
    *,
    group_keys: list[str],
    sum_cols: list[str] = (),
    min_cols: list[str] = (),
    max_cols: list[str] = (),
    available_now: bool = True,
    use_change_feed: bool = False,
):
    """Stream → versioned base table → incrementally maintained
    rollup, exactly-once end to end: each micro-batch MERGEs into the
    base (ledger-idempotent, :func:`versioned_stream_upsert`) and then
    folds the base's new commit into the materialized view. A full
    replay leaves base history, base content, view history, and view
    content all identical; a crash between base commit and view
    refresh heals on the next batch because the refresh hook also
    runs for replay-skipped batches and is idempotent when current.

    Per-batch cost: on the common path (this batch produced the
    latest commit and the view was current before it), the batch's
    OWN keys are passed to :func:`versioned_ivm_view` as
    ``touched_keys`` — both base snapshots prune to those keys by
    broadcast semi-join before diffing, so the refresh never shuffles
    the base: scan + O(|view| + |batch|). Only the catch-up path (a
    view found ≥2 commits behind, i.e. after a crash or an external
    base write) pays the full snapshot diff, once.

    Retention: run the base's ``vacuum`` with enough versions to keep
    the view's last ``base_version`` target (consecutive refreshes
    need only keep>=2). Returns the streaming query."""

    def refresh(spark: SparkSession, batch_df: DataFrame, fresh: bool) -> None:
        base_v = latest_version(base_path)
        if base_v is None:
            return  # nothing committed yet (first batch empty)
        if use_change_feed:
            versioned_ivm_view(
                spark, base_path, view_path,
                table_keys=keys, group_keys=group_keys,
                sum_cols=sum_cols, min_cols=min_cols, max_cols=max_cols,
                use_change_feed=True,
            )
            return
        hint = None
        if fresh:
            # this batch produced commit base_v; if the view is
            # exactly one commit behind, everything that changed
            # between the versions is this batch's key set
            view_v = latest_version(view_path)
            if view_v is not None:
                m = snapshot_meta(view_path, "base_version", version=view_v)
                if m is not None and int(m) == base_v - 1:
                    hint = batch_df
        versioned_ivm_view(
            spark,
            base_path,
            view_path,
            table_keys=keys,
            group_keys=group_keys,
            sum_cols=sum_cols,
            min_cols=min_cols,
            max_cols=max_cols,
            touched_keys=hint,
        )

    return versioned_stream_upsert(
        stream_df,
        base_path,
        keys,
        checkpoint,
        available_now=available_now,
        on_commit=refresh,
        change_feed=use_change_feed,
    )


def apply_changelog_batch(
    spark: SparkSession,
    path: str,
    changelog: DataFrame,
    keys: list[str],
    *,
    op_col: str = "__op",
    change_feed: bool = False,
    expected_version: int | None | object = _UNGUARDED,
    meta: dict[str, str] | None = None,
) -> int:
    """Apply one I/U/D changelog batch (the
    :func:`~skopje_spark.operators.cdc.snapshot_diff` shape — key +
    value columns + ``op_col`` ∈ {'I','U','D'}) as ONE merge commit:
    D rows delete their target, I/U rows upsert theirs — the
    ingestion surface for consuming ANOTHER system's change stream
    into the lake. Built on :func:`versioned_merge`'s extra-source-
    column support: the op column drives the clauses and never
    reaches the table. One commit per batch keeps the apply atomic
    (no torn delete-then-upsert window) and partial-rewrite cheap.

    Semantic notes: a 'D' for an absent key is a no-op (it matches
    nothing); an 'I' for a present key behaves as upsert (SQL
    changelogs replay; strict-insert semantics would make replays
    poison). One row per key per batch — the MERGE cardinality guard
    enforces it, so feed a REDUCED changelog (last action per key),
    exactly what :func:`versioned_replicate`'s reduction produces."""
    return versioned_merge(
        spark,
        path,
        changelog,
        keys,
        when_matched_delete=f"src_{op_col} = 'D'",
        when_matched_update=f"src_{op_col} IN ('I', 'U')",
        when_not_matched_insert=f"src_{op_col} <> 'D'",
        change_feed=change_feed,
        expected_version=expected_version,
        meta=meta,
    )


def versioned_stream_apply_changes(
    stream_df: DataFrame,
    path: str,
    keys: list[str],
    checkpoint: str,
    *,
    op_col: str = "__op",
    available_now: bool = True,
    change_feed: bool = False,
):
    """EXACTLY-ONCE streaming changelog ingestion: each micro-batch of
    I/U/D rows applies through :func:`apply_changelog_batch` under the
    same incarnation-scoped batch ledger as
    :func:`versioned_stream_upsert` — replays skip, content is
    idempotent, and every batch lands as one atomic commit. The
    downstream half of a cross-system CDC pipe: some OTHER store's
    change stream (Debezium-style) becomes a versioned lake table
    with time travel, DVs, and optionally its OWN change feed
    (``change_feed=True``) for further consumers."""
    from pyspark.sql import functions as _F

    from skopje_spark.streaming.streams import foreach_batch_sink

    sid = stream_incarnation_id(checkpoint)

    def apply_batch(batch_df: DataFrame, batch_id: int) -> None:
        committed = latest_version(path)
        meta = _ledger_entry(path, committed, sid, batch_id)
        if meta is None:
            return  # replay: already applied under this incarnation
        if committed is None:
            # bootstrap: first batch's non-delete rows create the table
            first = batch_df.filter(_F.col(op_col) != "D").drop(op_col)
            versioned_write(first, path, meta=meta)
            return
        apply_changelog_batch(
            batch_df.sparkSession, path, batch_df, keys, op_col=op_col,
            change_feed=change_feed, meta=meta,
        )

    return foreach_batch_sink(
        stream_df, checkpoint, apply_batch, available_now=available_now
    )


def maintenance_report(
    path: str,
    *,
    target_file_bytes: int = 128 * 1024 * 1024,
    cluster_col: str | None = None,
) -> dict:
    """Driver-side health card for a versioned table — the planning
    input for WHEN to run :func:`versioned_compact` / ``cluster_by`` /
    :func:`vacuum`, computed entirely from the committed manifest
    (O(files) kilobyte arithmetic, no job; the `join_advice` idea
    applied to table maintenance):

    - file-size health: file count, small-file count (< ¼ target),
      mean file size;
    - deletion-vector debt: deleted rows as a fraction of physical
      rows (merge-on-read reads pay the anti-join until a compaction
      materializes);
    - clustering health on ``cluster_col``: mean number of OTHER
      files each file's [min, max] range overlaps — 0 on a freshly
      clustered table, ~n_files on a hash-scattered one; pruning
      effectiveness degrades linearly in it;
    - retention: committed version count (vacuum candidates via
      ``vacuum(dry_run=True)``).

    ``recommendations`` lists the suggested actions; thresholds are
    deliberately simple and documented here: compact when >half the
    files are small or DV debt exceeds 10%, recluster when mean
    overlap exceeds 25% of the file count."""
    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    man = _read_manifest(path, committed)
    entries = man["files"]
    n_files = len(entries)
    total_bytes = sum(int(e["bytes"]) for e in entries)
    small = sum(
        1 for e in entries if int(e["bytes"]) < target_file_bytes // 4
    )
    phys_rows = sum(int(e["rows"]) for e in entries)
    dv_rows = sum(int(e.get("dv_rows", 0)) for e in entries)
    dv_frac = dv_rows / phys_rows if phys_rows else 0.0

    overlap_mean = None
    if cluster_col is not None and n_files > 1:
        spans = []
        for e in entries:
            st = (e.get("stats") or {}).get(cluster_col)
            if st and st.get("min") is not None and st.get("max") is not None:
                spans.append((st["min"], st["max"]))
        if len(spans) > 1:
            total_overlaps = 0
            for i, (lo, hi) in enumerate(spans):
                total_overlaps += sum(
                    1
                    for j, (lo2, hi2) in enumerate(spans)
                    if j != i and not (hi2 < lo or lo2 > hi)
                )
            overlap_mean = total_overlaps / len(spans)

    # manifest-segment health: many tiny segments (narrow merges
    # splitting chunks over time) raise per-commit ref overhead; a
    # compaction re-chunks to the target size
    with open(os.path.join(path, f"v={committed}", _MANIFEST_NAME)) as f:
        raw = json.load(f)
    n_segments = len(raw.get("segments", [])) or None
    seg_mean_entries = (
        n_files / n_segments if n_segments else None
    )

    recs = []
    if n_files and small > n_files / 2:
        recs.append("compact")
    if dv_frac > 0.10:
        recs.append("compact")  # materialize the deletion vectors
    if overlap_mean is not None and overlap_mean > 0.25 * n_files:
        recs.append("cluster")
    if (
        n_segments is not None
        and n_segments > 4
        and seg_mean_entries is not None
        and seg_mean_entries < _SEG_TARGET / 16
    ):
        recs.append("compact")  # re-chunk fragmented manifest segments
    # partition health: row skew across partitions is what turns one
    # hot day/source into a straggler partition scan; surfaced here so
    # the operator sees it before the shuffle does. Thresholds: flag
    # when the hottest partition carries >10× the mean.
    spec = table_partitioning(path, version=committed)
    n_partitions = None
    partition_skew = None
    if spec:
        # O(segments) when refs carry the per-tuple fold; the row
        # counts are identical to walking the entries
        by_part = {
            tuple(p[t] for t in (
                t_ for t_, _, _ in _parse_partition_spec(spec)
            )): p["n_rows"]
            for p in versioned_partitions(path, version=committed)
        }
        n_partitions = len(by_part)
        if by_part:
            mx = max(by_part.values())
            mean = sum(by_part.values()) / len(by_part)
            partition_skew = (mx / mean) if mean else None
            if partition_skew is not None and partition_skew > 10:
                recs.append("repartition")  # re-spec or salt the hot key

    # named refs: tags pin snapshots outside vacuum retention and
    # branches hold whole hard-linked file sets — both are storage the
    # operator chose to keep, surfaced so stale ones get dropped.
    # Thresholds: a tag is "pinning" when it holds a version the
    # keep-window would otherwise drop; a branch is "stale" when it is
    # genuinely unpublishable — main's CONTENT moved past its fork
    # (the same fast-forward-over-ref-only-commits walk
    # versioned_publish applies, so a branch a sibling fork or release
    # tag hopped over is NOT flagged).
    refs = table_refs(path, version=committed)
    n_tags = sum(1 for r in refs.values() if r.get("type") == "tag")
    n_branches = len(refs) - n_tags
    recent = set(range(max(0, committed - 1), committed + 1))
    pinning = sorted(
        name for name, r in refs.items()
        if r.get("type") == "tag" and int(r["version"]) not in recent
    )
    stale_branches = sorted(
        name for name, r in refs.items()
        if r.get("type") == "branch"
        and _ff_base(path, r, committed) is None
    )
    if stale_branches:
        recs.append("drop_stale_branches")

    report = {
        "version": committed,
        "n_files": n_files,
        "n_small_files": small,
        "total_bytes": total_bytes,
        "mean_file_bytes": total_bytes // n_files if n_files else 0,
        "physical_rows": phys_rows,
        "dv_rows": dv_rows,
        "dv_debt_frac": dv_frac,
        "cluster_overlap_mean": overlap_mean,
        "n_manifest_segments": n_segments,
        "segment_mean_entries": seg_mean_entries,
        "n_committed_versions": committed + 1,
        "partition_by": spec or None,
        "n_partitions": n_partitions,
        "partition_skew": partition_skew,
        "n_tags": n_tags,
        "n_branches": n_branches,
        "pinning_tags": pinning,
        "stale_branches": stale_branches,
        "recommendations": sorted(set(recs)),
    }
    return report


def versioned_meta(
    spark: SparkSession, path: str, kind: str, *,
    version: int | None = None,
) -> DataFrame:
    """The table's METADATA as queryable DataFrames — Iceberg's
    ``t$files``-style metadata tables, served straight from the
    manifest with NO Spark job over data (driver-side kilobyte reads,
    then one ``createDataFrame`` of metadata rows). Kinds:

    - ``"files"``: one row per manifest entry — ``path``, ``bytes``,
      ``rows``, ``dv_rows``, ``live_rows`` (DV-adjusted), ``n_dv_files``,
      ``partition`` (JSON object, ``{}`` when unpartitioned) and
      ``stats`` (the entry's per-column footer stats, JSON with sorted
      keys). The audit surface for layout work: file-size skew,
      DV debt per file, clustering quality.
    - ``"partitions"``: SHOW PARTITIONS as a frame — one row per
      distinct tuple with the transform TARGETS as string columns plus
      exact ``n_files``/``n_bytes``/``n_rows`` (O(segments) via the
      carried per-ref aggregates, like :func:`versioned_partitions`).
    - ``"refs"``: one row per named ref — ``name``, ``type``,
      ``version`` (tags), ``fork_version``/``base_version``/
      ``merged_version`` (branches), ``detail`` (full entry, JSON).
    - ``"history"``: :func:`versioned_history` with row counts.

    ``version`` pins any kind to a committed snapshot (refs and
    history reflect the properties/commits as of that version).

    Scale: every kind is O(manifest metadata) however large the table —
    the 100 TB answer to "what files back partition X and how much DV
    debt do they carry" costs kilobytes, not a listing."""
    from pyspark.sql.types import (
        IntegerType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    committed = latest_version(path)
    if committed is None:
        raise FileNotFoundError(f"no committed version at {path}")
    v = committed if version is None else version
    if v > committed:
        raise FileNotFoundError(
            f"version {v} at {path} is not committed (latest: {committed})"
        )
    if kind == "files":
        man = _read_manifest(path, v)
        rows = [
            (
                e["path"],
                int(e.get("bytes", 0)),
                int(e.get("rows", 0)),
                int(e.get("dv_rows", 0)),
                int(e.get("rows", 0)) - int(e.get("dv_rows", 0)),
                len(e.get("dv_files", [])),
                json.dumps(e.get("partition") or {}, sort_keys=True),
                json.dumps(e.get("stats") or {}, sort_keys=True),
            )
            for e in man["files"]
        ]
        schema = StructType([
            StructField("path", StringType()),
            StructField("bytes", LongType()),
            StructField("rows", LongType()),
            StructField("dv_rows", LongType()),
            StructField("live_rows", LongType()),
            StructField("n_dv_files", IntegerType()),
            StructField("partition", StringType()),
            StructField("stats", StringType()),
        ])
        return spark.createDataFrame(rows, schema).orderBy("path")
    if kind == "partitions":
        parts = versioned_partitions(path, version=v)
        targets = [
            t for t, _, _ in _parse_partition_spec(
                table_partitioning(path, version=v)
            )
        ]
        schema = StructType(
            [StructField(t, StringType()) for t in targets]
            + [
                StructField("n_files", LongType()),
                StructField("n_bytes", LongType()),
                StructField("n_rows", LongType()),
            ]
        )
        rows = [
            tuple(
                [None if p[t] is None else str(p[t]) for t in targets]
                + [int(p["n_files"]), int(p["n_bytes"]), int(p["n_rows"])]
            )
            for p in parts
        ]
        return spark.createDataFrame(rows, schema).orderBy(*targets)
    if kind == "refs":
        refs = table_refs(path, version=v)
        schema = StructType([
            StructField("name", StringType()),
            StructField("type", StringType()),
            StructField("version", IntegerType()),
            StructField("fork_version", IntegerType()),
            StructField("base_version", IntegerType()),
            StructField("merged_version", IntegerType()),
            StructField("detail", StringType()),
        ])
        rows = [
            (
                name,
                e.get("type"),
                e.get("version"),
                e.get("fork_version"),
                e.get("base_version"),
                e.get("merged_version"),
                json.dumps(e, sort_keys=True),
            )
            for name, e in sorted(refs.items())
        ]
        return spark.createDataFrame(rows, schema).orderBy("name")
    if kind == "history":
        return versioned_history(spark, path, with_counts=True)
    raise ValueError(
        f"unknown metadata table {kind!r} — "
        "one of files, partitions, refs, history"
    )


def versioned_history(
    spark: SparkSession, path: str, *, with_counts: bool = False
) -> DataFrame:
    """Commit history of a versioned table as a DataFrame — the
    DESCRIBE HISTORY surface: one row per COMMITTED version with its
    file count, byte size, and commit markers (JSON-encoded, sorted
    keys). Uncommitted residue (crashed writers past the pointer) is
    excluded, exactly as readers exclude it.

    ``with_counts=True`` adds ``n_rows`` — free with manifest
    snapshots (per-file row counts were lifted from parquet footers
    at commit time), so history with counts launches NO Spark job.

    Everything else is driver-side manifest metadata — O(retained
    versions) manifest reads."""
    committed = latest_version(path)
    rows = []
    for v in _versions(path):
        if committed is None or v > committed:
            continue
        n_files, n_bytes, n_rows, _ = _manifest_summary(path, v)
        meta = _snapshot_markers(path, v)
        rows.append(
            (
                v,
                v == committed,
                n_files,
                n_bytes,
                n_rows,
                json.dumps(meta, sort_keys=True),
            )
        )
    out = spark.createDataFrame(
        rows,
        "version int, is_latest boolean, n_files int, n_bytes long, "
        "n_rows long, meta string",
    )
    if not with_counts:
        out = out.drop("n_rows")
    return out.select(
        *(
            ["version", "is_latest", "n_files", "n_bytes", "n_rows", "meta"]
            if with_counts
            else ["version", "is_latest", "n_files", "n_bytes", "meta"]
        )
    ).orderBy("version")
