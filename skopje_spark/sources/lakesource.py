"""Spark Python DataSources over the versioned table store — the
lake's native connector surface.

The versioned store (:mod:`skopje_spark.sinks.versioned`) is normally
driven through its function API (``versioned_read`` / ``versioned_
upsert`` / ``versioned_change_feed``). These DataSources expose the
same tables through Spark's own connector contract, so a versioned
table composes with everything that speaks ``spark.read`` /
``spark.readStream`` — SQL, joins, streaming pipelines — without
importing this package's functions:

- :class:`VersionedTableDataSource` (``skopje_versioned``) — batch
  scan of a snapshot, and batch/streaming writes into it. Planning
  happens from the kilobyte manifest: ``pushFilters`` turns
  comparison and IN predicates into the bounds dict of
  ``versioned_read_where``, which plans it with the store's own
  resolver and read planner (``versioned._resolve_bounds`` →
  ``versioned._plan_read``: segment closing, footer-stats and
  membership pruning, hidden date()/bucket() derivations), so the
  pruned files never become input partitions. Every surviving file
  is one executor partition, and the partition read applies deletion
  vectors, physical→logical column renames, and additive-evolution
  NULL-fill in Arrow batches (pyarrow end to end, no row-at-a-time
  Python). Both writers commit through the store's one blind-append
  CAS loop (``versioned._commit_blind_append``); the connector keeps
  no planner or commit loop of its own.
- :class:`VersionedChangesDataSource` (``skopje_versioned_changes``)
  — a STREAMING source serving the table's change data feed:
  offsets are commit versions (checkpointed by Spark, so restarts
  resume exactly-once), each micro-batch reads the recorded ``cdc-*``
  pool files for the commit range — O(changes) however large the
  table — and an optional initial-snapshot batch serves the starting
  version's full content as ``insert`` rows (Delta's
  ``readChangeFeed`` + ``startingVersion`` contract).

Correctness stance on pushdown: accepted filters are used ONLY to
prune files (conservative by footer stats); every filter is yielded
back to Spark for exact re-application, so a stats-imprecise skip can
narrow IO but never change results.

Scale: both sources decide everything from driver-side manifests
(O(#files) metadata, no job to plan), ship one file per task, and
keep the data path in Arrow. A 100 TB table with a narrow predicate
plans in milliseconds and opens only the matching files; the CDF
stream never rescans the base table.
"""

from __future__ import annotations

import json
import os
from collections.abc import Iterator, Sequence
from dataclasses import dataclass, field

from pyspark.sql.datasource import (
    DataSource,
    DataSourceArrowWriter,
    DataSourceReader,
    DataSourceStreamArrowWriter,
    DataSourceStreamReader,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    In,
    InputPartition,
    LessThan,
    LessThanOrEqual,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType


def _logical_schema(man: dict) -> StructType:
    """The manifest's schema with per-field metadata (the physical
    name mapping) STRIPPED — connector users see logical names only."""
    src = StructType.fromJson(man["schema"])
    out = StructType()
    for f in src.fields:
        out.add(f.name, f.dataType, f.nullable)
    return out


def _mapping(man: dict) -> dict[str, str]:
    """logical → physical parquet name (identity unless renamed)."""
    return {
        f["name"]: (f.get("metadata") or {}).get("physical", f["name"])
        for f in man["schema"]["fields"]
    }


def _bounds_from_filters(
    filters: list[Filter], columns: set[str]
) -> dict | None:
    """Fold Spark's pushed filters into a ``versioned_read_where``
    bounds dict: per column an inclusive ``(lo, hi)`` interval (either
    side None = open) from ``=``/``<``/``<=``/``>``/``>=``, or an IN
    list. IN lists on one column intersect, and an IN list combined
    with a range keeps the IN values inside the range; None when that
    leaves no value, so no row can match. Only single-column filters
    with stats-safe literals (bool/int/float/str, dates, datetimes)
    contribute; Spark re-applies every filter anyway, so strict
    comparisons prune as inclusive ones."""
    import datetime as _dt

    from skopje_spark.sinks.versioned import _stat_encode

    def pushable(v) -> bool:
        v = _stat_encode(v)  # dates → ISO strings
        return isinstance(v, (bool, int, float, str, _dt.datetime)) and not (
            isinstance(v, float) and v != v  # NaN fails every ordered cmp
        )

    ranges: dict[str, tuple] = {}
    in_sets: dict[str, set] = {}
    for f in filters:
        attr = getattr(f, "attribute", None)
        col = attr[0] if attr is not None and len(attr) == 1 else None
        if col not in columns:
            continue
        if isinstance(f, In):
            vals = set(getattr(f, "value", None) or ())
            if not vals or not all(map(pushable, vals)):
                continue
            try:
                min(vals)  # the planner folds the list into [min, max]
            except TypeError:  # mixed literal types: no ordering
                continue
            in_sets[col] = in_sets[col] & vals if col in in_sets else vals
            continue
        v = getattr(f, "value", None)
        if not pushable(v):
            continue
        if isinstance(f, EqualTo):
            lo, hi = v, v
        elif isinstance(v, bool):
            continue  # no ordering on booleans beyond equality
        elif isinstance(f, (GreaterThan, GreaterThanOrEqual)):
            lo, hi = v, None
        elif isinstance(f, (LessThan, LessThanOrEqual)):
            lo, hi = None, v
        else:
            continue
        cur_lo, cur_hi = ranges.get(col, (None, None))
        try:
            if lo is not None and (cur_lo is None or lo > cur_lo):
                cur_lo = lo
            if hi is not None and (cur_hi is None or hi < cur_hi):
                cur_hi = hi
        except TypeError:
            continue
        ranges[col] = (cur_lo, cur_hi)
    bounds: dict = dict(ranges)
    for col, vals in in_sets.items():
        lo, hi = ranges.get(col, (None, None))

        def inside(x) -> bool:
            try:
                return (lo is None or x >= lo) and (hi is None or x <= hi)
            except TypeError:
                return True  # cross-type: keep, prove nothing

        kept = [x for x in vals if inside(x)]
        if not kept:
            return None
        bounds[col] = kept
    return bounds


@dataclass
class _FilePartition(InputPartition):
    table: str
    rel_path: str
    dv_files: list[str] = field(default_factory=list)
    version: int | None = None
    change_type: str | None = None
    # logical→physical names of the partition's own manifest epoch,
    # resolved driver-side (rename-without-rewrite support)
    mapping: dict = field(default_factory=dict)


def _read_entry_arrow(
    table_dir: str,
    rel_path: str,
    dv_files: list[str],
    logical: StructType,
    mapping: dict[str, str],
    extra: dict | None = None,
):
    """Read one pooled parquet file as Arrow batches aligned to the
    LOGICAL schema: deletion-vector positions masked out, physical
    column names renamed back, columns the file predates NULL-filled,
    ``extra`` literal columns (CDF metadata) appended. Pure
    pyarrow/numpy — runs in the executor task, no JVM round-trips."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    t = pq.read_table(os.path.join(table_dir, rel_path))
    if dv_files:
        base = os.path.basename(rel_path)
        mask = np.ones(t.num_rows, dtype=bool)
        hit = False
        for dv in dv_files:
            # row-group pushdown on the file id, numpy positions —
            # a mass-delete's vectors never become Python objects
            dvt = pq.read_table(
                os.path.join(table_dir, dv),
                columns=["__pos"],
                filters=[("__file", "==", base)],
            )
            pos = dvt.column("__pos").to_numpy(zero_copy_only=False)
            if len(pos):
                mask[pos.astype(np.int64)] = False
                hit = True
        if hit:
            t = t.filter(pa.array(mask))
    target = to_arrow_schema(logical)
    cols = []
    for i, f in enumerate(logical.fields):
        phys = mapping.get(f.name, f.name)
        at = target.field(i).type
        if phys in t.column_names:
            col = t.column(phys)
            if col.type != at:
                col = col.cast(at)
        else:  # additive evolution: the file predates this column
            col = pa.nulls(t.num_rows, type=at)
        cols.append(col)
    names = [f.name for f in logical.fields]
    if extra:
        for name, (value, at) in extra.items():
            cols.append(pa.array([value] * t.num_rows, type=at))
            names.append(name)
    out = pa.table(dict(zip(names, cols)))
    yield from out.to_batches(max_chunksize=65536)


class VersionedTableReader(DataSourceReader):
    def __init__(self, options: dict[str, str]) -> None:
        from skopje_spark.sinks.versioned import (
            _MANIFEST_NAME,
            latest_version,
            version_as_of_timestamp,
        )

        self.table = options.get("path", "")
        if not self.table:
            raise ValueError("skopje_versioned: provide option 'path'")
        committed = latest_version(self.table)
        if committed is None:
            raise FileNotFoundError(
                f"no committed version at {self.table}"
            )
        if options.get("ref") is not None:
            # named ref: tag → pinned version of this table, branch →
            # the branch table's committed latest (same resolution as
            # versioned_read(ref=...))
            if (options.get("versionasof") is not None
                    or options.get("timestampasof") is not None):
                raise ValueError(
                    "skopje_versioned: pass ref OR "
                    "versionAsOf/timestampAsOf, not both"
                )
            from skopje_spark.sinks.versioned import _resolve_ref

            self.table, v = _resolve_ref(self.table, options["ref"])
        elif options.get("timestampasof") is not None:
            v = version_as_of_timestamp(
                self.table, float(options["timestampasof"])
            )
        else:
            v = int(options.get("versionasof", committed))
        self.version = v
        # plan from the TOP-LEVEL manifest only — segment files are
        # opened lazily, and pushFilters prunes whole segments from
        # their kilobyte aggregate stats before any is parsed. At
        # 800k files that is the difference between parsing a couple
        # of segments and parsing the whole manifest per planned scan.
        with open(
            os.path.join(self.table, f"v={v}", _MANIFEST_NAME)
        ) as f:
            self.man = json.load(f)
        self.logical = _logical_schema(self.man)
        self.map = _mapping(self.man)
        # pushed filters as a versioned_read_where bounds dict; None
        # when they contradict (no row can match)
        self._bounds: dict | None = {}
        # reader metrics (inspectable by tests/operators): how many
        # manifest segments the plan opened vs carried unopened
        self.segments_total = len(self.man.get("segments", [])) or 1
        self.segments_opened: int | None = None

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """File pruning, not filter absorption: fold comparison and IN
        filters into a bounds dict that :meth:`partitions` plans
        exactly as ``versioned_read_where`` plans the same dict, and
        yield EVERY filter back so Spark re-applies exact predicates.
        Conservative stats can only widen IO, never change results."""
        self._bounds = _bounds_from_filters(
            filters, {f.name for f in self.logical.fields}
        )
        yield from filters

    def partitions(self) -> Sequence[InputPartition]:
        """One pooled file per task — the manifest is the split index.
        Planning is ``versioned_read_where``'s: the pushed bounds
        resolve against the schema and every partition-spec epoch
        (``_resolve_bounds``: hidden date()/bucket() targets derive
        from source bounds), then ``_plan_read`` closes segments and
        prunes files."""
        from skopje_spark.sinks.versioned import (
            _plan_read,
            _resolve_bounds,
            table_partition_specs,
        )

        if self._bounds is None:
            self.segments_opened = 0
            return []
        resolved = _resolve_bounds(
            self._bounds, self.logical, self.map,
            table_partition_specs(self.table, version=self.version),
        ) if self._bounds else []
        entries, self.segments_opened, _ = _plan_read(
            self.table, self.man, resolved
        )
        return [
            _FilePartition(
                table=self.table,
                rel_path=e["path"],
                dv_files=list(e.get("dv_files", [])),
            )
            for e in entries
        ]

    def read(self, partition: _FilePartition) -> Iterator:
        yield from _read_entry_arrow(
            partition.table,
            partition.rel_path,
            partition.dv_files,
            self.logical,
            self.map,
        )


class VersionedTableDataSource(DataSource):
    """``spark.read.format("skopje_versioned").option("path", p)``.

    Batch connector over a versioned table snapshot: manifest-planned
    (schema, splits, and stats pruning all from kilobytes of
    metadata), DV-aware, rename-aware, evolution-aware. A scan plans
    its pushed filters exactly as ``versioned_read_where`` plans the
    same bounds dict (``versioned._plan_read``), and writes commit
    through ``versioned._commit_blind_append``. Options: ``path``
    (table dir, required), ``versionAsOf`` (time travel),
    ``timestampAsOf`` (epoch seconds), ``ref`` (tag or branch). Result
    rows are identical to ``versioned_read`` — driver-oracled by
    q_lake_source_read."""

    @classmethod
    def name(cls) -> str:
        return "skopje_versioned"

    def schema(self) -> StructType:
        return VersionedTableReader(dict(self.options)).logical

    def reader(self, schema: StructType) -> VersionedTableReader:
        return VersionedTableReader(dict(self.options))

    def writer(
        self, schema: StructType, overwrite: bool
    ) -> "VersionedTableWriter":
        return VersionedTableWriter(schema, dict(self.options), overwrite)

    def streamWriter(
        self, schema: StructType, overwrite: bool
    ) -> "VersionedStreamWriter":
        return VersionedStreamWriter(schema, dict(self.options))


def cluster_for_layout(
    df, spec_or_path, *, num_partitions: int | None = None,
    sort: bool = True,
):
    """Pre-shuffle a DataFrame so a partitioned connector write emits
    the MINIMAL file count — Iceberg's ``write.distribution-mode=hash``
    as an explicit step (a Python DataSource cannot demand a
    distribution from Spark, so the shuffle must happen before
    ``df.write``). Rows are hash-repartitioned on the layout's derived
    partition tuple — identity columns and hidden transforms
    (``date()``/``month()``/``hour()``/``bucket(N)``/``truncate(W)``)
    via the same driver-side expressions the native write path stages
    with — so every tuple lands in exactly one task, and (with
    ``sort=True``) tuples arrive contiguously, keeping the fanout
    writer at ONE live ParquetWriter regardless of ``maxOpenWriters``:
    one pool file per partition tuple, the floor.

    ``spec_or_path``: a spec list (``["lang", "day=date(ts)"]``) or an
    existing table path (its committed layout is read). Unpartitioned
    specs return ``df`` unchanged. Skew note: one giant partition
    tuple serializes into one task under hash distribution — exactly
    Iceberg's tradeoff; leave the frame unclustered (fanout handles
    any order) or split the hot tuple upstream when that bites."""
    from pyspark.sql import functions as F

    from skopje_spark.sinks.versioned import (
        _hidden_expr,
        _parse_partition_spec,
        table_partitioning,
    )

    if isinstance(spec_or_path, str):
        spec = table_partitioning(spec_or_path)
    else:
        spec = list(spec_or_path or [])
    parsed = _parse_partition_spec(spec)
    if not parsed:
        return df
    dtypes = {f.name: f.dataType for f in df.schema.fields}
    exprs = []
    for target, source, transform in parsed:
        if source not in dtypes:
            raise KeyError(
                f"partition source column {source!r} not in frame "
                f"columns {sorted(df.columns)}"
            )
        if transform == "identity":
            exprs.append(F.col(source))
        else:
            exprs.append(_hidden_expr(transform, F.col(source),
                                      dtypes[source])[0])
    out = (
        df.repartition(num_partitions, *exprs)
        if num_partitions
        else df.repartition(*exprs)
    )
    return out.sortWithinPartitions(*exprs) if sort else out


@dataclass
class _PooledFile(WriterCommitMessage):
    # manifest entries staged by one task: one for an unpartitioned
    # table, one PER PARTITION TUPLE seen by the task (fanout writer),
    # empty for an empty task
    entries: list = field(default_factory=list)


def _partition_shadow_values(table, parsed_spec, mapping, col_types):
    """Per-row transformed partition values for an Arrow table, one
    list per spec entry, as JSON-safe scalars in the canonical stats
    domain (dates → ISO strings, buckets → ints): the executor-side
    twin of _stage_data_files' shadow expressions. numpy/pyarrow
    only — no JVM, no per-row Python except over UNIQUE values for
    the bucket hash."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.compute as pc

    from skopje_spark.sinks.versioned import _bucket_of

    def _temporal_labels(col, kind: str):
        """day/month/hour labels from a temporal Arrow column — the
        zone-free write-expression twins (epoch micros for tz-aware
        timestamps, wall micros for NTZ; dates are already days)."""
        t = col.type
        epoch = np.datetime64("1970-01-01")
        if pa.types.is_date(t):
            pyvals = col.to_pylist()
            if kind == "day":
                return [None if v is None else v.isoformat()
                        for v in pyvals]
            return [None if v is None else v.isoformat()[:7]
                    for v in pyvals]  # month; hour refused at init
        unit = {"s": 1, "ms": 10**3, "us": 10**6, "ns": 10**9}[t.unit]
        raw = pc.cast(col, pa.int64()).to_numpy(zero_copy_only=False)
        valid = pc.is_valid(col).to_numpy(zero_copy_only=False)
        if kind == "hour":
            hours = np.floor_divide(np.nan_to_num(raw), 3600 * unit)
            return [
                f"{epoch + np.timedelta64(int(h) // 24, 'D')}"
                f"-{int(h) % 24:02d}" if ok else None
                for h, ok in zip(hours, valid)
            ]
        days = np.floor_divide(np.nan_to_num(raw), 86400 * unit)
        labels = [
            str(epoch + np.timedelta64(int(d), "D")) if ok else None
            for d, ok in zip(days, valid)
        ]
        if kind == "month":
            return [None if x is None else x[:7] for x in labels]
        return labels

    out = []
    for target, source, transform in parsed_spec:
        phys = mapping.get(source, source)
        col = table.column(phys)
        if transform == "identity":
            vals = col.to_pylist()
            import datetime as _dt

            vals = [
                v.isoformat() if isinstance(v, _dt.date) else v
                for v in vals
            ]
        elif transform in ("date", "month", "hour"):
            vals = _temporal_labels(
                col, "day" if transform == "date" else transform
            )
        elif transform.startswith("bucket["):
            n = int(transform[len("bucket["):-1])
            raw = col.to_pylist()
            uniq = {v: _bucket_of(v, n) for v in set(raw)}
            vals = [uniq[v] for v in raw]
        else:  # truncate[W]
            w = int(transform[len("truncate["):-1])
            vals = [
                None if v is None
                else (v[:w] if isinstance(v, str) else v - (v % w))
                for v in col.to_pylist()
            ]
        out.append((target, phys if transform == "identity" else target,
                    vals))
    return out


class VersionedTableWriter(DataSourceArrowWriter):
    """Two-phase commit into the versioned store through Spark's
    writer contract: each executor task streams its Arrow batches
    into ONE uniquely-named pool file (unreferenced until commit —
    a failed job leaves only vacuum-collectable orphans), the driver
    commit validates CHECK constraints and publishes the manifest
    through the store's one blind-append CAS loop
    (``versioned._commit_blind_append``): appends commute, so a lost
    race against any concurrent commit is re-pointed at the new
    latest, its segments carried by reference, unless that commit
    changed the schema or the CHECK constraints.

    ``mode("append")`` adds the batch to the current snapshot;
    ``mode("overwrite")`` commits a snapshot of only the new files
    (history keeps every prior version — overwrite is a commit, not
    a destruction). Appends must match the table schema by name
    (schema evolution stays an explicit ``versioned_upsert(
    evolve_schema=True)`` decision, not a writer side effect)."""

    def __init__(
        self, schema: StructType, options: dict[str, str], overwrite: bool
    ) -> None:
        from skopje_spark.sinks.versioned import (
            _parse_partition_spec,
            _read_manifest,
            latest_version,
            table_partitioning,
        )

        self.path = options.get("path", "")
        if not self.path:
            raise ValueError("skopje_versioned: provide option 'path'")
        self.overwrite = overwrite
        # fanout memory bound: at most this many ParquetWriters (each
        # holding row-group buffers) open per task. Unclustered input
        # into a fine-grained layout (hour=, bucket(1024)) would
        # otherwise hold hundreds — the LRU eviction closes a tuple's
        # writer and opens a FRESH pool file on next sight (the
        # one-value-per-FILE invariant allows several files per
        # tuple), trading file count for bounded memory, exactly
        # Iceberg's fanout/clustered writer tradeoff.
        self.max_open_writers = int(options.get("maxopenwriters", "32"))
        if self.max_open_writers < 1:
            raise ValueError("maxOpenWriters must be >= 1")
        committed = latest_version(self.path)
        # the table's carried parquet_codec property governs connector
        # writes too (resolved driver-side, shipped with the writer)
        from skopje_spark.sinks.versioned import _table_codec

        self.codec = options.get("compression") or _table_codec(self.path)
        # partitioned tables write through a FANOUT writer (Iceberg's
        # unsorted-stream shape): each task splits its Arrow batches
        # by partition tuple and keeps one pool file per tuple, so
        # the one-value-per-file invariant and exact injected stats
        # survive without a layout shuffle. Creating/overwriting can
        # declare a layout via .option("partitionBy", "a,b=date(ts)").
        import re as _re

        raw_spec = options.get("partitionby")
        # split on TOP-LEVEL commas only — 'b=bucket(4,id)' keeps
        # its inner comma
        declared = [
            s.strip()
            for s in _re.split(r",(?![^()]*\))", raw_spec or "")
            if s.strip()
        ]
        if committed is None or overwrite:
            self.partition_spec = declared
        else:
            self.partition_spec = table_partitioning(self.path)
            # an append inherits the table's layout; a DECLARED spec
            # that conflicts with it would silently produce a layout
            # the user didn't ask for — refuse instead of ignore
            if raw_spec is not None and declared != self.partition_spec:
                raise ValueError(
                    f"partitionBy {declared!r} conflicts with the "
                    f"existing layout {self.partition_spec!r} at "
                    f"{self.path} — appends inherit the table's spec; "
                    "use versioned_set_partition_spec to evolve it"
                )
        self.parsed_spec = _parse_partition_spec(self.partition_spec)
        if committed is None or overwrite:
            # creating / replacing: the DataFrame's schema is the
            # table schema (physical = logical for fresh columns)
            self.schema_json = StructType(
                [f for f in schema.fields]
            ).jsonValue()
            self.map = {f.name: f.name for f in schema.fields}
            self.table_schema = schema
        else:
            man = _read_manifest(self.path, committed)
            table = _logical_schema(man)
            if set(schema.fieldNames()) != set(table.fieldNames()):
                raise ValueError(
                    f"append schema {sorted(schema.fieldNames())} differs "
                    f"from table schema {sorted(table.fieldNames())} at "
                    f"{self.path} — use versioned_upsert(evolve_schema="
                    "True) for schema evolution"
                )
            self.schema_json = man["schema"]
            self.map = _mapping(man)
            self.table_schema = table
        # validate the layout against the frame schema exactly as the
        # native write path would (_stage_data_files' checks)
        from skopje_spark.sinks.versioned import (
            _check_hidden_source,
            _check_partition_type,
        )

        dtypes = {f.name: f.dataType for f in self.table_schema.fields}
        for tg, src, tr in self.parsed_spec:
            if src not in dtypes:
                raise KeyError(
                    f"partition source column {src!r} not in schema "
                    f"{sorted(dtypes)}"
                )
            if tr == "identity":
                _check_partition_type(tg, dtypes[src])
            elif tg in dtypes:
                raise ValueError(
                    f"hidden partition target {tg!r} collides with an "
                    "existing column; pick a fresh name"
                )
            else:
                _check_hidden_source(tr, src, dtypes[src])

    def write(self, iterator) -> _PooledFile:
        import uuid

        import pyarrow as pa
        import pyarrow.parquet as pq
        from pyspark.sql.pandas.types import to_arrow_schema

        from skopje_spark.sinks.versioned import _DATA_DIR, _file_entry

        # physical arrow schema: table column order/types, pool names
        logical_arrow = to_arrow_schema(self.table_schema)
        target = pa.schema(
            [
                pa.field(
                    self.map.get(f.name, f.name),
                    logical_arrow.field(i).type,
                )
                for i, f in enumerate(self.table_schema.fields)
            ]
        )
        pool = os.path.join(self.path, _DATA_DIR)
        os.makedirs(pool, exist_ok=True)
        col_types = {f.name: f.dataType for f in self.table_schema.fields}
        # one open writer per partition tuple (Iceberg fanout writer);
        # the () tuple is the unpartitioned path — same code, one file.
        # Open-writer count is CAPPED (self.max_open_writers): the
        # least-recently-written tuple is closed and finalized, and a
        # fresh pool file opens if that tuple reappears — per-task
        # memory stays O(cap × row-group buffer) on any layout.
        from collections import OrderedDict

        writers: OrderedDict[tuple, tuple] = OrderedDict()
        finalized: list[tuple] = []  # (key, abs, rel) of closed files

        def _writer_for(key: tuple):
            got = writers.get(key)
            if got is not None:
                writers.move_to_end(key)
                return got[0]
            if len(writers) >= self.max_open_writers:
                okey, (ow, oabs, orel) = writers.popitem(last=False)
                ow.close()
                finalized.append((okey, oabs, orel))
            rel = f"{_DATA_DIR}/{uuid.uuid4().hex}-w.parquet"
            abs_path = os.path.join(self.path, rel)
            got = (
                pq.ParquetWriter(
                    abs_path, target,
                    compression=self.codec or "snappy",
                ),
                abs_path, rel,
            )
            writers[key] = got
            return got[0]

        for batch in iterator:
            t = pa.table(batch)
            cols = []
            for i, f in enumerate(self.table_schema.fields):
                col = t.column(f.name)
                at = target.field(i).type
                if col.type != at:
                    col = col.cast(at)
                cols.append(col)
            out = pa.table(dict(zip(target.names, cols)))
            if not self.parsed_spec:
                _writer_for(()).write_table(out)
                continue
            shadows = _partition_shadow_values(
                out, self.parsed_spec, self.map, col_types
            )
            keys = list(zip(*[vals for _, _, vals in shadows]))
            groups: dict[tuple, list[int]] = {}
            for i, k in enumerate(keys):
                groups.setdefault(k, []).append(i)
            for key, idxs in groups.items():
                _writer_for(key).write_table(out.take(idxs))
        # injected stats under the stat key (physical name for
        # identity, virtual target for hidden transforms) — exactly
        # _stage_data_files' contract, so every stats consumer prunes
        # connector-written partitions identically
        pairs = [
            (tg, self.map.get(src, src) if tr == "identity" else tg)
            for tg, src, tr in self.parsed_spec
        ]
        for key, (w, abs_path, rel) in writers.items():
            w.close()
            finalized.append((key, abs_path, rel))
        entries = []
        for key, abs_path, rel in finalized:
            e = _file_entry(abs_path, rel)
            if self.parsed_spec:
                part: dict = {}
                stats = e.setdefault("stats", {})
                for (target_name, stat_key), val in zip(pairs, key):
                    part[target_name] = val
                    if val is None:
                        stats.pop(stat_key, None)
                    else:
                        stats[stat_key] = {
                            "min": val, "max": val, "nulls": 0
                        }
                e["partition"] = part
            entries.append(e)
        return _PooledFile(entries=entries)

    def _validate(self, entries: list[dict]) -> str | None:
        """Enforce the table's CHECK constraints on a staged batch and
        maintain its value index; returns the constraints marker the
        batch was validated under, which the commit re-checks."""
        from pyspark.sql import SparkSession

        from skopje_spark.sinks.versioned import (
            _enforce_constraints,
            _maintain_value_index,
            latest_version,
            snapshot_meta,
        )

        base = latest_version(self.path)
        marker = (
            None if base is None
            else snapshot_meta(self.path, "constraints", version=base)
        )
        if entries:
            # commit runs on a driver callback thread where the active
            # session may be unset — getOrCreate rebinds the existing
            # one; constraint enforcement must never silently skip
            spark = (
                SparkSession.getActiveSession()
                or SparkSession.builder.getOrCreate()
            )
            _enforce_constraints(spark, self.path, entries, self.map)
            _maintain_value_index(spark, self.path, entries)
        return marker

    def commit(self, messages) -> None:
        from skopje_spark.sinks.versioned import _commit_blind_append

        entries = _staged_entries(messages)
        _commit_blind_append(
            self.path, entries,
            {
                "op": "overwrite" if self.overwrite else "append",
                "n_files_appended": str(len(entries)),
                "n_files_rewritten": "0",
            },
            schema_json=self.schema_json,
            constraints=self._validate(entries),
            overwrite=self.overwrite,
            layout=self.partition_spec,
        )

    def abort(self, messages) -> None:
        # drop this job's pooled files eagerly (vacuum would collect
        # them anyway — they are referenced by no manifest)
        _drop_staged(self.path, _staged_entries(messages))


def _staged_entries(messages) -> list[dict]:
    """The manifest entries every task of a write job staged."""
    return [e for m in messages or [] if m for e in (m.entries or [])]


def _drop_staged(path: str, entries: list[dict]) -> None:
    for e in entries:
        try:
            os.unlink(os.path.join(path, e["path"]))
        except OSError:
            pass


class VersionedStreamWriter(DataSourceStreamArrowWriter):
    """Exactly-once STREAMING appends into the versioned store —
    ``df.writeStream.format("skopje_versioned")``. Each micro-batch's
    tasks stream Arrow batches into pool files (the batch writer's
    write path, unreferenced until commit); the driver commit is
    gated by a per-stream BATCH LEDGER carried as a table property:
    the ``stream_ledger`` marker maps ``streamId`` → last committed
    batchId, so a replayed micro-batch (crash between sink commit and
    checkpoint advance) is recognized and its files dropped instead
    of double-appended — the same ledger, and the same check
    (``versioned._ledger_entry``), as ``versioned_stream_upsert``,
    surfaced through Spark's native streaming sink contract. The
    commit runs the batch writer's validation and the store's one
    blind-append CAS loop (``versioned._commit_blind_append``), which
    re-checks the ledger on every try against the version it is
    about to commit over; the commit names only this stream's entry.

    Two different queries writing one table must set distinct
    ``streamId`` options (default ``"default"``) — the ledger is
    per-stream, exactly like separate consumer groups."""

    def __init__(self, schema: StructType, options: dict[str, str]) -> None:
        self._w = VersionedTableWriter(schema, options, overwrite=False)
        self.path = self._w.path
        self.stream_id = options.get("streamid", "default")

    def write(self, iterator) -> "_PooledFile":
        return self._w.write(iterator)

    def commit(self, messages, batchId: int) -> None:
        from skopje_spark.sinks.versioned import (
            _commit_blind_append,
            _ledger_entry,
            latest_version,
        )

        entries = _staged_entries(messages)

        def ledger(base: int | None) -> dict | None:
            entry = _ledger_entry(self.path, base, self.stream_id, batchId)
            if entry is None:
                _drop_staged(self.path, entries)  # replay: already landed
                return None
            return {"batch_id": str(batchId), **entry}

        if ledger(latest_version(self.path)) is None:
            return  # checked before paying for validation
        _commit_blind_append(
            self.path, entries,
            {
                "op": "stream_append",
                "n_files_appended": str(len(entries)),
                "n_files_rewritten": "0",
            },
            schema_json=self._w.schema_json,
            constraints=self._w._validate(entries),
            layout=self._w.partition_spec,
            on_base=ledger,
        )

    def abort(self, messages, batchId: int) -> None:
        _drop_staged(self.path, _staged_entries(messages))


class VersionedChangesStreamReader(DataSourceStreamReader):
    """Offsets are COMMIT VERSIONS: ``{"version": n}`` means "changes
    through commit n have been served". Each micro-batch plans one
    partition per recorded cdc file in the commit range — executor
    Arrow reads, O(changes). Metadata-only commits contribute
    nothing; a data commit WITHOUT a recorded feed fails loudly
    (option ``allow_unrecorded=true`` downgrades to skipping it)."""

    def __init__(self, schema: StructType, options: dict[str, str]) -> None:
        from skopje_spark.sinks.versioned import (
            _MANIFEST_NAME,
            latest_version,
        )

        self.table = options.get("path", "")
        if not self.table:
            raise ValueError(
                "skopje_versioned_changes: provide option 'path'"
            )
        lv = latest_version(self.table)
        if lv is None:
            raise FileNotFoundError(f"no committed version at {self.table}")
        # the stream's logical name → stable PHYSICAL parquet name,
        # from the current manifest: the chain that lets cdc files
        # recorded under a PRE-RENAME logical name resolve to the
        # stream's post-rename column instead of NULL-filling
        with open(
            os.path.join(self.table, f"v={lv}", _MANIFEST_NAME)
        ) as f:
            self._phys = _mapping(json.load(f))
        self._cdc_maps: dict[int, dict] = {}
        self.start_v = int(options.get("startingversion", "0"))
        self.initial_snapshot = (
            options.get("initialsnapshot", "true").lower() == "true"
        )
        self.allow_unrecorded = (
            options.get("allowunrecorded", "false").lower() == "true"
        )
        self.schema_struct = schema

    def _cdc_mapping(self, v: int) -> dict:
        """stream logical name → the name the column was RECORDED
        under in commit ``v``'s cdc files. cdc frames carry the
        logical names of their own epoch; a rename between v and the
        stream's schema epoch changes the logical name but never the
        physical, so chaining stream-name → physical → v's logical
        name re-aligns the columns exactly (versioned_change_feed's
        as-recorded-schema contract, resolved instead of delegated)."""
        m = self._cdc_maps.get(v)
        if m is None:
            from skopje_spark.sinks.versioned import _MANIFEST_NAME

            with open(
                os.path.join(self.table, f"v={v}", _MANIFEST_NAME)
            ) as f:
                man_v = json.load(f)
            phys_to_recorded = {
                (fl.get("metadata") or {}).get("physical", fl["name"]):
                    fl["name"]
                for fl in man_v["schema"]["fields"]
            }
            m = {
                name: phys_to_recorded[phys]
                for name, phys in self._phys.items()
                if phys in phys_to_recorded
                and phys_to_recorded[phys] != name
            }
            self._cdc_maps[v] = m
        return m

    def initialOffset(self) -> dict:
        # nothing served yet; the starting version itself is the first
        # batch (its snapshot when initial_snapshot, else its changes)
        return {"version": self.start_v - 1}

    def latestOffset(self) -> dict:
        from skopje_spark.sinks.versioned import latest_version

        return {"version": latest_version(self.table)}

    def partitions(
        self, start: dict, end: dict
    ) -> Sequence[InputPartition]:
        from skopje_spark.sinks.versioned import (
            _ZERO_CHANGE_OPS,
            _read_manifest,
            snapshot_meta,
        )

        out: list[_FilePartition] = []
        for v in range(int(start["version"]) + 1, int(end["version"]) + 1):
            if not os.path.isdir(os.path.join(self.table, f"v={v}")):
                raise FileNotFoundError(
                    f"version {v} at {self.table} has been vacuumed — "
                    "the stream's range is gone; restart from a newer "
                    "startingVersion"
                )
            if v == self.start_v and self.initial_snapshot:
                man = _read_manifest(self.table, v)
                # data files carry PHYSICAL column names (stable
                # across renames), so the stream's own logical →
                # physical map serves any snapshot epoch — a rename
                # between v and the stream's schema epoch resolves to
                # real values, never NULL-fill
                out.extend(
                    _FilePartition(
                        table=self.table,
                        rel_path=e["path"],
                        dv_files=list(e.get("dv_files", [])),
                        version=v,
                        change_type="insert",
                        mapping=self._phys,
                    )
                    for e in man["files"]
                )
                continue
            op = snapshot_meta(self.table, "op", version=v) or ""
            if op in _ZERO_CHANGE_OPS:
                continue
            cdc_json = snapshot_meta(self.table, "cdc_files", version=v)
            if cdc_json is None:
                if self.allow_unrecorded:
                    continue
                raise ValueError(
                    f"version {v} at {self.table} (op={op or '?'}) has no "
                    "recorded change feed — write with change_feed=True, "
                    "or set allowUnrecorded=true to skip such commits"
                )
            out.extend(
                _FilePartition(
                    table=self.table, rel_path=rel, version=v,
                    mapping=self._cdc_mapping(v),
                )
                for rel in json.loads(cdc_json)
            )
        return out

    def read(self, partition: _FilePartition) -> Iterator:
        import pyarrow as pa

        base = StructType()
        for f in self.schema_struct.fields:
            if f.name not in ("_change_type", "_commit_version"):
                base.add(f.name, f.dataType, f.nullable)
        if partition.change_type is not None:
            # snapshot batch: data files, constant change type; extras
            # ordered to match the declared stream schema exactly
            yield from _read_entry_arrow(
                partition.table, partition.rel_path, partition.dv_files,
                base, partition.mapping,
                {
                    "_change_type": (partition.change_type, pa.string()),
                    "_commit_version": (partition.version, pa.int64()),
                },
            )
        else:
            # cdc file: _change_type is a data column in the file;
            # the mapping re-aligns columns recorded under a
            # pre-rename logical name (identity when never renamed)
            cdc_schema = StructType(base.fields).add("_change_type", "string")
            yield from _read_entry_arrow(
                partition.table, partition.rel_path, [],
                cdc_schema, partition.mapping,
                {"_commit_version": (partition.version, pa.int64())},
            )

    def commit(self, end: dict) -> None:
        pass  # offsets live in Spark's checkpoint; nothing to release


class VersionedChangesDataSource(DataSource):
    """``spark.readStream.format("skopje_versioned_changes")
    .option("path", p)``.

    Streaming change-data-feed source for a versioned table. Options:
    ``path`` (required), ``startingVersion`` (default 0),
    ``initialSnapshot`` (default true: the starting version's full
    content is served once as ``insert`` rows), ``allowUnrecorded``
    (default false: a data commit without a recorded feed is an
    error, not a silent gap). Output columns = table schema +
    ``_change_type`` + ``_commit_version``; restarts resume from
    Spark's checkpointed version offset, so every commit's changes
    are served exactly once."""

    @classmethod
    def name(cls) -> str:
        return "skopje_versioned_changes"

    def schema(self) -> StructType:
        from skopje_spark.sinks.versioned import (
            _read_manifest,
            latest_version,
        )

        path = self.options.get("path", "")
        committed = latest_version(path)
        if committed is None:
            raise FileNotFoundError(f"no committed version at {path}")
        s = _logical_schema(_read_manifest(path, committed))
        return s.add("_change_type", "string").add(
            "_commit_version", "long"
        )

    def streamReader(
        self, schema: StructType
    ) -> VersionedChangesStreamReader:
        return VersionedChangesStreamReader(schema, dict(self.options))


def attach_versioned(
    spark,
    name: str,
    path: str,
    *,
    version: int | None = None,
    as_of_ts: float | None = None,
    ref: str | None = None,
    with_meta: bool = False,
) -> None:
    """Register a versioned table under a SQL name so the whole
    ``spark.sql`` surface — joins, CTEs, window functions, the entire
    delegated-SQL tier — composes with the lake without any function
    imports: ``attach_versioned(spark, "docs", path)`` then
    ``spark.sql("SELECT ... FROM docs JOIN other ...")``. The view
    reads through the connector (manifest-planned splits, pushFilters
    pruning, DV/rename/evolution handling), and pinning ``version``/
    ``as_of_ts`` attaches a time-traveled snapshot under its own
    name — the SQL spelling of ``VERSION AS OF`` — and ``ref``
    attaches a named tag or branch (``attach_versioned(spark,
    "docs_audit", path, ref="audit")`` — the SQL read surface of
    write-audit-publish).

    The attachment captures the snapshot resolution at call time the
    way the connector does (latest when unpinned is re-resolved per
    query planning, since the view re-invokes the source).

    ``with_meta=True`` additionally registers the table's METADATA
    tables (``sinks/versioned.py:versioned_meta`` — Iceberg's
    ``t$files`` idea, spelled ``<name>__files`` / ``__partitions`` /
    ``__refs`` / ``__history`` since ``$`` is not a valid Spark view
    name). Metadata views materialize the manifest AT ATTACH TIME
    (kilobyte driver-side reads, pinned like a snapshot read);
    re-attach to refresh. ``__partitions`` is skipped when the table
    is unpartitioned."""
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    r = spark.read.format("skopje_versioned").option("path", path)
    if version is not None:
        r = r.option("versionAsOf", str(version))
    if as_of_ts is not None:
        r = r.option("timestampAsOf", repr(float(as_of_ts)))
    if ref is not None:
        r = r.option("ref", ref)
    r.load().createOrReplaceTempView(name)
    if with_meta:
        from skopje_spark.sinks.versioned import (
            _resolve_ref,
            version_as_of_timestamp,
            versioned_meta,
        )

        mpath, mv = path, version
        if ref is not None:
            mpath, mv = _resolve_ref(path, ref)
        elif as_of_ts is not None:
            mv = version_as_of_timestamp(path, as_of_ts)
        for kind in ("files", "partitions", "refs", "history"):
            try:
                frame = versioned_meta(spark, mpath, kind, version=mv)
            except ValueError:
                continue  # unpartitioned: no __partitions view
            frame.createOrReplaceTempView(f"{name}__{kind}")
