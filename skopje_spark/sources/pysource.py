"""Spark 4 Python DataSource implementations of the reference's
Extract/Load traits.

The reference's core abstraction is a pair of traits — `Extract`
("how is data extracted", ``/root/reference/src/etl.rs:14-19``) and
`Load` ("how is data loaded", ``/root/reference/src/etl.rs:22-28``) —
that users implement per record type. Spark 4's Python DataSource API
(`pyspark.sql.datasource`) is the idiomatic equivalent: one class
declares the source/sink, and it plugs into `spark.read.format(...)` /
`df.write.format(...)` so Catalyst treats it like any other scan or
sink (column pruning and filter pushdown included).

Three implementations:

- :class:`RestJsonDataSource` (``skopje_rest``) — batch scan over a
  list of URLs, one input partition per URL (the reference's
  one-tokio-task-per-chunk fan-out, ``src/extract/http.rs:97-115``,
  re-expressed as Spark partition parallelism), with the reference's
  429 retry policy (``src/extract/http.rs:153-186``) and supported
  filters pushed into the reader (skipped rows never cross the
  Python↔JVM Arrow boundary).
- :class:`FeedStreamDataSource` (``skopje_feed``) — incremental
  polling of a growing NDJSON feed with byte-offset tracking; the
  streaming analog of repeatedly calling `fetch` on an API endpoint.
  Offsets checkpoint through Spark's commit log, so restarts resume
  exactly-once.
- :class:`NdjsonSinkDataSource` (``skopje_ndjson``) — an atomic
  staged-commit writer: executors write to a staging dir, the driver
  commit renames everything into place and writes a manifest. This is
  the `Load::load` transaction contract (``src/load/pg.rs:60-81``:
  all-or-nothing insert) mapped onto a file sink, since Spark file
  writes are otherwise visible per-partition.

Scale notes: the REST reader is for control-plane-sized fan-outs
(thousands of API pages — each partition is one request). For bulk
bytes use :func:`skopje_spark.sources.http.download_file` to stage
into object storage and read with a native format. The feed reader
reads on the driver (SimpleDataSourceStreamReader contract) and is for
low-rate feeds; high-rate streams belong on Kafka with the built-in
connector.
"""

from __future__ import annotations

import json
import os
import urllib.request
import uuid
from collections.abc import Iterator, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceWriter,
    EqualTo,
    Filter,
    GreaterThan,
    GreaterThanOrEqual,
    InputPartition,
    IsNotNull,
    LessThan,
    LessThanOrEqual,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import StructType

from skopje_spark.sources.http import RetryPolicy, _get


# ---------------------------------------------------------------------------
# batch: REST/JSON scan
# ---------------------------------------------------------------------------


@dataclass
class _UrlPartition(InputPartition):
    url: str


def _split_urls(raw: str) -> list[str]:
    seps = raw.replace("\n", ",")
    return [u.strip() for u in seps.split(",") if u.strip()]


# Spark does NOT re-apply filters accepted by pushFilters, so an
# absorbed predicate must evaluate with exactly Spark's semantics.
# Two guards make that true:
#  1. only absorb filters over columns of JSON-primitive declared types
#     whose literal is itself a JSON-native primitive — a DateType /
#     DecimalType / TimestampType literal arrives as a Python
#     date/Decimal and would compare (or crash) against raw JSON
#     strings/numbers;
#  2. coerce each record through the declared schema BEFORE applying
#     predicates (and before yielding), so predicates always see the
#     value Spark itself would see.
_JSON_PRIMITIVE_SPARK_TYPES = (
    # simpleString() names: LongType -> "bigint", IntegerType -> "int", …
    "string", "bigint", "int", "smallint", "tinyint", "double", "float", "boolean",
)


def _coerce_primitive(value, type_name: str):
    """Lenient JSON→declared-type coercion (mirrors spark.read.json:
    unconvertible values become NULL, never an executor crash)."""
    if value is None:
        return None
    if type_name == "string":
        return value if isinstance(value, str) else json.dumps(value)
    if type_name == "boolean":
        if isinstance(value, bool):
            return value
        if isinstance(value, str) and value.lower() in ("true", "false"):
            return value.lower() == "true"
        return None
    if type_name in ("bigint", "int", "smallint", "tinyint"):
        if isinstance(value, bool):
            return None
        if isinstance(value, int):
            return value
        if isinstance(value, float):
            return int(value)
        if isinstance(value, str):
            try:
                return int(float(value)) if "." in value else int(value)
            except ValueError:
                return None
        return None
    if type_name in ("double", "float"):
        if isinstance(value, bool):
            return None
        if isinstance(value, (int, float)):
            return float(value)
        if isinstance(value, str):
            try:
                return float(value)
            except ValueError:
                return None
        return None
    return value


def _compile_filter(f: Filter, coercible_cols: dict[str, str]):
    """Translate a pushed-down Catalyst filter into a row predicate.
    Returns None for shapes we don't handle (Spark re-applies those).
    Predicates run on schema-coerced records, so a comparison can never
    see a type Spark itself would not produce for the column."""
    attr = getattr(f, "attribute", None)  # composite filters (Not/…) have none
    col = attr[0] if attr is not None and len(attr) == 1 else None
    if col is None or col not in coercible_cols:
        return None
    if isinstance(f, IsNotNull):
        return lambda r: r.get(col) is not None
    value = getattr(f, "value", None)
    if isinstance(value, bool):
        literal_ok = isinstance(f, EqualTo)  # no ordering on booleans
    else:
        literal_ok = isinstance(value, (str, int, float))
    if not literal_ok:
        return None
    if isinstance(f, EqualTo):
        return lambda r: r.get(col) == f.value
    same_family = (
        (lambda v: isinstance(v, str))
        if isinstance(value, str)
        else (lambda v: isinstance(v, (int, float)) and not isinstance(v, bool))
    )
    if isinstance(f, GreaterThan):
        return lambda r: r.get(col) is not None and same_family(r[col]) and r[col] > f.value
    if isinstance(f, GreaterThanOrEqual):
        return lambda r: r.get(col) is not None and same_family(r[col]) and r[col] >= f.value
    if isinstance(f, LessThan):
        return lambda r: r.get(col) is not None and same_family(r[col]) and r[col] < f.value
    if isinstance(f, LessThanOrEqual):
        return lambda r: r.get(col) is not None and same_family(r[col]) and r[col] <= f.value
    return None


class RestJsonReader(DataSourceReader):
    def __init__(self, schema: StructType, options: dict[str, str]) -> None:
        self.schema = schema
        self.urls = _split_urls(options.get("urls", options.get("url", "")))
        if not self.urls:
            raise ValueError("skopje_rest: provide option 'urls'")
        self.records_field = options.get("records_field")
        self.policy = RetryPolicy(
            max_retries=int(options.get("max_retries", "3")),
            backoff_secs=float(options.get("backoff_secs", "120")),
        )
        self.predicates: list = []

    def pushFilters(self, filters: list[Filter]) -> Iterator[Filter]:
        """Accept the filters we can evaluate during the fetch; yield
        back the rest for Spark to apply. Filtering here means rejected
        rows are dropped before Arrow serialization to the JVM. Only
        filters over JSON-primitive columns with JSON-native literals
        are absorbed — everything else goes back to Spark."""
        coercible = {
            fld.name: fld.dataType.simpleString()
            for fld in self.schema.fields
            if fld.dataType.simpleString() in _JSON_PRIMITIVE_SPARK_TYPES
        }
        for f in filters:
            pred = _compile_filter(f, coercible)
            if pred is not None:
                self.predicates.append(pred)
            else:
                yield f

    def partitions(self) -> Sequence[InputPartition]:
        # one request per partition: the fan-out unit of the reference's
        # chunked downloader, scheduled by Spark instead of tokio
        return [_UrlPartition(u) for u in self.urls]

    def read(self, partition: _UrlPartition) -> Iterator[tuple]:
        body = _get(partition.url, self.policy)
        data = json.loads(body)
        if self.records_field is not None and isinstance(data, dict):
            data = data[self.records_field]
        rows = data if isinstance(data, list) else [data]
        fields = [(f.name, f.dataType.simpleString()) for f in self.schema.fields]
        for rec in rows:
            if not isinstance(rec, dict):
                rec = {fields[0][0]: rec}
            # coerce FIRST: predicates and output both see declared types
            coerced = {
                name: _coerce_primitive(rec.get(name), tname)
                for name, tname in fields
            }
            if all(p(coerced) for p in self.predicates):
                yield tuple(coerced[name] for name, _ in fields)


class RestJsonDataSource(DataSource):
    """``spark.read.format("skopje_rest").schema(s).option("urls", ...)``.

    Maps `HttpExtractExt::fetch` + `get_retry`
    (``/root/reference/src/extract/http.rs:36-39,153-186``): GET a set
    of URLs, deserialize JSON bodies against a declared schema, retry
    on 429 with fixed backoff. A top-level JSON array becomes one row
    per element (set ``records_field`` to unwrap an envelope object);
    a single object becomes one row — the same shape decision serde
    makes from the target type.
    """

    @classmethod
    def name(cls) -> str:
        return "skopje_rest"

    def schema(self) -> str:
        # sensible default when the caller doesn't declare one: raw body
        return "value string"

    def reader(self, schema: StructType) -> RestJsonReader:
        return RestJsonReader(schema, dict(self.options))


# ---------------------------------------------------------------------------
# streaming: NDJSON feed tail
# ---------------------------------------------------------------------------


class FeedStreamReader(SimpleDataSourceStreamReader):
    def __init__(self, schema: StructType, options: dict[str, str]) -> None:
        self.schema = schema
        self.path = options.get("path", "")
        if not self.path:
            raise ValueError("skopje_feed: provide option 'path'")

    def initialOffset(self) -> dict:
        return {"pos": 0}

    def _read_span(self, start: int, end: int | None) -> tuple[list[tuple], int]:
        """Read complete NDJSON lines in [start, end) byte range; a
        trailing partial line (a write in progress) is left for the
        next batch, so a record is never split across batches."""
        names = self.schema.fieldNames()
        out: list[tuple] = []
        try:
            f = open(self.path, "rb")
        except FileNotFoundError:
            return out, start
        with f:
            f.seek(start)
            data = f.read() if end is None else f.read(max(0, end - start))
        last_nl = data.rfind(b"\n")
        if last_nl < 0:
            return out, start
        for line in data[: last_nl + 1].splitlines():
            if line.strip():
                rec = json.loads(line)
                out.append(tuple(rec.get(n) for n in names))
        return out, start + last_nl + 1

    def read(self, start: dict) -> tuple[Iterator[tuple], dict]:
        rows, new_pos = self._read_span(int(start["pos"]), None)
        return iter(rows), {"pos": new_pos}

    def readBetweenOffsets(self, start: dict, end: dict) -> Iterator[tuple]:
        # deterministic replay for recovery: same byte span → same rows
        rows, _ = self._read_span(int(start["pos"]), int(end["pos"]))
        return iter(rows)


class FeedStreamDataSource(DataSource):
    """``spark.readStream.format("skopje_feed").schema(s).option("path", p)``.

    Incremental poll of an append-only NDJSON feed. The offset is a
    byte position, checkpointed by Spark — the streaming version of the
    reference's repeated `fetch` calls against a paginated API, with
    restart-safe exactly-once progress the reference cannot provide.
    """

    @classmethod
    def name(cls) -> str:
        return "skopje_feed"

    def schema(self) -> str:
        return "value string"

    def simpleStreamReader(self, schema: StructType) -> FeedStreamReader:
        return FeedStreamReader(schema, dict(self.options))


# ---------------------------------------------------------------------------
# batch sink: atomic staged-commit NDJSON writer
# ---------------------------------------------------------------------------


@dataclass
class _StagedFile(WriterCommitMessage):
    staged: str
    final: str
    rows: int


class NdjsonWriter(DataSourceWriter):
    def __init__(self, schema: StructType, options: dict[str, str],
                 overwrite: bool) -> None:
        self.path = options.get("path", "")
        if not self.path:
            raise ValueError("skopje_ndjson: provide option 'path'")
        self.overwrite = overwrite

    def write(self, iterator: Iterator[Any]) -> _StagedFile:
        # executor side: write THIS partition to a uniquely-named staged
        # file. Nothing is visible to readers until driver commit.
        staging = os.path.join(self.path, "_staging")
        os.makedirs(staging, exist_ok=True)
        name = f"part-{uuid.uuid4().hex}.ndjson"
        staged = os.path.join(staging, name)
        n = 0
        with open(staged, "w", encoding="utf-8") as f:
            for row in iterator:
                f.write(json.dumps(row.asDict(), default=str) + "\n")
                n += 1
        return _StagedFile(staged=staged, final=os.path.join(self.path, name),
                           rows=n)

    def _sweep_staging(self) -> None:
        """Remove every staged file, not just message-listed ones —
        failed or speculative task attempts stage files that never get
        a commit message and would otherwise leak forever."""
        staging = os.path.join(self.path, "_staging")
        if not os.path.isdir(staging):
            return
        for name in os.listdir(staging):
            try:
                os.remove(os.path.join(staging, name))
            except OSError:
                pass
        try:
            os.rmdir(staging)
        except OSError:
            pass

    def commit(self, messages: list[_StagedFile]) -> None:
        # driver side: all partitions succeeded — publish atomically-ish
        # (rename per file + manifest last). The all-or-nothing contract
        # of the reference's single-transaction insert
        # (/root/reference/src/load/pg.rs:60-81).
        manifest_path = os.path.join(self.path, "_MANIFEST")
        prior_files: list[str] = []
        prior_rows = 0
        if self.overwrite:
            for old in os.listdir(self.path):
                if old.endswith(".ndjson"):
                    os.remove(os.path.join(self.path, old))
        else:
            # append: the new manifest must keep describing every file
            # from earlier commits, not just this batch's
            try:
                with open(manifest_path) as f:
                    prior = json.load(f)
                prior_files = list(prior.get("files", []))
                prior_rows = int(prior.get("rows", 0))
            except (OSError, ValueError):
                pass
        for m in messages:
            os.replace(m.staged, m.final)
        manifest = {
            "files": sorted(
                set(prior_files) | {os.path.basename(m.final) for m in messages}
            ),
            "rows": prior_rows + sum(m.rows for m in messages),
        }
        with open(manifest_path, "w") as f:
            json.dump(manifest, f)
        self._sweep_staging()  # leftovers from speculative attempts

    def abort(self, messages: list[_StagedFile]) -> None:
        # any partition failed — drop ALL staged output (including files
        # from attempts that produced no commit message); nothing
        # published
        self._sweep_staging()


class NdjsonSinkDataSource(DataSource):
    """``df.write.format("skopje_ndjson").option("path", p).save()``.

    Two-phase commit file sink: per-partition staged writes, driver-side
    publish + manifest. Readers either see the previous complete state
    or the new one — never a partial write (`Load` + transaction parity,
    ``/root/reference/src/load/pg.rs:50-86``)."""

    @classmethod
    def name(cls) -> str:
        return "skopje_ndjson"

    def writer(self, schema: StructType, overwrite: bool) -> NdjsonWriter:
        return NdjsonWriter(schema, dict(self.options), overwrite)


def register_all(spark) -> None:
    """Register every skopje DataSource on a session (idempotent).

    The sources plan and write in Spark's Python workers, which import
    ``skopje_spark`` by name. A driver may have made the package
    importable only through ``sys.path``, which workers never see, so
    the package's parent directory goes onto the ``PYTHONPATH`` that
    every Python function registered from now on hands its workers."""
    from skopje_spark.sources.lakesource import (
        VersionedChangesDataSource,
        VersionedTableDataSource,
    )

    env = spark.sparkContext.environment
    root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__)
    )))
    paths = [p for p in env.get("PYTHONPATH", "").split(os.pathsep) if p]
    if root not in paths:
        env["PYTHONPATH"] = os.pathsep.join([root, *paths])
    try:
        # runtime-settable; required for pushFilters to be honored
        spark.conf.set("spark.sql.python.filterPushdown.enabled", "true")
    except Exception:
        pass
    from skopje_spark.sources.bus import BusDataSource

    for ds in (
        RestJsonDataSource,
        FeedStreamDataSource,
        NdjsonSinkDataSource,
        VersionedTableDataSource,
        VersionedChangesDataSource,
        BusDataSource,
    ):
        spark.dataSource.register(ds)
