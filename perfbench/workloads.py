"""The three benchmark workloads.

Each workload has ``prepare`` (set-up: the tables it reads or serves),
``run_pass`` (one timed unit of work) and ``verify`` (the output check,
run outside the timed section). Every timed action writes every output
column through a real sink -- ``sinks.files.parquet_sink``,
``sinks.shards.write_tar_shards`` or ``sinks.versioned.*`` -- never
``count()``, which lets Catalyst prune the columns the count does not
need.

- ``etl_tpch``: a ``Pipeline`` of catalog builds (relational entries)
  loaded with ``parquet_sink``, plus an enriched fact
  (lineitem x orders x customer) committed in batches to a bucketed
  versioned table that is then probed with point lookups.
- ``llm_curation``: a ``Pipeline`` of the curation and dedup catalog
  entries loaded with ``parquet_sink``, plus a curated corpus (quality
  gate, exact dedup) exported as tar shards and committed in batches to
  a bucketed versioned table that is then probed.
- ``lake_mixed``: one closed-loop client issuing a seeded mix of point
  lookups, range reads, appends, predicate deletes and upserts against
  a versioned ``orders`` table bucketed 16 ways; a pass is one round
  of the mix. A Python model of the table checks every read.
"""

from __future__ import annotations

import hashlib
import os
import random
import shutil
import tarfile
import time

import pyarrow.parquet as pq

from pyspark.sql import functions as F

from skopje_spark.pipeline import Pipeline
from skopje_spark.queries import load_all
from skopje_spark.sinks import versioned as V
from skopje_spark.sinks.files import parquet_sink
from skopje_spark.sinks.shards import write_tar_shards
from skopje_spark.sources.files import parquet_source

# Subsets of the catalog sized to a few seconds per pass: each entry
# costs 0.3-1.6 s of mostly fixed driver/scheduling work at these
# scales, and each second of pass time about seven seconds of run time.
ETL_ENTRIES = [
    "q1_pricing_summary",
    "q18_large_volume_customers",
    "q_topk_per_group",
]
LLM_ENTRIES = [
    "q_dedup_minhash_lsh",
    "q_dedup_clusters",
    "q_chunk_documents",
]
LOOKUPS_PER_PASS = 10
COMMIT_BATCHES = 4


def digest(df) -> tuple[int, int]:
    """``(rows, order-insensitive hash of every column)``, in Spark."""
    r = df.select(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum(F.xxhash64(*df.columns).cast("decimal(20,0)")), F.lit(0)
        ).alias("h"),
    ).first()
    return int(r["n"]), int(r["h"])


def rows_digest(rows) -> tuple[int, str]:
    """``(rows, order-insensitive hash)`` of Python row tuples."""
    reprs = sorted(repr(tuple(r)) for r in rows)
    return len(reprs), hashlib.sha256("\n".join(reprs).encode()).hexdigest()


def parquet_digest(path: str) -> tuple[int, str]:
    """Digest of a small parquet output, read without Spark."""
    t = pq.read_table(path)
    return rows_digest(zip(*(t.column(c).to_pylist() for c in t.column_names)))


def shard_members(path: str) -> list[tuple[str, bytes]]:
    """``(member name, bytes)`` of every member of the tar shards."""
    members = []
    for name in sorted(os.listdir(path)):
        if name.endswith(".tar"):
            with tarfile.open(os.path.join(path, name)) as tar:
                members += [(m.name, tar.extractfile(m).read()) for m in tar]
    return members


class Workload:
    """State shared by the three workloads: where inputs and outputs
    live, the tracer, and the per-run tallies ``run.py`` reports."""

    name = ""
    fixture_tables: tuple[str, ...] = ()

    def __init__(self, spark, sf_dir: str, work_dir: str, seed: int, tracer):
        self.spark = spark
        self.sf = sf_dir
        self.out = os.path.join(work_dir, "out")
        self.tracer = tracer
        self.rng = random.Random(seed)
        self.commit_ms: list[float] = []
        self.lookup_ms: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.rows_touched = 0
        self.op_ms: dict[str, list[float]] = {}
        # survivors over candidates of a public dedup stage, where the
        # workload has one; counted in the first pass's check
        self.dedup_kept_ratio = 0.0

    def rows_per_pass(self, passes: int) -> float:
        """Input rows of one pass: the fixture tables the pass reads."""
        return sum(
            pq.ParquetFile(os.path.join(self.sf, f"{t}.parquet")).metadata.num_rows
            for t in self.fixture_tables
        )

    def fail(self, what: str) -> None:
        self.failed += 1
        if len(self.errors) < 20:
            self.errors.append(what)

    def prepare(self) -> None:
        shutil.rmtree(self.out, ignore_errors=True)
        os.makedirs(self.out)

    def load(self, entry: str, fn) -> tuple:
        """Run one sink call, the action that materializes its input;
        returns ``(result, seconds)``."""
        t0 = time.perf_counter()
        with self.tracer.span(entry, "load"):
            res = fn()
        took = time.perf_counter() - t0
        self.tracer.add("sinks.write_s", took)
        return res, took

    def commit(self, entry: str, fn):
        """A load into a versioned table; its latency is a commit."""
        res, took = self.load(entry, fn)
        self.commit_ms.append(took * 1e3)
        return res

    def lookup(self, entry: str, path: str, bounds: dict):
        """One pruned read: plan it (``versioned_read_where``), then
        collect every column of the matching rows."""
        t0 = time.perf_counter()
        m: dict = {}
        with self.tracer.span(entry, "build"):
            df = V.versioned_read_where(self.spark, path, bounds, metrics=m)
        self.tracer.add("queries.build_s", time.perf_counter() - t0)
        with self.tracer.span(entry, "action"):
            rows = df.collect()
        self.lookup_ms.append((time.perf_counter() - t0) * 1e3)
        self.rows_touched += len(rows)
        if self.tracer.enabled:
            self.tracer.catalyst(df)
            self._trace_read(path, df, m)
        return rows

    def _trace_read(self, path: str, df, m: dict) -> None:
        live, kb = manifest_stats(path)
        scanned = len(df.inputFiles())
        t = self.tracer
        t.add("sources.files_read", scanned)
        t.add("versioned.files_scanned", scanned)
        t.add("versioned.files_live", live)
        t.add("versioned.prune_ratio", scanned / max(live, 1))
        if m.get("segments_total"):
            t.add("versioned.segments_opened_ratio",
                  m["segments_opened"] / m["segments_total"])
        t.add("versioned.manifest_kb", kb)


def manifest_stats(path: str) -> tuple[int, float]:
    """``(live data files, KB of manifest a full plan reads)`` of the
    latest snapshot: the top manifest plus its segment files."""
    import json

    top = os.path.join(path, f"v={V.latest_version(path)}", "_MANIFEST.json")
    with open(top) as f:
        man = json.load(f)
    size = os.path.getsize(top)
    if "files" in man:
        return len(man["files"]), size / 1024.0
    n = 0
    for ref in man["segments"]:
        seg = os.path.join(path, ref["path"])
        with open(seg) as f:
            n += len(json.load(f))
        size += os.path.getsize(seg)
    return n, size / 1024.0


class CatalogWorkload(Workload):
    """A ``Pipeline`` whose source nodes are catalog builds and whose
    sinks load each result with ``parquet_sink``; subclasses add their
    own extra nodes and lookup table."""

    entries: list[str] = []

    def prepare(self) -> None:
        super().prepare()
        self.registry = load_all()
        self.reference: dict[str, tuple] = {}
        self.lake = os.path.join(self.out, "lake")
        self.keys: list[int] = []

    def _add_entry(self, p: Pipeline, name: str) -> None:
        fn = self.registry[name].fn
        t = self.tracer

        def build(ctx):
            t0 = time.perf_counter()
            with t.span(name, "build"):
                df = fn(ctx.spark, self.sf)
            t.add("queries.build_s", time.perf_counter() - t0)
            return df

        def load(ctx, df):
            if t.enabled:
                t.catalyst(df)
                t.add("sources.files_read", len(df.inputFiles()))
            self.load(name, lambda: parquet_sink(
                df, os.path.join(self.out, name), mode="overwrite"))

        p.source(name, build)
        p.sink(f"load_{name}", load, dep=name)

    def pipeline(self) -> Pipeline:
        p = Pipeline(self.name)
        for name in self.entries:
            self._add_entry(p, name)
        self.extra_nodes(p)
        return p

    def extra_nodes(self, p: Pipeline) -> None:
        raise NotImplementedError

    def commit_batches(self, entry: str, df, key: str, partition_by: list[str]) -> None:
        """Load ``df`` into the lake table in ``COMMIT_BATCHES`` batches
        split on ``key``: a write that replaces the table, then appends.
        ``df`` is cached, so the write also computes it and is timed as
        a load; only the appends, all of one size, are timed as commits."""
        for i in range(COMMIT_BATCHES):
            part = df.filter(F.pmod(F.col(key), F.lit(COMMIT_BATCHES)) == i)
            if i == 0:
                self.load(entry, lambda: V.versioned_write(
                    part, self.lake, partition_by=partition_by))
            else:
                self.commit(entry, lambda: V.versioned_append(
                    self.spark, self.lake, part))

    def run_pass(self) -> float:
        """One ETL pass plus its lookups; returns the timed seconds."""
        t0 = time.perf_counter()
        self.pipeline().run(self.spark)
        self.looked_up = {
            f"lookup_{k}": self.lookup("lookup", self.lake, {self.key_col: k})
            for k in self.keys
        }
        took = time.perf_counter() - t0
        self.attempted += len(self.entries) + 1 + len(self.keys)
        return took

    def digests(self) -> dict:
        """``{output: digest}`` of what this pass loaded, read back from
        its sink, and of each lookup's rows."""
        out = {n: parquet_digest(os.path.join(self.out, n)) for n in self.entries}
        out["lake"] = digest(V.versioned_read(self.spark, self.lake))
        for name, rows in self.looked_up.items():
            out[name] = rows_digest(rows)
        return out

    def verify(self, oracle: bool) -> None:
        """Match every digest against the first pass's; with ``oracle``,
        also match each oracle-backed entry against DuckDB on the same
        fixture, and the lake table and lookups against their expected
        row counts."""
        found = self.digests()
        for name, d in found.items():
            ref = self.reference.setdefault(name, d)
            if d != ref:
                self.fail(f"{name}: digest {d} != first pass {ref}")
        if oracle:
            self.verify_oracle(found["lake"][0])

    def verify_oracle(self, lake_rows: int) -> None:
        from tests.oracle_check import compare, duck_connection

        con = duck_connection(self.sf)
        for name in self.entries:
            sql = self.registry[name].oracle
            if sql is None:
                continue
            try:
                compare(self.spark.read.parquet(os.path.join(self.out, name)),
                        con, sql, name)
            except AssertionError as e:
                self.fail(str(e)[:300])
        rows, per_key = self.expected_lake(con)
        con.close()
        if lake_rows != rows:
            self.fail(f"lake: {lake_rows} rows, expected {rows}")
        for k in self.keys:
            got = len(self.looked_up[f"lookup_{k}"])
            if got != per_key.get(k, 0):
                self.fail(f"lookup {k}: {got} rows, expected {per_key.get(k, 0)}")

    def expected_lake(self, con) -> tuple[int, dict[int, int]]:
        """``(rows, {lookup key: rows})`` the lake table should hold."""
        raise NotImplementedError


class EtlTpch(CatalogWorkload):
    name = "etl_tpch"
    entries = ETL_ENTRIES
    fixture_tables = ("customer", "orders", "lineitem")
    key_col = "l_orderkey"

    def prepare(self) -> None:
        super().prepare()
        n_orders = self.spark.read.parquet(f"{self.sf}/orders.parquet").count()
        self.keys = [self.rng.randrange(n_orders) for _ in range(LOOKUPS_PER_PASS)]

    def extra_nodes(self, p: Pipeline) -> None:
        for t in ("lineitem", "orders", "customer"):
            p.source(t, lambda ctx, t=t: parquet_source(
                ctx.spark, os.path.join(self.sf, f"{t}.parquet")))
        p.transform(
            "enriched_fact",
            lambda ctx, l, o, c: l.join(o, l.l_orderkey == o.o_orderkey)
            .join(c, o.o_custkey == c.c_custkey),
            deps=["lineitem", "orders", "customer"],
            cache=True,
        )

        def load(ctx, df):
            self.commit_batches("enriched_fact", df, "l_orderkey",
                                ["b=bucket(4,l_orderkey)"])
            df.unpersist()

        p.sink("load_enriched_fact", load, dep="enriched_fact")

    FACT_SQL = ("lineitem JOIN orders ON l_orderkey = o_orderkey "
                "JOIN customer ON o_custkey = c_custkey")

    def expected_lake(self, con) -> tuple[int, dict[int, int]]:
        keys = ", ".join(str(k) for k in self.keys)
        per_key = con.execute(
            f"SELECT l_orderkey, COUNT(*) FROM {self.FACT_SQL} "
            f"WHERE l_orderkey IN ({keys}) GROUP BY l_orderkey").fetchall()
        return (con.execute(f"SELECT COUNT(*) FROM {self.FACT_SQL}").fetchone()[0],
                dict(per_key))


class LlmCuration(CatalogWorkload):
    name = "llm_curation"
    entries = LLM_ENTRIES
    fixture_tables = ("documents", "embeddings")
    key_col = "doc_id"

    def prepare(self) -> None:
        super().prepare()
        self.shards = os.path.join(self.out, "shards")
        n_docs = self.spark.read.parquet(f"{self.sf}/documents.parquet").count()
        self.keys = [self.rng.randrange(n_docs) for _ in range(LOOKUPS_PER_PASS)]

    def extra_nodes(self, p: Pipeline) -> None:
        from skopje_spark.operators.dedup import dedup_exact
        from skopje_spark.operators.text import quality_features

        p.source("documents", lambda ctx: parquet_source(
            ctx.spark, os.path.join(self.sf, "documents.parquet")))

        def curate(ctx, d):
            keep = (quality_features(d, "doc_id", "text")
                    .filter(F.col("quality_keep") == 1).select("doc_id"))
            self.gated = d.join(keep, "doc_id")
            return dedup_exact(self.gated, "doc_id", "text")

        p.transform("corpus", curate, deps=["documents"], cache=True)

        def load(ctx, df):
            if os.path.isdir(self.shards):
                shutil.rmtree(self.shards)
            self.load("corpus_shards", lambda: write_tar_shards(
                df, self.shards, id_col="doc_id",
                members={"text": "txt", "source": "src"}, n_shards=4))
            self.commit_batches("corpus_lake", df, "doc_id", ["b=bucket(4,doc_id)"])
            df.unpersist()

        p.sink("load_corpus", load, dep="corpus")

    def digests(self) -> dict:
        out = super().digests()
        out["shards"] = rows_digest(shard_members(self.shards))
        return out

    def verify_oracle(self, lake_rows: int) -> None:
        super().verify_oracle(lake_rows)
        # the dedup's candidates are counted here, outside the timed and
        # traced passes; its survivors are the lake copy's rows
        self.dedup_kept_ratio = lake_rows / max(self.gated.count(), 1)

    def expected_lake(self, con) -> tuple[int, dict[int, int]]:
        # the curated corpus has no DuckDB oracle of its own: the lake
        # copy must hold exactly the documents of the shard export
        keys = {int(m.split(".")[0]) for m, _ in shard_members(self.shards)}
        return len(keys), {k: 1 for k in keys}


class LakeMixed(Workload):
    """Closed loop, one client. Op mix per round (``ROUND``): point
    lookups by bucket key and by bloom-indexed key, stats-pruned range
    reads over recently appended keys, appends, predicate deletes and
    upserts."""

    name = "lake_mixed"
    fixture_tables = ("orders",)
    ROUND = (["lookup_key"] * 6 + ["lookup_cust"] * 3 + ["range"] * 2
             + ["append", "delete", "upsert"])
    BATCH = 500

    def prepare(self) -> None:
        super().prepare()
        self.path = os.path.join(self.out, "orders")
        src = self.spark.read.parquet(f"{self.sf}/orders.parquet")
        self.schema = src.schema
        self.cols = src.columns
        V.versioned_write(src, self.path, partition_by=["b=bucket(16,o_orderkey)"])
        V.versioned_value_index(self.spark, self.path, [], bloom_cols=["o_custkey"],
                                bloom_bits=1 << 18)
        t = pq.read_table(f"{self.sf}/orders.parquet", columns=self.cols)
        self.model = {r[0]: r for r in zip(*(t.column(c).to_pylist() for c in self.cols))}
        self.next_key = max(self.model) + 1
        self.n_cust = max(r[1] for r in self.model.values()) + 1

    # -- model helpers --------------------------------------------------
    def _expect(self, rows) -> list:
        from tests.oracle_check import _canon

        return sorted(tuple(_canon(v) for v in r) for r in rows)

    def rows_per_pass(self, passes: int) -> float:
        """Rows read and written by one round of the mix."""
        return self.rows_touched / max(passes, 1)

    def _check(self, op: str, got, want) -> None:
        if self._expect(tuple(r) for r in got) != self._expect(want):
            self.fail(f"{op}: {len(got)} rows, model has {len(want)}")

    def _new_rows(self, keys: list[int]) -> list[tuple]:
        import datetime as dt

        r = self.rng
        return [
            (k, r.randrange(self.n_cust), r.choice("FOP"),
             round(r.uniform(1000, 500000), 2),
             dt.datetime(1995, 1, 1) + dt.timedelta(days=r.randrange(2400)),
             r.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]))
            for k in keys
        ]

    def _frame(self, rows):
        return self.spark.createDataFrame(rows, self.schema)

    # -- ops -------------------------------------------------------------
    def op(self, kind: str) -> float:
        """Issue one op, check it against the model; returns the op's
        timed seconds (model upkeep is not timed)."""
        r, m = self.rng, self.model
        n_lookup, n_commit = len(self.lookup_ms), len(self.commit_ms)
        if kind == "lookup_key":
            k = r.randrange(self.next_key)
            got = self.lookup(kind, self.path, {"o_orderkey": k})
            self._check(kind, got, [m[k]] if k in m else [])
        elif kind == "lookup_cust":
            c = r.randrange(self.n_cust)
            got = self.lookup(kind, self.path, {"o_custkey": c})
            self._check(kind, got, [v for v in m.values() if v[1] == c])
        elif kind == "range":
            lo = max(0, self.next_key - r.randrange(self.BATCH, 4 * self.BATCH))
            hi = lo + self.BATCH
            got = self.lookup(kind, self.path, {"o_orderkey": (lo, hi)})
            took = self.lookup_ms.pop() / 1e3  # a range read is not a point lookup
            self._check(kind, got, [m[k] for k in range(lo, hi + 1) if k in m])
        elif kind == "append":
            rows = self._new_rows(list(range(self.next_key, self.next_key + self.BATCH)))
            self.next_key += self.BATCH
            self.commit(kind, lambda: V.versioned_append(self.spark, self.path, self._frame(rows)))
            m.update((row[0], row) for row in rows)
        elif kind == "delete":
            lo = r.randrange(self.next_key)
            hi = lo + 50
            self.commit(kind, lambda: V.versioned_delete(
                self.spark, self.path, f"o_orderkey >= {lo} AND o_orderkey < {hi}"))
            for k in range(lo, hi):
                m.pop(k, None)
        elif kind == "upsert":
            keys = r.sample(range(self.next_key), 200)
            rows = self._new_rows(keys)
            self.commit(kind, lambda: V.versioned_upsert(
                self.spark, self.path, self._frame(rows), ["o_orderkey"]))
            m.update((row[0], row) for row in rows)
        self.attempted += 1
        if kind == "range":
            return took
        if kind in ("append", "upsert"):
            self.rows_touched += len(rows)
        return (sum(self.lookup_ms[n_lookup:]) + sum(self.commit_ms[n_commit:])) / 1e3

    def run_pass(self) -> float:
        order = list(self.ROUND)
        self.rng.shuffle(order)
        took = 0.0
        for kind in order:
            t = self.op(kind)
            self.op_ms.setdefault(kind, []).append(round(t * 1e3, 1))
            took += t
        return took

    def verify(self, oracle: bool) -> None:
        """Whole-table check against the model (keys and prices)."""
        got = V.versioned_read(self.spark, self.path).select(
            "o_orderkey", "o_totalprice").toPandas()
        want = {k: v[3] for k, v in self.model.items()}
        if dict(zip(got.o_orderkey.tolist(), got.o_totalprice.tolist())) != want:
            self.fail(f"table: {len(got)} rows, model has {len(want)}")


WORKLOADS = {w.name: w for w in (EtlTpch, LlmCuration, LakeMixed)}
