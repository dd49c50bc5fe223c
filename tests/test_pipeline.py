"""Pipeline graph + file source/sink round-trips (SURVEY §2A E1/E2,
S1/S2, L1/L2 analogs)."""

from __future__ import annotations

import json
import os
import threading
import time
import zipfile

import pytest
from pyspark.sql import functions as F

from skopje_spark.pipeline import Pipeline
from skopje_spark.sinks import csv_sink, json_sink, parquet_sink
from skopje_spark.sources import (
    binary_source,
    csv_source,
    json_source,
    parquet_source,
    unzip,
)


def test_pipeline_end_to_end(spark, sf_dir, tmp_path):
    out = str(tmp_path / "out")
    p = Pipeline("etl")
    p.source("orders", lambda ctx: parquet_source(
        ctx.spark, os.path.join(ctx.conf["sf_dir"], "orders.parquet")))
    p.source("customer", lambda ctx: parquet_source(
        ctx.spark, os.path.join(ctx.conf["sf_dir"], "customer.parquet")))
    p.transform(
        "joined",
        lambda ctx, o, c: o.join(c, o.o_custkey == c.c_custkey).groupBy(
            "c_mktsegment").agg(F.count(F.lit(1)).alias("n_orders")),
        deps=["orders", "customer"],
    )
    p.sink("save", lambda ctx, df: parquet_sink(df, out, mode="overwrite"),
           dep="joined")
    results = p.run(spark, conf={"sf_dir": sf_dir})

    assert results["joined"].columns == ["c_mktsegment", "n_orders"]
    back = spark.read.parquet(out)
    assert back.count() == results["joined"].count() > 0


def test_pipeline_rejects_cycles_and_dups(spark):
    p = Pipeline()
    p.source("a", lambda ctx: None)
    with pytest.raises(ValueError, match="duplicate"):
        p.source("a", lambda ctx: None)
    with pytest.raises(ValueError, match="unknown"):
        p.transform("t", lambda ctx, x: x, deps=["missing"])


def _slots(monkeypatch, spark, n):
    """Make ``run`` see ``n`` cores, so the pool bound it derives is
    the same at any ``SPARK_GRAFT_CPUS``."""
    monkeypatch.setattr(type(spark.sparkContext), "defaultParallelism",
                        property(lambda sc: n))


class _Log:
    """Thread-safe ``(event, node)`` log that nodes write into."""

    def __init__(self):
        self.events: list[tuple[str, str]] = []
        self._lock = threading.Lock()

    def add(self, event: str, node: str) -> None:
        with self._lock:
            self.events.append((event, node))

    def node(self, name: str, value=None, *, sleep: float = 0.0, error=None):
        def fn(ctx, *parents):
            self.add("start", name)
            time.sleep(sleep)
            if error is not None:
                raise error
            self.add("end", name)
            return value
        return fn

    def index(self, event: str, node: str) -> int:
        return self.events.index((event, node))


def test_pipeline_runs_independent_sinks_concurrently(spark, monkeypatch):
    """Two sinks that each wait for the other can only both finish if
    they run at the same time."""
    _slots(monkeypatch, spark, 2)
    barrier = threading.Barrier(2, timeout=10)
    p = Pipeline("pair")
    p.source("a", lambda ctx: "a")
    p.sink("sa", lambda ctx, x: (barrier.wait(), x)[1], dep="a")
    p.sink("sb", lambda ctx, x: (barrier.wait(), x)[1], dep="a")
    out = p.run(spark)
    assert (out["sa"], out["sb"]) == ("a", "a")


def test_pipeline_one_core_runs_nodes_in_registration_order(spark, monkeypatch):
    _slots(monkeypatch, spark, 1)
    log = _Log()
    p = Pipeline("serial")
    p.source("a", log.node("a"))
    p.sink("sa", log.node("sa"), dep="a")
    p.source("b", log.node("b"))
    p.transform("ab", log.node("ab"), deps=["a", "b"])
    p.sink("sab", log.node("sab"), dep="ab")
    p.run(spark)
    assert log.events == [(e, n) for n in ["a", "sa", "b", "ab", "sab"]
                          for e in ("start", "end")]


def test_pipeline_node_starts_after_all_its_deps_return(spark):
    log = _Log()
    p = Pipeline("diamond")
    p.source("fast", log.node("fast"))
    p.source("slow", log.node("slow", sleep=0.3))
    p.transform("left", log.node("left", sleep=0.1), deps=["fast"])
    p.transform("join", log.node("join"), deps=["left", "slow"])
    p.sink("save", log.node("save"), dep="join")
    p.run(spark)
    for name, node in p._nodes.items():
        for d in node.deps:
            assert log.index("end", d) < log.index("start", name)


class _NodeFailed(RuntimeError):
    pass


def test_pipeline_failure_stops_new_nodes_and_reraises(spark, monkeypatch):
    """The failing node's own exception reaches the caller; a node
    already running finishes; nothing downstream of the failure, or
    not yet started, runs."""
    _slots(monkeypatch, spark, 2)
    log = _Log()
    boom = _NodeFailed("bad input")
    p = Pipeline("failing")
    p.source("slow", log.node("slow", sleep=0.3))
    p.source("bad", log.node("bad", error=boom))
    p.sink("after_bad", log.node("after_bad"), dep="bad")
    p.sink("after_slow", log.node("after_slow"), dep="slow")
    with pytest.raises(_NodeFailed) as info:
        p.run(spark)
    assert info.value is boom
    assert ("end", "slow") in log.events
    assert {n for _, n in log.events} == {"slow", "bad"}


def test_pipeline_nodes_inherit_job_group_and_name_their_jobs(spark):
    sc = spark.sparkContext
    seen = {}

    def probe(name):
        def fn(ctx, *parents):
            seen[name] = (sc.getLocalProperty("spark.jobGroup.id"),
                          sc.getLocalProperty("spark.job.description"))
            return name
        return fn

    p = Pipeline("tagged")
    p.source("a", probe("a"))
    p.source("b", probe("b"))
    p.sink("sa", probe("sa"), dep="a")
    sc.setJobGroup("caller-group", "caller description")
    try:
        p.run(spark)
        assert sc.getLocalProperty("spark.job.description") == "caller description"
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert seen == {n: ("caller-group", f"tagged/{n}") for n in ("a", "b", "sa")}


def test_pipeline_run_leaves_no_threads_and_keeps_result_order(spark):
    log = _Log()
    p = Pipeline("order")
    p.source("z", log.node("z", "Z", sleep=0.1))
    p.source("a", log.node("a", "A"))
    p.transform("m", log.node("m", "M"), deps=["z", "a"])
    p.sink("b", log.node("b", "B"), dep="a")
    p.sink("c", log.node("c", "C"), dep="m")
    threads = threading.active_count()
    out = p.run(spark)
    assert threading.active_count() == threads
    assert list(out.items()) == [("z", "Z"), ("a", "A"), ("m", "M"),
                                 ("b", "B"), ("c", "C")]


def test_json_source_multiline_and_lines(spark, tmp_path):
    # whole-file document (the reference's read_json semantics)
    doc = tmp_path / "doc.json"
    doc.write_text(json.dumps({"name": "x", "vals": [1, 2, 3]}))
    df = json_source(spark, str(doc), multi_line=True)
    row = df.first()
    assert row["name"] == "x" and list(row["vals"]) == [1, 2, 3]

    # json-lines (splittable scale path), explicit schema: no inference pass
    lines = tmp_path / "lines.json"
    lines.write_text("\n".join(json.dumps({"k": i}) for i in range(5)))
    df2 = json_source(spark, str(lines), schema="k long")
    assert df2.count() == 5


def test_csv_round_trip(spark, sf_dir, tmp_path):
    nation = spark.read.parquet(os.path.join(sf_dir, "nation.parquet"))
    path = str(tmp_path / "nation_csv")
    csv_sink(nation, path, mode="overwrite")
    back = csv_source(spark, path, schema=nation.schema)
    assert back.count() == nation.count() == 25


def test_json_sink_round_trip(spark, sf_dir, tmp_path):
    region = spark.read.parquet(os.path.join(sf_dir, "region.parquet"))
    path = str(tmp_path / "region_json")
    json_sink(region, path, mode="overwrite")
    assert json_source(spark, path).count() == 5


def test_parquet_sink_dedup_contract_and_partitioning(spark, tmp_path):
    df = spark.createDataFrame(
        [(1, "a", "x"), (1, "a", "x"), (2, "b", "y")], "id int, v string, p string"
    )
    out = str(tmp_path / "part")
    parquet_sink(df, out, mode="overwrite", partition_by=["p"],
                 dedup_keys=["id"])
    assert os.path.isdir(os.path.join(out, "p=x"))  # directory partitioning
    assert spark.read.parquet(out).count() == 2     # pre-copy dedup (pg.rs:19-20)


def test_unzip_then_read(spark, tmp_path):
    zpath = tmp_path / "archive.zip"
    with zipfile.ZipFile(zpath, "w") as zf:
        for i in range(3):
            zf.writestr(f"sub/part{i}.json", json.dumps({"i": i}))
    extracted = unzip(str(zpath), str(tmp_path / "out"))
    assert len(extracted) == 3
    df = json_source(spark, str(tmp_path / "out" / "sub"), schema="i long")
    assert df.count() == 3


def test_binary_source(spark, tmp_path):
    (tmp_path / "blob1.bin").write_bytes(b"\x00\x01\x02")
    (tmp_path / "blob2.bin").write_bytes(b"\x03\x04")
    df = binary_source(spark, str(tmp_path), glob="*.bin")
    rows = {os.path.basename(r["path"]): r for r in df.collect()}
    assert rows["blob1.bin"]["length"] == 3
    assert bytes(rows["blob2.bin"]["content"]) == b"\x03\x04"


def test_json_source_corrupt_record_policies(spark, tmp_path):
    """Dead-letter handling: PERMISSIVE captures the raw bad line in a
    quarantine column, DROPMALFORMED skips it, FAILFAST raises."""
    p = tmp_path / "mixed.json"
    p.write_text('{"k": 1}\nnot json at all\n{"k": 3}\n')

    df = json_source(spark, str(p), schema="k long", corrupt_col="_bad")
    rows = df.collect()
    assert sorted(r["k"] for r in rows if r["k"] is not None) == [1, 3]
    bad = [r["_bad"] for r in rows if r["_bad"] is not None]
    assert bad == ["not json at all"]

    dropped = json_source(spark, str(p), schema="k long", mode="DROPMALFORMED")
    assert sorted(r["k"] for r in dropped.collect()) == [1, 3]

    import pytest as _pytest
    with _pytest.raises(Exception, match="Malformed|FAILFAST"):
        json_source(spark, str(p), schema="k long", mode="FAILFAST").collect()


def test_etl_end_to_end_http_keymap_load(spark, tmp_path):
    """The reference's whole reason to exist, as one pipeline: scrape
    an API (local server), assign surrogate keys to a string dimension
    via KeyMap, quality-check, and load partitioned parquet
    (macro sketch: skopje-macros/src/lib.rs:14-23 pairs HTTP_GET with
    PG_INSERT; this is that loop on the lake)."""
    import json as _json
    import threading
    from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

    from skopje_spark.operators.keymap import keymap_assign, keymap_lookup
    from skopje_spark.operators.quality import check_foreign_key
    from skopje_spark.pipeline import Pipeline
    from skopje_spark.sources.http import fetch_json

    payload = [
        {"symbol": "AAA", "price": 1.5, "ts": 1716400000},
        {"symbol": "BBB", "price": 2.5, "ts": 1716486400},
        {"symbol": "AAA", "price": 1.7, "ts": 1716572800},
    ]

    class H(BaseHTTPRequestHandler):
        def log_message(self, *a):
            pass

        def do_GET(self):
            body = _json.dumps(payload).encode()
            self.send_response(200)
            self.send_header("Content-Length", str(len(body)))
            self.end_headers()
            self.wfile.write(body)

    srv = ThreadingHTTPServer(("127.0.0.1", 0), H)
    threading.Thread(target=srv.serve_forever, daemon=True).start()
    url = f"http://127.0.0.1:{srv.server_address[1]}/symbols"
    out = str(tmp_path / "facts")

    try:
        p = Pipeline("scrape")
        p.source("quotes", lambda ctx: fetch_json(
            ctx.spark, ctx.conf["url"], schema="symbol string, price double, ts long"))
        p.source("dim", lambda ctx: ctx.spark.createDataFrame(
            [(0, "AAA")], "key bigint, value string"))  # pre-existing dim
        p.transform(
            "dim_updated",
            lambda ctx, q, d: keymap_assign(
                d, q.selectExpr("symbol AS value"), policy="dense"),
            deps=["quotes", "dim"],
        )
        p.transform(
            "facts",
            lambda ctx, q, d: keymap_lookup(
                d, q.selectExpr("symbol AS value", "price",
                                "to_date(from_unixtime(ts)) AS day")),
            deps=["quotes", "dim_updated"],
        )
        p.sink("save", lambda ctx, df: parquet_sink(
            df, out, mode="overwrite", partition_by=["day"]), dep="facts")
        results = p.run(spark, conf={"url": url})
    finally:
        srv.shutdown()

    # surrogate keys resolved for every fact; BBB got a new key (1)
    facts = spark.read.parquet(out)
    assert facts.count() == 3 and facts.filter("key IS NULL").count() == 0
    keys = {r["key"] for r in facts.collect()}
    assert keys == {0, 1}
    # referential integrity against the updated dimension
    fk = check_foreign_key(facts, "key", results["dim_updated"], "key")
    assert fk.collect()[0]["n_violations"] == 0


def test_parquet_upsert_merge_semantics(spark, tmp_path):
    from skopje_spark.sinks.files import parquet_upsert

    path = str(tmp_path / "dim")
    base = spark.createDataFrame(
        [(1, "one", 10.0), (2, "two", 20.0)], "k bigint, name string, v double"
    )
    parquet_upsert(spark, path, base, ["k"])
    assert spark.read.parquet(path).count() == 2

    updates = spark.createDataFrame(
        [(2, "TWO", 22.0), (3, "three", 30.0)], "k bigint, name string, v double"
    )
    parquet_upsert(spark, path, updates, ["k"])
    got = {r["k"]: (r["name"], r["v"]) for r in spark.read.parquet(path).collect()}
    # 1 kept, 2 replaced, 3 inserted
    assert got == {1: ("one", 10.0), 2: ("TWO", 22.0), 3: ("three", 30.0)}

    # idempotent re-apply
    parquet_upsert(spark, path, updates, ["k"])
    assert spark.read.parquet(path).count() == 3


def test_pipeline_from_spec_json_document(spark, sf_dir, tmp_path):
    """Declarative spec → graph → run: the reference's never-shipped
    attribute-macro API (skopje-macros/src/lib.rs:12-75), with SQL
    transforms standing in for the delegated fetch_stmt strings."""
    from skopje_spark.spec import pipeline_from_spec

    out = str(tmp_path / "seg")
    spec = {
        "name": "declarative-demo",
        "nodes": [
            {"name": "orders", "kind": "source", "format": "parquet",
             "path": "${sf_dir}/orders.parquet"},
            {"name": "customer", "kind": "source", "format": "parquet",
             "path": "${sf_dir}/customer.parquet"},
            {"name": "seg_rev", "kind": "transform",
             "deps": ["orders", "customer"],
             "sql": """SELECT c_mktsegment, COUNT(*) AS n_orders,
                              SUM(o_totalprice) AS revenue
                       FROM orders JOIN customer ON o_custkey = c_custkey
                       GROUP BY c_mktsegment"""},
            {"name": "save", "kind": "sink", "format": "parquet",
             "dep": "seg_rev", "path": out, "mode": "overwrite"},
        ],
    }
    p = pipeline_from_spec(spec)
    results = p.run(spark, conf={"sf_dir": sf_dir})
    back = spark.read.parquet(out)
    assert back.count() == results["seg_rev"].count() > 0
    assert set(back.columns) == {"c_mktsegment", "n_orders", "revenue"}

    # same spec as a JSON string round-trips
    import json as _json
    p2 = pipeline_from_spec(_json.dumps(spec))
    assert sorted(p2._nodes) == sorted(p._nodes)


def test_pipeline_spec_op_transforms_curation_chain(spark, sf_dir, tmp_path):
    """Declarative OP transforms: the full curation chain — exact
    dedup → span trim → leakage-safe split — as a spec document with
    no Python transform code; results match calling the operators
    directly, and bad specs fail loudly."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from skopje_spark.operators.dedup import dedup_exact, dup_span_trim
    from skopje_spark.spec import pipeline_from_spec

    out = str(tmp_path / "curated")
    spec = {
        "name": "curation-declarative",
        "nodes": [
            {"name": "docs", "kind": "source", "format": "parquet",
             "path": "${sf_dir}/documents.parquet"},
            {"name": "dd", "kind": "transform", "deps": ["docs"],
             "op": "dedup_exact",
             "args": {"id_col": "doc_id", "text_col": "text"}},
            {"name": "trimmed", "kind": "transform", "deps": ["dd"],
             "op": "dup_span_trim",
             "args": {"id_col": "doc_id", "text_col": "text", "n": 8}},
            {"name": "save", "kind": "sink", "format": "parquet",
             "dep": "trimmed", "path": out, "mode": "overwrite"},
        ],
    }
    p = pipeline_from_spec(spec)
    p.run(spark, conf={"sf_dir": sf_dir})
    got = spark.read.parquet(out)

    from skopje_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    want = dup_span_trim(
        dedup_exact(d, "doc_id", "text"), "doc_id", "text", n=8
    )
    assert sorted(
        tuple(r) for r in got.select("doc_id", "kept_tokens").collect()
    ) == sorted(tuple(r) for r in want.select("doc_id", "kept_tokens").collect())

    # two-dep op node: contamination against a benchmark slice
    spec2 = {
        "name": "decontam",
        "nodes": [
            {"name": "docs", "kind": "source", "format": "parquet",
             "path": "${sf_dir}/documents.parquet"},
            {"name": "bench", "kind": "transform", "deps": ["docs"],
             "sql": "SELECT * FROM docs WHERE doc_id % 20 = 0"},
            {"name": "train", "kind": "transform", "deps": ["docs"],
             "sql": "SELECT * FROM docs WHERE doc_id % 20 <> 0"},
            {"name": "report", "kind": "transform",
             "deps": ["train", "bench"],
             "op": "contamination_report", "args": {"n": 8}},
        ],
    }
    res = pipeline_from_spec(spec2).run(spark, conf={"sf_dir": sf_dir})
    rep = res["report"]
    assert {"doc_id", "n_grams", "n_shared", "contamination", "flagged"} <= set(
        rep.columns
    )
    assert rep.count() == d.filter(F.col("doc_id") % 20 != 0).count()

    with _pytest.raises(ValueError, match="exactly one of"):
        pipeline_from_spec({"name": "bad", "nodes": [
            {"name": "t", "kind": "transform", "deps": [],
             "sql": "SELECT 1", "op": "dedup_exact"}]})
    bad = pipeline_from_spec({"name": "bad2", "nodes": [
        {"name": "docs", "kind": "source", "format": "parquet",
         "path": "${sf_dir}/documents.parquet"},
        {"name": "t", "kind": "transform", "deps": ["docs"],
         "op": "no_such_op"}]})
    with _pytest.raises(ValueError, match="unknown op"):
        bad.run(spark, conf={"sf_dir": sf_dir})


def test_pipeline_spec_streaming_to_versioned(spark, tmp_path):
    """Declarative STREAMING pipeline: stream_file source → SQL
    transform on the unbounded frame → exactly-once stream_versioned
    sink, all from one spec document. Drains with availableNow and
    lands the merged state in the time-traveled table."""
    import json as _json

    from skopje_spark.sinks.versioned import latest_version, versioned_read
    from skopje_spark.spec import pipeline_from_spec

    src = tmp_path / "sspec_src"
    src.mkdir()
    rows = [
        {"event_id": 1, "ts": "2024-01-01T00:00:00", "user_id": "a", "value": 1.0},
        {"event_id": 2, "ts": "2024-01-01T00:01:00", "user_id": "b", "value": 2.0},
        {"event_id": 1, "ts": "2024-01-01T00:02:00", "user_id": "a", "value": 10.0},
    ]
    with open(src / "b0.json", "w") as f:
        for r in rows[:2]:
            f.write(_json.dumps(r) + "\n")
    with open(src / "b1.json", "w") as f:
        f.write(_json.dumps(rows[2]) + "\n")
    # pin mtimes so the two files arrive as two ordered micro-batches
    # (one file per trigger below) — one combined batch would append
    # both event-1 rows in a single upsert instead of merging them
    import os as _os
    import time as _time

    now = _time.time()
    _os.utime(src / "b0.json", (now - 60, now - 60))
    _os.utime(src / "b1.json", (now, now))

    table = str(tmp_path / "sspec_table")
    spec = {
        "name": "stream-declarative",
        "nodes": [
            {"name": "events", "kind": "source", "format": "stream_file",
             "path": str(src), "max_files_per_trigger": 1,
             "schema": "event_id long, ts timestamp, user_id string, value double"},
            {"name": "scaled", "kind": "transform", "deps": ["events"],
             "sql": "SELECT event_id, user_id, value * 2 AS value FROM events"},
            {"name": "merge", "kind": "sink", "format": "stream_versioned",
             "dep": "scaled", "path": table,
             "keys": ["event_id"],
             "checkpoint": str(tmp_path / "sspec_ck")},
        ],
    }
    res = pipeline_from_spec(spec).run(spark)
    res["merge"].awaitTermination()
    assert latest_version(table) is not None
    out_rows = versioned_read(spark, table).collect()
    assert len(out_rows) == 2  # upsert merged, not appended
    got = {r["event_id"]: r["value"] for r in out_rows}
    # upsert semantics: event 1's later batch (10.0 * 2) wins
    assert got == {1: 20.0, 2: 4.0}


def test_pipeline_spec_bpe_count_from_persisted_model(spark, tmp_path):
    """Declarative subword counting: an op node loads the persisted
    BPE merge table (bpe_model_write artifact) by path and counts
    match the in-memory model exactly."""
    from skopje_spark.operators.tokenizer import (
        bpe_model_write,
        bpe_train,
        token_count_bpe,
    )
    from skopje_spark.spec import pipeline_from_spec
    from skopje_spark.tables import load_table

    sf = "/root/testdata/sf0.001"
    d = load_table(spark, sf, "documents").select("doc_id", "text")
    model = bpe_train(d, "text", num_merges=64)
    mp = str(tmp_path / "bpe_model")
    bpe_model_write(spark, model, mp)

    spec = {
        "name": "bpe-declarative",
        "nodes": [
            {"name": "docs", "kind": "source", "format": "parquet",
             "path": f"{sf}/documents.parquet", "columns": ["doc_id", "text"]},
            {"name": "counted", "kind": "transform", "deps": ["docs"],
             "op": "token_count_bpe",
             "args": {"model_path": mp, "text_col": "text"}},
        ],
    }
    res = pipeline_from_spec(spec).run(spark)
    got = {r["doc_id"]: r["n_bpe_tokens"] for r in res["counted"].collect()}
    want = {
        r["doc_id"]: r["n_bpe_tokens"]
        for r in token_count_bpe(d, "text", model).collect()
    }
    assert got == want


def test_pipeline_spec_versioned_batch_sink(spark, tmp_path):
    """Batch 'versioned' sink: plain commits without keys, MERGE
    semantics with keys — two runs of a keyed spec upsert instead of
    duplicating."""
    from skopje_spark.sinks.versioned import latest_version, versioned_read
    from skopje_spark.spec import pipeline_from_spec

    table = str(tmp_path / "vspec")
    sf = "/root/testdata/sf0.001"
    spec = {
        "name": "versioned-sink",
        "nodes": [
            {"name": "nation", "kind": "source", "format": "parquet",
             "path": f"{sf}/nation.parquet"},
            {"name": "small", "kind": "transform", "deps": ["nation"],
             "sql": "SELECT n_nationkey, n_name FROM nation WHERE n_nationkey < 5"},
            {"name": "commit", "kind": "sink", "format": "versioned",
             "dep": "small", "path": table, "keys": ["n_nationkey"]},
        ],
    }
    pipeline_from_spec(spec).run(spark)
    assert latest_version(table) == 0
    n0 = versioned_read(spark, table).count()
    pipeline_from_spec(spec).run(spark)  # same rows -> merge, not append
    assert latest_version(table) == 1
    assert versioned_read(spark, table).count() == n0

    # declarative partition spec on creation; later keyed runs inherit
    from skopje_spark.sinks.versioned import table_partitioning

    table2 = str(tmp_path / "vspecp")
    spec2 = {
        "name": "versioned-sink-part",
        "nodes": [
            {"name": "nation", "kind": "source", "format": "parquet",
             "path": f"{sf}/nation.parquet"},
            {"name": "small", "kind": "transform", "deps": ["nation"],
             "sql": "SELECT n_nationkey, n_regionkey, n_name FROM nation"},
            {"name": "commit", "kind": "sink", "format": "versioned",
             "dep": "small", "path": table2, "keys": ["n_nationkey"],
             "partition_by": ["n_regionkey"]},
        ],
    }
    pipeline_from_spec(spec2).run(spark)
    assert table_partitioning(table2) == ["n_regionkey"]
    pipeline_from_spec(spec2).run(spark)  # merge inherits the layout
    assert table_partitioning(table2) == ["n_regionkey"]
    assert versioned_read(spark, table2).count() == 25


def test_pipeline_spec_lsh_probe_and_numeric_drift(spark, sf_dir, tmp_path):
    """Declarative crawl gate + drift monitor: lsh_index_probe op
    addresses a persisted index by path (like the BPE model artifact);
    psi_drift_binned is a two-dep op. Both match direct operator
    calls."""
    from skopje_spark.operators.dedup import lsh_index_probe, lsh_index_write
    from skopje_spark.operators.quality import psi_drift_binned
    from skopje_spark.spec import pipeline_from_spec
    from skopje_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    idx = str(tmp_path / "idx")
    lsh_index_write(d.filter("doc_id % 2 = 0"), idx)

    spec = {
        "name": "crawl-gate",
        "nodes": [
            {"name": "docs", "kind": "source", "format": "parquet",
             "path": "${sf_dir}/documents.parquet"},
            {"name": "batch", "kind": "transform", "deps": ["docs"],
             "sql": "SELECT * FROM docs WHERE doc_id % 2 = 1"},
            {"name": "hits", "kind": "transform", "deps": ["batch"],
             "op": "lsh_index_probe",
             "args": {"path": idx, "threshold": 0.5}},
            {"name": "old", "kind": "transform", "deps": ["docs"],
             "sql": "SELECT n_chars FROM docs WHERE doc_id % 2 = 0"},
            {"name": "new", "kind": "transform", "deps": ["docs"],
             "sql": "SELECT n_chars FROM docs WHERE doc_id % 2 = 1"},
            {"name": "drift", "kind": "transform", "deps": ["old", "new"],
             "op": "psi_drift_binned", "args": {"col": "n_chars", "n_bins": 8}},
        ],
    }
    res = pipeline_from_spec(spec).run(spark, conf={"sf_dir": sf_dir})

    want_hits = lsh_index_probe(d.filter("doc_id % 2 = 1"), idx, threshold=0.5)
    assert sorted(map(tuple, res["hits"].collect())) == sorted(
        map(tuple, want_hits.collect())
    )
    want_drift = psi_drift_binned(
        d.filter("doc_id % 2 = 0").select("n_chars"),
        d.filter("doc_id % 2 = 1").select("n_chars"),
        "n_chars", n_bins=8,
    )
    assert sorted(map(tuple, res["drift"].collect())) == sorted(
        map(tuple, want_drift.collect())
    )


def test_pipeline_spec_webtext_crawl_chain(spark, sf_dir, tmp_path):
    """Declarative crawl-text chain: html_extract → url_canonicalize →
    gopher_quality_flags as spec op nodes, equal to direct operator
    calls."""
    from pyspark.sql import functions as F

    from skopje_spark.operators.webtext import (
        canonical_url,
        gopher_quality_flags,
        html_to_text,
        url_host,
    )
    from skopje_spark.spec import pipeline_from_spec
    from skopje_spark.tables import load_table

    raw = str(tmp_path / "raw_pages")
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.lit("<p>"), F.col("text"), F.lit(" &amp; tail</p>")
        ).alias("html"),
        F.concat(
            F.lit("HTTP://Site.ORG:80/d/"), F.col("doc_id").cast("string"),
            F.lit("?utm_source=x&q=1#f"),
        ).alias("url"),
    )
    d.write.mode("overwrite").parquet(raw)

    out = str(tmp_path / "crawl_out")
    spec = {
        "name": "crawl-extract",
        "nodes": [
            {"name": "pages", "kind": "source", "format": "parquet",
             "path": raw},
            {"name": "txt", "kind": "transform", "deps": ["pages"],
             "op": "html_extract",
             "args": {"src_col": "html", "out_col": "text"}},
            {"name": "urls", "kind": "transform", "deps": ["txt"],
             "op": "url_canonicalize",
             "args": {"src_col": "url", "out_col": "url_canon",
                      "host_col": "host"}},
            {"name": "flags", "kind": "transform", "deps": ["urls"],
             "op": "gopher_quality_flags",
             "args": {"id_col": "doc_id", "text_col": "text",
                      "min_words": 10}},
            {"name": "save", "kind": "sink", "format": "parquet",
             "dep": "flags", "path": out, "mode": "overwrite"},
        ],
    }
    pipeline_from_spec(spec).run(spark, conf={})
    got = spark.read.parquet(out)

    direct_txt = d.withColumn("text", html_to_text(F.col("html")))
    direct = gopher_quality_flags(
        direct_txt.withColumn("url_canon", canonical_url(F.col("url")))
        .withColumn("host", url_host(F.col("url"))),
        "doc_id", "text", min_words=10,
    )
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, direct.collect())
    )
    # canonical form sanity on one row
    sample = (
        direct_txt.withColumn("c", canonical_url(F.col("url")))
        .select("doc_id", "c").orderBy("doc_id").first()
    )
    assert sample["c"] == f"http://site.org/d/{sample['doc_id']}?q=1"


def test_pipeline_spec_stream_changes_sink(spark, tmp_path):
    """Declarative CDC ingestion: a stream_changes sink node applies
    I/U/D micro-batches exactly-once into a versioned table."""
    import json as _json
    import os as _os
    import time as _time

    from skopje_spark.sinks.versioned import versioned_read
    from skopje_spark.spec import pipeline_from_spec

    src = tmp_path / "cdcspec"
    src.mkdir()
    batches = [
        [{"k": 1, "v": "a", "__op": "I"}, {"k": 2, "v": "b", "__op": "I"}],
        [{"k": 1, "v": None, "__op": "D"}, {"k": 2, "v": "B", "__op": "U"}],
    ]
    now = _time.time()
    for i, b in enumerate(batches):
        with open(src / f"b{i}.json", "w") as f:
            for r in b:
                f.write(_json.dumps(r) + "\n")
        _os.utime(src / f"b{i}.json", (now - (2 - i) * 10,) * 2)
    table = str(tmp_path / "cdctab")
    spec = {
        "name": "cdc-ingest",
        "nodes": [
            {"name": "changes", "kind": "source", "format": "stream_file",
             "path": str(src), "schema": "k int, v string, __op string",
             "max_files_per_trigger": 1},
            {"name": "load", "kind": "sink", "format": "stream_changes",
             "dep": "changes", "path": table,
             "checkpoint": str(tmp_path / "ck"), "keys": ["k"]},
        ],
    }
    res = pipeline_from_spec(spec).run(spark, conf={})
    for q in res.values():
        if hasattr(q, "awaitTermination"):
            q.awaitTermination()
    rows = sorted((r["k"], r["v"]) for r in versioned_read(spark, table).collect())
    assert rows == [(2, "B")]


def test_pipeline_spec_versioned_source_and_cdf_chain(spark, tmp_path):
    """Declarative LAKE sources: a `versioned` source node reads a
    snapshot through the connector (rename + DV applied), and a
    `stream_versioned_changes` source streams the table's change feed
    into a parquet sink — spec-driven end to end."""
    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_rename_column,
        versioned_upsert,
        versioned_write,
    )
    from skopje_spark.spec import pipeline_from_spec

    table = str(tmp_path / "lake_t")
    versioned_write(
        spark.createDataFrame(
            [(i, float(i)) for i in range(10)], "k long, x double"
        ),
        table,
    )
    versioned_delete(spark, table, "k = 4", change_feed=True)
    versioned_rename_column(table, "x", "score")
    versioned_upsert(
        spark, table,
        spark.createDataFrame([(3, 99.0)], "k long, score double"),
        ["k"], change_feed=True,
    )

    out = str(tmp_path / "snap_out")
    spec = {
        "name": "lake-read",
        "nodes": [
            {"name": "snap", "kind": "source", "format": "versioned",
             "path": table},
            {"name": "big", "kind": "transform", "deps": ["snap"],
             "sql": "SELECT k, score FROM snap WHERE score >= 5"},
            {"name": "save", "kind": "sink", "format": "parquet",
             "dep": "big", "path": out},
        ],
    }
    pipeline_from_spec(spec).run(spark)
    got = {r["k"]: r["score"] for r in spark.read.parquet(out).collect()}
    assert got == {3: 99.0, 5: 5.0, 6: 6.0, 7: 7.0, 8: 8.0, 9: 9.0}

    cdf_out = str(tmp_path / "cdf_out")
    spec2 = {
        "name": "lake-cdf",
        "nodes": [
            {"name": "feed", "kind": "source",
             "format": "stream_versioned_changes", "path": table,
             "starting_version": 1, "initial_snapshot": False},
            {"name": "land", "kind": "sink", "format": "stream_parquet",
             "dep": "feed", "path": cdf_out,
             "checkpoint": str(tmp_path / "cdf_ck"),
             "available_now": True},
        ],
    }
    res = pipeline_from_spec(spec2).run(spark)
    res["land"].awaitTermination()
    rows = sorted(
        (r["_commit_version"], r["_change_type"], r["k"])
        for r in spark.read.parquet(cdf_out).collect()
    )
    # v1 = DV delete of k=4; v2 = rename (zero changes); v3 = merge
    assert rows == [
        (1, "delete", 4),
        (3, "update_postimage", 3),
        (3, "update_preimage", 3),
    ]


def test_pipeline_spec_value_index_install_and_maintain(spark, tmp_path):
    """Declarative value_index on the versioned sink: installed once
    after the table exists, then SELF-maintained — a second keyed run
    stamps its rewritten files with value sets, and membership
    pruning serves point reads exactly."""
    from skopje_spark.sinks.versioned import (
        _read_manifest,
        latest_version,
        snapshot_meta,
        versioned_read_where,
    )
    from skopje_spark.spec import pipeline_from_spec

    table = str(tmp_path / "vidx")
    sf = "/root/testdata/sf0.001"
    spec = {
        "name": "versioned-value-index",
        "nodes": [
            {"name": "nation", "kind": "source", "format": "parquet",
             "path": f"{sf}/nation.parquet"},
            {"name": "small", "kind": "transform", "deps": ["nation"],
             "sql": "SELECT n_nationkey, n_regionkey, n_name FROM nation"},
            {"name": "commit", "kind": "sink", "format": "versioned",
             "dep": "small", "path": table, "keys": ["n_nationkey"],
             "value_index": {"cols": ["n_regionkey"]}},
        ],
    }
    pipeline_from_spec(spec).run(spark)
    v = latest_version(table)
    assert snapshot_meta(table, "op", version=v) == "value_index"
    ent = _read_manifest(table, v)["files"]
    assert all(
        "vals" in (e["stats"].get("n_regionkey") or {})
        for e in ent if e.get("rows")
    )
    pipeline_from_spec(spec).run(spark)  # keyed re-run: merge, no re-install
    v2 = latest_version(table)
    assert snapshot_meta(table, "op", version=v2) == "merge"
    ent2 = _read_manifest(table, v2)["files"]
    assert all(
        "vals" in (e["stats"].get("n_regionkey") or {})
        for e in ent2 if e.get("rows")
    )
    got = versioned_read_where(spark, table, {"n_regionkey": 2})
    assert got.count() == 5
