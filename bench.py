#!/usr/bin/env python
"""Benchmark harness: runs the engine's headline queries at
$SPARK_GRAFT_SF_DIR (default /root/testdata/sf0.1) on
local[$SPARK_GRAFT_CPUS] and prints ONE JSON line:

  {"metric": "...", "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Each query is executed to completion (count() materializes the whole
plan without driver-side row transfer). A warmup pass on sf0.001
absorbs JVM/codegen warmup so the timed numbers reflect plan
execution, not session startup.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

HEADLINE = [
    # relational flagships
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_region_revenue",
    "q7_volume_shipping",
    "q10_returned_items",
    "q18_large_volume_customers",
    # windows / reshaping
    "q_window_frames",
    "q_topk_per_group",
    "q_join_asof",
    "q_window_session",
    "q_pivot_events",
    # LLM-data operators
    "q_explode_wordcount",
    "q_dedup_ngram_jaccard",
    "q_dedup_minhash_lsh",
    "q_similarity_topk_bruteforce",
    "q_similarity_blocked_pairs",
    "q_text_quality",
    # iterative / two-pass operators (driver-actioned inside the query:
    # checkpointed clustering rounds, prefix-sum passes)
    "q_dedup_clusters",
    "q_pack_sequences",
    "q_shuffle_deterministic",
    # round-5 additions: batched ANN and mergeable sketch state
    # (q_sketch_quantile_merge itself is excluded on purpose: its
    # in-query exact-rank verifier — a full per-group sort window —
    # would dominate the timing and measure the verifier, not the
    # operator; the bench-only q_sketch_quantile_ops below times the
    # production state-build → merge → quantile path alone)
    "q_similarity_batch_topk",
    "q_sketch_incremental_distinct",
    "q_sketch_quantile_ops",
    # round-6 additions: compression kernels, graph, corpus-LM scoring
    "q_embed_quantize_int8",
    "q_graph_pagerank",
    "q_text_unigram_logprob",
    # late round-6 additions: prefix-filtered similarity join, PQ ANN
    # query path, bigram LM scoring. q_similarity_pq_rerank and
    # q_similarity_ivfpq_topk are excluded like the persisted-index
    # queries: their timing is dominated by the build-once training/
    # index write, which per-query repetition would mismeasure; the
    # bench-only q_pq_adc_query below times the recurring production
    # cost (ADC shortlist + exact re-rank over a prebuilt encoding).
    "q_dedup_jaccard_prefix",
    "q_pq_adc_query",
    "q_text_bigram_logprob",
    # round-7 additions: exact-substring span removal, composed
    # semantic dedup. q_text_bpe_tokens is excluded like the
    # persisted-index queries: its timing is dominated by the
    # build-once merge training; the bench-only q_bpe_encode_count
    # below times the recurring Arrow-batched encode path over a
    # prebuilt merge table.
    "q_dedup_span_trim",
    "q_dedup_semantic",
    "q_bpe_encode_count",
    # late round-7 additions: IVM fold-forward and hybrid retrieval.
    # q_join_size_estimate is excluded on purpose: the catalog query
    # runs the EXACT verification join next to the estimate, which
    # would time the thing the estimator exists to avoid; the
    # bench-only q_join_size_est_only times the estimation path alone.
    "q_ivm_agg_update",
    "q_retrieval_rrf",
    "q_join_size_est_only",
    # round-7 continuation: the crawl-ingest near-dup gate and the
    # event-sequence transition matrix. q_dedup_lsh_index_probe is
    # excluded like the other persisted-index queries (its timing is
    # dominated by the build+append index writes); the bench-only
    # q_lsh_probe_only times the recurring probe over a prebuilt
    # index — the per-ingest production cost.
    "q_lsh_probe_only",
    "q_event_transitions",
    # round-9 additions: crawl text extraction (codegen regex chains —
    # the per-document curation cost) and the DV-applied versioned
    # read. q_versioned_delete_vectors/q_versioned_dv_lifecycle are
    # excluded like the persisted-index queries: their timing is
    # dominated by the build-once table writes; the bench-only
    # q_dv_read_only times the recurring cost — scanning a versioned
    # table THROUGH its deletion vectors.
    "q_html_extract_text",
    "q_gopher_filter",
    "q_dv_read_only",
    # q_bm25_index_query is excluded like the other persisted-index
    # queries (build+append dominate); the bench-only
    # q_bm25_query_only times the recurring serving cost — pruned
    # postings scan + score over a prebuilt index.
    "q_bm25_query_only",
    # round-9: the lake CONNECTOR scan (Python DataSource + Arrow
    # bridge) over the same DV'd table as q_dv_read_only — the two
    # entries price the connector surface against its native twin.
    "q_lake_scan_only",
    # round-10: the recurring cost of EXACT partition pruning — a
    # one-partition pruned read over a build-once partitioned table.
    # q_versioned_partitioned/q_versioned_drop_column are excluded
    # like the other build-dominated catalog twins.
    "q_part_read_only",
    # round-11: the recurring cost of storage-partitioned POINT
    # lookups — a one-key read over a build-once bucket(16)-
    # partitioned table (derived-bucket election from the driver-side
    # hash twin, then the one-file scan + exact residual).
    # q_versioned_bucketed / q_versioned_spec_evolution /
    # q_lake_write_partitioned are excluded like the other
    # build-dominated catalog twins.
    "q_bucket_read_only",
    # round-12: the recurring cost of BLOOM-pruned point lookups on
    # an UNCLUSTERED high-cardinality key — the layout where interval
    # stats elect everything and only the manifest bitmap tier can
    # skip. q_versioned_bloom_lookup / q_versioned_nested /
    # q_versioned_sql_dml / q_versioned_wap / q_catalog_snapshot are
    # excluded like the other build-dominated catalog twins (tag /
    # branch / publish / catalog commits are kilobyte metadata ops;
    # their recurring READ costs are already priced by the pruned-read
    # entries above).
    "q_bloom_lookup_only",
]


_PQ_CACHE: dict = {}


def _pq_adc_query(spark, sf_dir):
    """Bench-only: the PQ QUERY path alone. Codebooks + encoding are
    built once per sf_dir (the build-once artifact a real deployment
    persists); timed passes measure ADC scoring + shortlist + exact
    re-rank — the per-query cost."""
    from pyspark.sql import functions as F

    from skopje_spark.operators.quantize import pq_encode, pq_topk_rerank, pq_train
    from skopje_spark.operators.similarity import l2_normalize
    from skopje_spark.tables import load_table

    if sf_dir not in _PQ_CACHE:
        e = load_table(spark, sf_dir, "embeddings")
        en = e.select("vec_id", l2_normalize(F.col("embedding")).alias("nv"))
        books = pq_train(en, vec_col="nv", m=16, ksub=32, iters=3)
        enc = pq_encode(en, books, vec_col="nv").localCheckpoint(eager=True)
        query = [float(x) for x in en.orderBy("vec_id").first()["nv"]]
        _PQ_CACHE[sf_dir] = (books, enc, query)
    books, enc, query = _PQ_CACHE[sf_dir]
    return pq_topk_rerank(
        enc, books, query, vec_col="nv", k=10, shortlist=64
    )


_BPE_CACHE: dict = {}
_LSH_CACHE: dict = {}


def _lsh_probe_only(spark, sf_dir):
    """Bench-only: the LSH index PROBE path alone. The even-id corpus
    index is built once per sf_dir (the build-once artifact a crawl
    deployment persists); timed passes measure what every ingest pays:
    shingle the batch, band-join against the index, verify signature
    agreement."""
    import tempfile

    from skopje_spark.operators.dedup import lsh_index_probe, lsh_index_write
    from skopje_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    if sf_dir not in _LSH_CACHE:
        path = tempfile.mkdtemp(prefix="skopje_bench_lsh_")
        lsh_index_write(d.filter("doc_id % 2 = 0"), path)
        _LSH_CACHE[sf_dir] = path
    return lsh_index_probe(
        d.filter("doc_id % 2 = 1"), _LSH_CACHE[sf_dir], threshold=0.5
    )


def _bpe_encode_count(spark, sf_dir):
    """Bench-only: the BPE ENCODE path alone. The merge table is
    learned once per sf_dir (the build-once artifact a deployment
    persists via BpeModel.to_rows); timed passes measure the
    Arrow-batched subword counting every token-denominated operator
    pays per document."""
    from skopje_spark.operators.tokenizer import bpe_train, token_count_bpe
    from skopje_spark.tables import load_table

    d = load_table(spark, sf_dir, "documents")
    if sf_dir not in _BPE_CACHE:
        _BPE_CACHE[sf_dir] = bpe_train(d, "text", num_merges=200, max_words=8192)
    return token_count_bpe(d.select("doc_id", "text"), "text", _BPE_CACHE[sf_dir])


def _join_size_est_only(spark, sf_dir):
    """Bench-only: the join-size ESTIMATION path alone (two sampled
    pushed-down scans + per-key counts + tiny count join) — the
    pre-join planning cost, without the exact verification join the
    catalog twin runs for its correctness verdict."""
    from skopje_spark.operators.estimate import sampled_join_size
    from skopje_spark.tables import load_table

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    return sampled_join_size(o, l, "o_orderkey", "l_orderkey", rate=0.05)


_BM25IDX_CACHE: dict = {}


def _bm25_query_only(spark, sf_dir):
    """Bench-only: the persisted-BM25 SERVING path alone. The index is
    built once per sf_dir (the build-once artifact a retrieval service
    persists); timed passes measure what every query pays — the
    bucket-pruned postings scan, per-term df, and scoring."""
    import tempfile

    from skopje_spark.operators.invindex import (
        bm25_index_query,
        bm25_index_write,
    )
    from skopje_spark.tables import load_table

    if sf_dir not in _BM25IDX_CACHE:
        path = tempfile.mkdtemp(prefix="skopje_bench_bm25_") + "/idx"
        bm25_index_write(load_table(spark, sf_dir, "documents"), path)
        _BM25IDX_CACHE[sf_dir] = path
    return bm25_index_query(
        spark, _BM25IDX_CACHE[sf_dir], ["vector", "hash", "stream"], top_k=10
    )


_DV_CACHE: dict = {}


def _dv_read_only(spark, sf_dir):
    """Bench-only: the DV-applied versioned READ path alone. The table
    is written and predicate-deleted once per sf_dir (the build-once
    lake state); timed passes measure what every downstream consumer
    pays — the parquet scan with the (file, row-position) anti-join
    merging the deletion vectors out."""
    import tempfile

    from pyspark.sql import functions as F

    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_read,
        versioned_write,
    )
    from skopje_spark.tables import load_table

    if sf_dir not in _DV_CACHE:
        path = tempfile.mkdtemp(prefix="skopje_bench_dv_")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_totalprice"
        )
        versioned_write(
            o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
            path,
        )
        versioned_delete(spark, path, "o_orderkey % 13 = 3")
        _DV_CACHE[sf_dir] = path
    return versioned_read(spark, _DV_CACHE[sf_dir])


def _lake_scan_only(spark, sf_dir):
    """Bench-only: the SAME DV'd table as q_dv_read_only, read through
    the Python DataSource connector (sources/lakesource.py) instead of
    the JVM-native versioned_read — prices the Arrow-batch bridge the
    connector surface pays, next to its native twin for an honest
    delta."""
    from skopje_spark.sources.pysource import register_all

    _dv_read_only(spark, sf_dir)  # ensure the cached table exists
    register_all(spark)
    return (
        spark.read.format("skopje_versioned")
        .option("path", _DV_CACHE[sf_dir]).load()
    )


_PART_CACHE: dict = {}


def _part_read_only(spark, sf_dir):
    """Bench-only: the partition-pruned READ path alone. The orders
    table is written once per sf_dir partitioned by o_orderpriority
    (the build-once lake state); timed passes measure the recurring
    serving cost of an exact one-partition read — kilobyte manifest
    planning electing exactly that partition's files, then the scan."""
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_pruned_read,
        versioned_write,
    )
    from skopje_spark.tables import load_table

    if sf_dir not in _PART_CACHE:
        path = tempfile.mkdtemp(prefix="skopje_bench_part_")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        versioned_write(o, path, partition_by=["o_orderpriority"])
        _PART_CACHE[sf_dir] = path
    return versioned_pruned_read(
        spark, _PART_CACHE[sf_dir], "o_orderpriority",
        "1-URGENT", "1-URGENT",
    )


_BUCKET_CACHE: dict = {}
_BLOOM_CACHE: dict = {}


def _bloom_lookup_only(spark, sf_dir):
    """Bench-only: the BLOOM-pruned point lookup path alone. The
    orders table is written once per sf_dir in a RANDOM layout (every
    file's interval spans the key domain — the worst case for
    interval skipping) and bloom-indexed on o_orderkey; timed passes
    measure the recurring lookup cost — driver-side sha256 probes
    over the per-file bitmap slots elect the containing file(s), then
    the scan plus exact residual. Prices the high-cardinality
    unclustered lookup against its clustered (q_part_read_only) and
    bucketed (q_bucket_read_only) twins."""
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_read_where,
        versioned_value_index,
        versioned_write,
    )
    from skopje_spark.tables import load_table

    if sf_dir not in _BLOOM_CACHE:
        path = tempfile.mkdtemp(prefix="skopje_bench_bloom_")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        versioned_write(o.repartition(16), path)
        versioned_value_index(
            spark, path, [], bloom_cols=["o_orderkey"],
            bloom_bits=1 << 20,
        )
        key = o.orderBy("o_orderkey").first()["o_orderkey"]
        _BLOOM_CACHE[sf_dir] = (path, int(key))
    path, key = _BLOOM_CACHE[sf_dir]
    return versioned_read_where(spark, path, {"o_orderkey": key})


def _bucket_read_only(spark, sf_dir):
    """Bench-only: the bucket-pruned POINT READ path alone. The orders
    table is written once per sf_dir bucketed 16 ways on o_orderkey
    (the build-once lake state); timed passes measure the recurring
    key-lookup cost — the driver-side hash twin elects ONE bucket
    file from kilobyte manifest stats, then the single-file scan plus
    the exact residual."""
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_read_where,
        versioned_write,
    )
    from skopje_spark.tables import load_table

    if sf_dir not in _BUCKET_CACHE:
        path = tempfile.mkdtemp(prefix="skopje_bench_bucket_")
        o = load_table(spark, sf_dir, "orders").select(
            "o_orderkey", "o_orderpriority", "o_totalprice"
        )
        versioned_write(
            o, path, partition_by=["b=bucket(16,o_orderkey)"]
        )
        key = o.orderBy("o_orderkey").first()["o_orderkey"]
        _BUCKET_CACHE[sf_dir] = (path, int(key))
    path, key = _BUCKET_CACHE[sf_dir]
    return versioned_read_where(spark, path, {"o_orderkey": key})


def _bench_only():
    """Callables timed like catalog queries but not oracle-registered
    (their raw outputs are randomized sketches; the catalog twin
    carries the banded correctness verdict)."""
    from skopje_spark.queries.sketch_state import sketch_quantile_ops

    return {
        "q_sketch_quantile_ops": sketch_quantile_ops,
        "q_bucket_read_only": _bucket_read_only,
        "q_bloom_lookup_only": _bloom_lookup_only,
        "q_pq_adc_query": _pq_adc_query,
        "q_bpe_encode_count": _bpe_encode_count,
        "q_join_size_est_only": _join_size_est_only,
        "q_lsh_probe_only": _lsh_probe_only,
        "q_dv_read_only": _dv_read_only,
        "q_bm25_query_only": _bm25_query_only,
        "q_lake_scan_only": _lake_scan_only,
        "q_part_read_only": _part_read_only,
    }


def _sf_label(sf_dir: str) -> float:
    """Scale factor parsed from a fixture dir name (``.../sf0.1`` →
    0.1); -1.0 when the name carries none, so a diagnostic label never
    crashes a run."""
    try:
        return float(sf_dir.rstrip("/").rsplit("sf", 1)[1])
    except (IndexError, ValueError):
        return -1.0


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    sf = _sf_label(sf_dir)

    from skopje_spark.queries import load_all
    from skopje_spark.session import get_spark

    spark = get_spark(app_name="skopje-bench", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    registry = load_all()
    extra = _bench_only()

    def fn_of(name):
        return registry[name].fn if name in registry else extra[name]

    # warmup: one untimed pass per headline query AT THE TARGET SCALE.
    # Cold runs are dominated by whole-stage-codegen javac compilation
    # (~6-10 s for the wide dedup plans), and the compiled class is
    # keyed on the physical plan — which AQE shapes differently at
    # other scale factors, so a tiny-SF warmup would not prime it.
    for name in HEADLINE:
        fn_of(name)(spark, sf_dir).count()

    # contention self-documentation: loadavg before/after, hypervisor
    # steal across the timed section (/proc/stat), and each query's
    # min→max spread across its 3 runs ride in the emitted JSON, so a
    # contaminated reading (busy/stolen box inflating outliers) is
    # adjudicable from the artifact alone — a query whose spread is
    # several× its min under high loadavg/steal was measured under
    # contention, not regressed by code
    def _cpu_steal_snapshot():
        try:
            with open("/proc/stat") as fh:
                vals = [int(x) for x in fh.readline().split()[1:]]
            return vals[7] if len(vals) > 7 else 0, sum(vals)
        except (OSError, ValueError, IndexError):  # non-Linux or odd
            return None  # /proc/stat: the field rides as null

    steal_start = _cpu_steal_snapshot()
    load_start = os.getloadavg()

    # timed: min of 3 runs per query — the steady-state estimator,
    # insensitive to stray GC pauses on the shared local JVM
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in HEADLINE:
        best, worst = float("inf"), 0.0
        for _ in range(3):
            t0 = time.perf_counter()
            fn_of(name)(spark, sf_dir).count()
            dt = time.perf_counter() - t0
            best, worst = min(best, dt), max(worst, dt)
        timings[name] = round(best, 3)
        spreads[name] = round(worst / best, 2) if best > 0 else 1.0

    # OPT-IN second timed scale factor (VERDICT r14 item 8): when
    # $SPARK_GRAFT_SF2_DIR is set, ALSO time entries there (same
    # warmup + min-of-3 methodology) and ride the numbers in ADDITIVE
    # keys (sf2/queries_sf2/run_spread_sf2). The driver never sets the
    # env var, so its output stays byte-identical; the mode exists so
    # 8-vs-32-core scaling can be measured at a size where sf0.1's
    # driver-bound regime no longer hides plan quality.
    sf2_dir = os.environ.get("SPARK_GRAFT_SF2_DIR")
    timings2: dict[str, float] = {}
    spreads2: dict[str, float] = {}
    if sf2_dir:
        names2 = [
            q
            for q in os.environ.get(
                "SPARK_GRAFT_SF2_QUERIES", ",".join(HEADLINE)
            ).split(",")
            if q
        ]
        for name in names2:
            fn_of(name)(spark, sf2_dir).count()  # warmup at sf2
        for name in names2:
            best, worst = float("inf"), 0.0
            for _ in range(3):
                t0 = time.perf_counter()
                fn_of(name)(spark, sf2_dir).count()
                dt = time.perf_counter() - t0
                best, worst = min(best, dt), max(worst, dt)
            timings2[name] = round(best, 3)
            spreads2[name] = round(worst / best, 2) if best > 0 else 1.0

    load_end = os.getloadavg()
    steal_end = _cpu_steal_snapshot()
    steal_pct = None
    if steal_start and steal_end and steal_end[1] > steal_start[1]:
        steal_pct = round(
            100.0
            * (steal_end[0] - steal_start[0])
            / (steal_end[1] - steal_start[1]),
            2,
        )
    total = round(sum(timings.values()), 3)
    extra = {}
    if sf2_dir:
        extra = {
            "sf2": _sf_label(sf2_dir),
            "queries_sf2": timings2,
            "run_spread_sf2": spreads2,
        }
    print(
        json.dumps(
            {
                "metric": "headline_total_runtime",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "run_spread_max_over_min": spreads,
                **extra,
                "loadavg_start": [round(x, 2) for x in load_start],
                "loadavg_end": [round(x, 2) for x in load_end],
                "steal_pct_timed": steal_pct,
                "ncpus": os.cpu_count(),
            }
        )
    )


if __name__ == "__main__":
    main()
