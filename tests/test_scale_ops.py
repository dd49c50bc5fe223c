"""Operator-level guarantees for the round-6 scale operators
(quantize / projection / heavy hitters / pagerank) — the properties
the catalog oracles can't see: error bounds, geometry preservation,
the Misra–Gries decrement path, and plan shapes."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_quantize_int8_reconstruction_bound(spark, sf_dir):
    """Per-element reconstruction error ≤ scale/2 (round-to-nearest),
    codes within [-127, 127], and all-zero vectors decode to exact
    zeros."""
    from skopje_spark.operators.quantize import dequantize_int8, quantize_int8
    from skopje_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").limit(200)
    zero = spark.createDataFrame(
        [(999_999, [0.0] * 64)], "vec_id long, embedding array<double>"
    )
    q = dequantize_int8(quantize_int8(e.unionByName(zero.withColumn(
        "label", F.lit(0)).select("vec_id", "embedding", "label"))))

    checked = q.select(
        F.array_max(
            F.zip_with(
                F.transform("embedding", lambda x: x.cast("double")),
                F.col("dqvec"),
                lambda x, y: F.abs(x - y),
            )
        ).alias("max_err"),
        (F.col("qscale") / 2 + F.lit(1e-12)).alias("bound"),
        F.array_max(F.transform("qvec", F.abs)).alias("max_code"),
        "vec_id",
    ).collect()
    for r in checked:
        assert r["max_err"] <= r["bound"], r["vec_id"]
        assert r["max_code"] <= 127
    zrow = [r for r in checked if r["vec_id"] == 999_999][0]
    assert zrow["max_err"] == 0.0 and zrow["max_code"] == 0


def test_quantize_preserves_cosine_within_band(spark, sf_dir):
    """Dequantized vectors must stay cosine-close to the originals —
    the property that makes int8 storage usable for ANN (~0.2%
    typical error; assert a loose 2% band)."""
    from skopje_spark.operators.quantize import dequantize_int8, quantize_int8
    from skopje_spark.operators.similarity import cosine
    from skopje_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").limit(100)
    dq = dequantize_int8(quantize_int8(e))
    drift = dq.select(
        (1 - cosine(F.col("embedding"), F.col("dqvec"))).alias("d")
    ).agg(F.max("d")).collect()[0][0]
    assert drift < 0.02, drift


def test_random_projection_preserves_pairwise_geometry(spark, sf_dir):
    """JL: pairwise cosine in the 16-dim projection tracks the 64-dim
    cosine. ε for out_dim=16 is large, so assert correlation-style
    bounds: mean |drift| well under the JL ε and no catastrophic
    inversion (near-identical stays near-identical)."""
    import itertools
    import math

    from skopje_spark.operators.quantize import random_projection
    from skopje_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings").orderBy("vec_id").limit(30)
    rows = random_projection(e, out_dim=16, dim=64).select(
        "vec_id", "embedding", "proj"
    ).collect()

    def cos(a, b):
        dot = sum(x * y for x, y in zip(a, b))
        na = math.sqrt(sum(x * x for x in a)) or 1e-300
        nb = math.sqrt(sum(x * x for x in b)) or 1e-300
        return dot / (na * nb)

    drifts = []
    for r1, r2 in itertools.combinations(rows, 2):
        c64 = cos([float(x) for x in r1["embedding"]], [float(x) for x in r2["embedding"]])
        c16 = cos(r1["proj"], r2["proj"])
        drifts.append(abs(c64 - c16))
    mean_drift = sum(drifts) / len(drifts)
    assert mean_drift < 0.25, mean_drift
    assert max(drifts) < 0.75, max(drifts)


def test_quantize_and_projection_plans_are_narrow(spark, sf_dir):
    """Both kernels must be pure narrow maps: no Exchange (shuffle),
    no Python UDF in the plan — the property that makes them free at
    100 TB."""
    from skopje_spark.operators.quantize import quantize_int8, random_projection
    from skopje_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    for df in (quantize_int8(e), random_projection(e)):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "Exchange" not in plan, plan
        assert "Python" not in plan, plan


def test_heavy_hitters_guarantee_under_decrements(spark):
    """Synthetic high-cardinality stream (3 planted heavy items over
    5000 distinct light ones, m=16 so compress fires constantly):
    every item with f > n/(m+1) is found, estimates are in
    [f − n/(m+1), f], and nothing is overcounted."""
    from skopje_spark.operators.freq import heavy_hitters

    rows = []
    for i in range(6000):
        rows.append((f"light_{i % 5000}",))
    for h, reps in [("hot_a", 2500), ("hot_b", 1500), ("hot_c", 900)]:
        rows.extend([(h,)] * reps)
    df = spark.createDataFrame(rows, "item_val string").repartition(8)
    n = len(rows)
    m = 16
    got = {r["item"]: r for r in heavy_hitters(df, "item_val", m=m).collect()}
    err = n / (m + 1)

    exact = {"hot_a": 2500, "hot_b": 1500, "hot_c": 900}
    for item, f_true in exact.items():
        if f_true > err:
            assert item in got, item
        if item in got:
            assert got[item]["est"] <= f_true
            assert got[item]["est"] >= f_true - err
            assert abs(got[item]["err_bound"] - err) < 1e-9
    # no light item can be overcounted above its true frequency (2)
    for item, r in got.items():
        if item.startswith("light_"):
            assert r["est"] <= 2


def test_heavy_hitters_exact_when_cardinality_fits(spark):
    """With distinct ≤ m no decrement ever fires, so estimates are
    exact — the regime the catalog query exercises on event_type."""
    from skopje_spark.operators.freq import heavy_hitters

    rows = [("a",)] * 10 + [("b",)] * 5 + [("c",)] * 1
    df = spark.createDataFrame(rows, "v string").repartition(4)
    got = {r["item"]: r["est"] for r in heavy_hitters(df, "v", m=8).collect()}
    assert got == {"a": 10, "b": 5, "c": 1}


def test_pagerank_star_and_symmetry(spark):
    """On an undirected star the hub outranks every leaf and leaves
    tie exactly; on a symmetric cycle all ranks are exactly equal
    (mean-1 normalization ⇒ 1.0)."""
    from skopje_spark.operators.graph import pagerank

    star = []
    for leaf in ["l1", "l2", "l3", "l4"]:
        star.append(("hub", leaf))
        star.append((leaf, "hub"))
    ranks = {
        r["node"]: r["norm_rank"]
        for r in pagerank(
            spark.createDataFrame(star, "src string, dst string"), iters=3
        ).collect()
    }
    assert ranks["hub"] > ranks["l1"]
    assert ranks["l1"] == ranks["l2"] == ranks["l3"] == ranks["l4"]
    assert abs(sum(ranks.values()) / len(ranks) - 1.0) < 1e-9  # mean-1

    cycle = [("a", "b"), ("b", "c"), ("c", "a")]
    cr = {
        r["node"]: r["norm_rank"]
        for r in pagerank(
            spark.createDataFrame(cycle, "src string, dst string"), iters=4
        ).collect()
    }
    assert all(abs(v - 1.0) < 1e-9 for v in cr.values()), cr


def test_pagerank_frees_superseded_rank_generations(spark):
    """With checkpoint_interval=1 every iteration but the last
    checkpoints the ranks; each superseded generation is freed, so the
    storage a run leaves behind does not grow with iters."""
    from skopje_spark.operators.graph import pagerank

    sc = spark.sparkContext
    cycle = spark.createDataFrame(
        [("a", "b"), ("b", "c"), ("c", "a")], "src string, dst string"
    )

    def left_behind(iters):
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        out = pagerank(cycle, iters=iters, checkpoint_interval=1)
        out.collect()
        return len({i.id() for i in sc._jsc.sc().getRDDStorageInfo()} - before)

    assert left_behind(6) == left_behind(2)


def test_checkpoint_generation_frees_only_its_own_rdd(spark):
    """A cache the first generation's job fills is the caller's, not
    the generation's: the next generation frees generation 1 and leaves
    that cache in storage."""
    from skopje_spark.operators._checkpoint import checkpoint_generation

    sc = spark.sparkContext

    def stored():
        return {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}

    before = stored()
    base = spark.range(0, 100).select((F.col("id") * 3).alias("x")).cache()
    g1, ids1 = checkpoint_generation(base.select((F.col("x") + 1).alias("x")), set())
    filled = stored() - before  # base's cache and generation 1
    assert len(filled) == 2 and len(ids1) == 1 and ids1 < filled
    g2, ids2 = checkpoint_generation(g1.select((F.col("x") * 2).alias("x")), ids1)
    after = stored()
    assert filled - ids1 <= after  # the caller's cache survives
    assert not ids1 & after and ids2 <= after
    assert g2.agg(F.sum("x")).first()[0] == sum((3 * i + 1) * 2 for i in range(100))
    base.unpersist()


def test_pagerank_rejects_dangling_nodes(spark):
    from skopje_spark.operators.graph import pagerank

    e = spark.createDataFrame([("a", "b")], "src string, dst string")
    with pytest.raises(ValueError, match="out-degree 0"):
        pagerank(e)


def test_ewma_recurrence_known_values(spark):
    """y0=x0, yi = 0.5*xi + 0.5*yi-1 — hand-checked, plus per-key
    independence and order-by-tiebreak determinism."""
    rows = [
        ("a", 1, 10.0), ("a", 2, 20.0), ("a", 3, 40.0),
        ("b", 1, 100.0), ("b", 2, 0.0),
    ]
    df = spark.createDataFrame(rows, "k string, i long, v double")
    from skopje_spark.operators.stats import ewma

    got = {
        (r["k"], r["i"]): r["ewma"]
        for r in ewma(df, ["k"], ["i"], "v", alpha=0.5).collect()
    }
    assert got[("a", 1)] == 10.0
    assert got[("a", 2)] == 15.0        # 0.5*20 + 0.5*10
    assert got[("a", 3)] == 27.5        # 0.5*40 + 0.5*15
    assert got[("b", 1)] == 100.0
    assert got[("b", 2)] == 50.0


def test_heavy_hitters_single_pass_plan(spark):
    """The partials table is checkpointed before feeding the total and
    per-item branches: the returned plan must NOT contain the
    MG mapInPandas subtree twice (or at all — it is materialized)."""
    from skopje_spark.operators.freq import heavy_hitters

    df = spark.createDataFrame([("a",)] * 50 + [("b",)] * 10, "v string")
    got = heavy_hitters(df, "v", m=8)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plan, plan
    assert {r["item"]: r["est"] for r in got.collect()} == {"a": 50, "b": 10}


def test_chunk_by_tokens_coverage_and_overlap(spark):
    """Every token lands in >= 1 chunk; consecutive chunks share
    exactly `overlap` tokens; tokenless docs yield no rows."""
    rows = [
        (1, " ".join(f"t{i}" for i in range(10))),  # 10 tokens
        (2, "only three tokens"),
        (3, "!!! ... ???"),                          # no [A-Za-z0-9]+ tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from skopje_spark.operators.packing import chunk_by_tokens

    out = chunk_by_tokens(df, tokens_per_chunk=4, overlap=2)
    by_doc = {}
    for r in out.collect():
        by_doc.setdefault(r["doc_id"], []).append(
            (r["chunk_id"], r["chunk_text"].split(" "))
        )
    # doc 1: starts 0,2,4,6 -> 4 chunks; the last contributes new
    # tokens (no subset tail: start 8 would repeat chunk [6,10)'s
    # suffix only)
    c1 = [t for _, t in sorted(by_doc[1])]
    assert len(c1) == 4 and c1[0] == ["t0", "t1", "t2", "t3"]
    assert c1[-1] == ["t6", "t7", "t8", "t9"]
    for a, b in zip(c1, c1[1:]):
        assert a[2:] == b[:len(a[2:])]  # 2-token overlap
    assert {t for ch in c1 for t in ch} == {f"t{i}" for i in range(10)}
    # short doc: ONE chunk, not a duplicated-subset second chunk
    assert [t for _, t in sorted(by_doc[2])] == [["only", "three", "tokens"]]
    assert 3 not in by_doc


def test_temperature_weights_properties(spark):
    """Weights sum to 1; tau=1 reproduces natural shares; tau=0 is
    uniform; tau=0.5 boosts small groups (boost > 1) and shrinks
    dominant ones."""
    import math

    from skopje_spark.operators.sampling import temperature_weights

    rows = [("big",)] * 900 + [("small",)] * 100
    df = spark.createDataFrame(rows, "src string")

    for tau, expect_big in [(1.0, 0.9), (0.0, 0.5)]:
        w = {r["src"]: r for r in temperature_weights(df, "src", tau=tau).collect()}
        assert math.isclose(sum(r["weight"] for r in w.values()), 1.0)
        assert math.isclose(w["big"]["weight"], expect_big, rel_tol=1e-9)

    w = {r["src"]: r for r in temperature_weights(df, "src", tau=0.5).collect()}
    assert w["small"]["boost"] > 1.0 > w["big"]["boost"]
    assert math.isclose(
        w["small"]["weight"] / w["big"]["weight"], math.sqrt(100 / 900), rel_tol=1e-9
    )


def test_dedup_canonical_keeps_longest_copy(spark):
    """Same normalized content at different lengths: keep-best keeps
    the longest raw text, not the min id (contrast dedup_exact)."""
    rows = [
        (1, "alpha beta"),
        (2, "ALPHA   BETA"),      # same normalized content, longer raw
        (3, "unrelated text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from skopje_spark.operators.dedup import dedup_canonical, dedup_exact

    best = sorted(r["doc_id"] for r in dedup_canonical(df, "doc_id", "text").collect())
    assert best == [2, 3]  # id 2 wins its group on raw length
    first = sorted(r["doc_id"] for r in dedup_exact(df, "doc_id", "text").collect())
    assert first == [1, 3]  # min-id policy for contrast


def test_inverted_index_conjunctive_retrieval(spark):
    """AND-retrieval over posting lists: intersecting two terms'
    postings returns exactly the docs containing both."""
    rows = [
        (1, "spark engine for data"),
        (2, "data pipeline in spark"),
        (3, "pure python pipeline"),
        (4, "spark spark spark"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    toks = df.select(
        "doc_id",
        F.explode(
            F.expr("regexp_extract_all(lower(text), '[a-z]+', 0)")
        ).alias("term"),
    ).distinct()
    # conjunctive query = semi-join per term then intersect — here via
    # groupBy count over the 2-term restriction (docs matching both)
    hits = (
        toks.filter(F.col("term").isin("spark", "pipeline"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_terms"))
        .filter(F.col("n_terms") == 2)
    )
    assert sorted(r["doc_id"] for r in hits.collect()) == [2]


def test_cms_guarantees_under_forced_collisions(spark):
    """width=32 against 5000 distinct keys forces every cell to
    collide heavily: the deterministic lower bound (est >= exact) must
    still hold for every probe, the eps-band (est <= exact + e·N/width
    at 3 deviations) for the min-over-depth estimate, and a merged
    two-slice sketch must equal the single-pass sketch cell-for-cell."""
    from pyspark.sql import functions as F

    from skopje_spark.operators.freq import cms_build, cms_merge, cms_query

    depth, width = 4, 32
    # zipf-ish: key k appears ~ (5000/k) times, capped
    base = spark.range(0, 5000).select(
        F.col("id").alias("k"),
        F.least(F.lit(50), (F.lit(5000) / (F.col("id") + 1)).cast("int")).alias("n"),
    )
    data = base.select(F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"), "k")
    n_total = data.count()

    cms = cms_build(data, "k", depth=depth, width=width)
    probes = base.select("k")
    est = {r["k"]: r["est"] for r in cms_query(cms, probes, "k", depth=depth, width=width).collect()}
    exact = {r["k"]: r["n"] for r in base.collect()}

    band = 3 * 2.718 * n_total / width
    assert all(est[k] >= exact[k] for k in exact)  # deterministic side
    assert all(est[k] <= exact[k] + band for k in exact)

    # merge ≡ single build (cell-wise summation is lossless)
    a = cms_build(data.filter(F.col("k") % 2 == 0), "k", depth=depth, width=width)
    b = cms_build(data.filter(F.col("k") % 2 == 1), "k", depth=depth, width=width)
    merged = {
        (r["r"], r["bucket"]): r["cnt"] for r in cms_merge(a, b).collect()
    }
    single = {(r["r"], r["bucket"]): r["cnt"] for r in cms.collect()}
    assert merged == single


def test_pq_exact_when_codebook_covers_corpus(spark):
    """Degenerate-exactness contract: with at least as many
    sub-centroids as distinct vectors, training converges to the
    points themselves, reconstruction is exact, and ADC ranking ==
    exact L2 ranking."""
    from skopje_spark.operators.quantize import (
        pq_decode_literal,
        pq_encode,
        pq_topk,
        pq_train,
    )

    import math
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(16)]) for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    books = pq_train(df, m=4, ksub=32, iters=2, dim=16)
    enc = pq_encode(df, books)
    dec = pq_decode_literal(books)
    for r in enc.collect():
        rec = dec(r["codes"])
        err = max(abs(a - b) for a, b in zip(rec, [float(x) for x in r["embedding"]]))
        assert err < 1e-9, (r["vec_id"], err)

    q = rows[3][1]
    got = [r["vec_id"] for r in pq_topk(enc, books, q, k=5).collect()]
    exact = sorted(
        rows,
        key=lambda t: (sum((a - b) ** 2 for a, b in zip(t[1], q)), t[0]),
    )[:5]
    assert got == [t[0] for t in exact]


def test_pq_rerank_containment_on_fixture(spark, sf_dir):
    """The catalog configuration (m=16, ksub=32, shortlist 64, exact
    re-rank): top-10 must sit inside the exact top-50 with zero
    exceptions — the measured headroom behind the oracle's tol=3."""
    from pyspark.sql import functions as F

    from skopje_spark.operators.quantize import pq_encode, pq_topk_rerank, pq_train
    from skopje_spark.operators.similarity import cosine_topk, l2_normalize
    from skopje_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    en = e.select("vec_id", l2_normalize(F.col("embedding")).alias("nv"))
    books = pq_train(en, vec_col="nv", m=16, ksub=32, iters=3)
    enc = pq_encode(en, books, vec_col="nv")
    q = [float(x) for x in en.orderBy("vec_id").first()["nv"]]
    approx = pq_topk_rerank(enc, books, q, vec_col="nv", k=10, shortlist=64)
    exact = cosine_topk(
        e, e.orderBy("vec_id").limit(1), id_col="vec_id", vec_col="embedding", k=50
    )
    a_ids = {r["vec_id"] for r in approx.collect()}
    e_ids = {r["vec_id"] for r in exact.collect()}
    assert len(a_ids) == 10
    assert a_ids <= e_ids, a_ids - e_ids

    # determinism: re-encoding yields identical codes
    c1 = {r["vec_id"]: list(r["codes"]) for r in enc.collect()}
    c2 = {r["vec_id"]: list(r["codes"]) for r in pq_encode(en, books, vec_col="nv").collect()}
    assert c1 == c2


def test_pq_adc_plan_has_no_shuffle_or_python(spark, sf_dir):
    """The ADC scoring path (codes -> shortlist) must be pure codegen
    + TakeOrderedAndProject: no Exchange, no Python in the plan. (The
    ENCODE step is Arrow-batched Python by design; the QUERY path is
    not allowed to be.)"""
    from pyspark.sql import functions as F

    from skopje_spark.operators.quantize import pq_topk
    from skopje_spark.tables import load_table

    # pre-encoded stand-in: the plan test needs the codes column, not
    # real training
    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.array(*[F.lit(i % 4) for i in range(8)]).alias("codes"),
    )
    books = [[[0.0] * 8 for _ in range(4)] for _ in range(8)]
    plan = (
        pq_topk(e, books, [0.1] * 64, k=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "TakeOrderedAndProject" in plan, plan
    assert "Exchange" not in plan, plan
    assert "Python" not in plan, plan


def test_bigram_lm_detects_word_salad(spark, monkeypatch, tmp_path):
    """The property the second-order model exists for: two documents
    with IDENTICAL unigram content but different word ORDER must split
    — the coherent one (repeating its bigrams) scores low, the
    scrambled one (novel bigrams everywhere) scores high. The unigram
    scorer cannot separate them by construction."""
    from skopje_spark.queries import load_all

    coherent = "the cat sat on the mat " * 6
    words = coherent.split()
    # deterministic derangement-ish scramble: interleave halves
    half = len(words) // 2
    scrambled = " ".join(
        w for pair in zip(words[:half], words[half:][::-1]) for w in pair
    )
    df = spark.createDataFrame(
        [(1, coherent), (2, scrambled)], "doc_id bigint, text string"
    )
    path = str(tmp_path / "documents.parquet")
    df.coalesce(1).write.mode("overwrite").parquet(path)

    import skopje_spark.tables as tables

    real_load = tables.load_table

    def fake_load(spark_, sf_dir, name):
        if name == "documents":
            return spark_.read.parquet(path)
        return real_load(spark_, sf_dir, name)

    monkeypatch.setattr(tables, "load_table", fake_load)
    import skopje_spark.queries.scale_ops as so

    monkeypatch.setattr(so, "load_table", fake_load)

    out = {
        r["doc_id"]: r["mean_nll2"]
        for r in load_all()["q_text_bigram_logprob"].fn(spark, "ignored").collect()
    }
    assert out[2] > out[1] + 0.3, out


def test_ivfpq_index_probe_prunes_and_contains(spark, sf_dir, tmp_path):
    """The composed index: probed query reads ONLY the n_probe cell=
    partitions (PartitionFilters in the scan, not a post-filter), and
    the re-ranked top-10 sits inside the exact whole-corpus top-50
    (measured zero exceptions — the headroom behind the catalog
    oracle's tol=3)."""
    from skopje_spark.operators.quantize import ivf_pq_index_write, ivf_pq_topk
    from skopje_spark.operators.similarity import cosine_topk
    from skopje_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq")
    ivf_pq_index_write(e, path, k=8, iters=2, m=16, ksub=32)

    q = e.orderBy("vec_id").limit(1)
    got = ivf_pq_topk(spark, path, q, n_probe=3, k=10, shortlist=64)
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan, plan

    ids = {r["vec_id"] for r in got.collect()}
    exact = {
        r["vec_id"]
        for r in cosine_topk(
            e, q, id_col="vec_id", vec_col="embedding", k=50
        ).collect()
    }
    assert len(ids) == 10 and ids <= exact, ids - exact


def test_ivfpq_append_frozen_quantizers_and_staleness(spark, sf_dir, tmp_path):
    """Appending to an IVF-PQ index must not touch either quantizer:
    a planted near-twin of the query lands in the probed cells and
    surfaces as top-1 after append; the staleness metric reports a
    ~zero drop for an in-distribution batch; and a rebuild resets the
    stats baseline (mode=overwrite contract)."""
    from pyspark.sql import functions as F

    from skopje_spark.operators.quantize import (
        ivf_pq_index_append,
        ivf_pq_index_write,
        ivf_pq_topk,
    )
    from skopje_spark.tables import load_table

    e = load_table(spark, sf_dir, "embeddings")
    path = str(tmp_path / "ivfpq")
    ivf_pq_index_write(e, path, k=8, iters=2, m=16, ksub=32)

    q = e.orderBy("vec_id").limit(1)
    qv = [float(x) for x in q.first()["embedding"]]
    twin = spark.createDataFrame(
        [(10_000_000, [v * 1.001 for v in qv])],
        "vec_id long, embedding array<double>",
    )
    # in-distribution batch: rows sampled from the corpus itself + twin
    batch = e.filter(F.pmod(F.col("vec_id"), F.lit(7)) == 0).select(
        "vec_id", "embedding"
    ).unionByName(twin)
    stats = ivf_pq_index_append(batch, path)
    assert stats["n_appended"] == batch.count()
    assert stats["build_mean_cos"] is not None
    assert abs(stats["staleness_drop"]) < 0.05, stats

    got = ivf_pq_topk(spark, path, q, n_probe=3, k=10, shortlist=64).collect()
    by_id = {r["vec_id"]: r["cos_sim"] for r in got}
    # the twin ties the query's own corpus row at cos 1.0 (id
    # tiebreak keeps the original first) — it must be found by the
    # probe and scored at ~1
    assert 10_000_000 in by_id, got
    assert by_id[10_000_000] > 0.999, got


def test_personalized_pagerank_hand_values_and_seed_contract(spark):
    """Two-node graph a<->b, seed {a}, d=0.85, 2 iterations —
    hand-computed: r1=(0.15, 0.85), r2=(0.8725, 0.1275) (×n=2 for the
    mean-1 normalization). Mass concentrates near the seed, unlike
    uniform PR where the symmetric graph ties. Absent seeds raise."""
    from skopje_spark.operators.graph import pagerank

    edges = spark.createDataFrame(
        [("a", "b"), ("b", "a")], "src string, dst string"
    )
    ranks = {
        r["node"]: r["norm_rank"]
        for r in pagerank(edges, iters=2, seeds=["a"]).collect()
    }
    assert abs(ranks["a"] - 0.8725 * 2) < 1e-9
    assert abs(ranks["b"] - 0.1275 * 2) < 1e-9

    uniform = {
        r["node"]: r["norm_rank"] for r in pagerank(edges, iters=2).collect()
    }
    assert uniform["a"] == uniform["b"]  # symmetry ties without seeds

    with pytest.raises(ValueError, match="seed"):
        pagerank(edges, seeds=["zz"])
    with pytest.raises(ValueError, match="empty seed"):
        pagerank(edges, seeds=[])
