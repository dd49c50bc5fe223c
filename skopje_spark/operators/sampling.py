"""Deterministic sampling / split operators for training-data curation.

The reference has no sampling surface (its pipelines move whole
tables); these are the corpus-curation operators a 100 TB pretraining
pipeline layers on top — train/holdout splitting, per-source quotas,
and mixture (per-source rate) sampling.

Everything is keyed on a Knuth multiplicative hash of a stable integer
key, never ``rand()``:

- membership is reproducible across engines, runs, and repartitioning
  (the DuckDB oracles recompute the identical buckets);
- a document lands in the same split on every re-run, which is the
  property dataset versioning actually needs;
- the filter is a narrow map — no shuffle, no state, pushed into the
  scan's codegen stage.
"""

from __future__ import annotations

from collections.abc import Mapping, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# Knuth multiplicative hash in exact BIGINT arithmetic (same constants
# as queries/relational_extra.py's hash-sample demos).
KNUTH = 2654435761
MOD = 4294967296


def hash_bucket(key: Column | str, mod: int = MOD) -> Column:
    """Deterministic bucket in [0, mod) from an INTEGER key column
    (exact bigint arithmetic — the DuckDB oracles re-derive it; for
    string keys, hash to an int first, e.g. the 60-bit sha recipe in
    operators/dedup.shingle_hashes)."""
    if isinstance(key, str):
        key = F.col(key)
    b = (key * F.lit(KNUTH)) % F.lit(MOD)
    return b if mod == MOD else b % F.lit(mod)


def split_assign(
    df: DataFrame,
    key_col: str,
    splits: Mapping[str, float],
    *,
    out_col: str = "split",
) -> DataFrame:
    """Assign each row to a named split by hash range.

    ``splits`` maps name -> fraction (must sum to ≤ 1; remainder gets
    the last split). Assignment is by cumulative half-open hash ranges
    in declaration order, so re-dividing the tail (e.g. moving docs
    between val and test) never touches membership of any earlier
    split — the stability property incremental dataset builds rely on.
    """
    bucket = hash_bucket(key_col)
    expr = None
    lo = 0.0
    names = list(splits)
    for name in names[:-1]:
        lo += splits[name]
        cond = bucket < F.lit(int(lo * MOD))
        expr = F.when(cond, name) if expr is None else expr.when(cond, name)
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn(out_col, expr)


def cap_per_group(
    df: DataFrame,
    group_cols: Sequence[str],
    key_col: str,
    cap: int,
) -> DataFrame:
    """Keep at most ``cap`` rows per group, chosen deterministically
    (lowest hash-bucket first, key tiebreak) — per-domain / per-source
    quotas that stop one crawl domain from dominating the corpus.

    Scale: one shuffle on the group key + a bounded per-group sort.
    An exact cap fundamentally requires co-locating each group; for
    groups too hot to sort (a single domain with 10⁹ docs), take a
    rate-based pre-filter (``mixture_sample`` with rate ≈
    cap/est_count) first and cap the survivors.
    """
    w = Window.partitionBy(*group_cols).orderBy(
        hash_bucket(key_col).asc(), F.col(key_col).asc()
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") <= cap)
        .drop("__rn")
    )


def mixture_sample(
    df: DataFrame,
    group_col: str,
    rates: Mapping[str, float],
    key_col: str,
    *,
    default_rate: float = 0.0,
) -> DataFrame:
    """Per-group rate sampling — the "data mixture" step that reweights
    sources (oversample books, downsample web) before training.

    Row passes iff hash_bucket(key) < rate(group)·MOD. Pure narrow
    filter: no shuffle, evaluated inside the scan stage, and a row's
    fate depends only on (key, its group's rate) — raising a group's
    rate strictly grows its sample (nested samples, as in
    telescoping dataset ablations).
    """
    bucket = hash_bucket(key_col)
    rate = None
    for name, r in rates.items():
        cond = F.col(group_col) == name
        rate = F.when(cond, r) if rate is None else rate.when(cond, r)
    rate = F.lit(float(default_rate)) if rate is None else rate.otherwise(
        float(default_rate)
    )
    return df.filter(bucket < rate * F.lit(MOD))


def weighted_sample(
    df: DataFrame,
    key_col: str,
    weight_col: Column | str,
    n: int,
    *,
    score_col: str = "sample_score",
) -> DataFrame:
    """Deterministic weighted sampling without replacement
    (Efraimidis–Spirakis A-ES): each row scores u^(1/w) with u ∈ (0,1]
    derived from the Knuth hash of its key — not ``rand()`` — and the
    top-n scores win. P(selected) is proportional to weight in the
    without-replacement sense, and the same corpus always yields the
    same sample (the property dataset versioning needs; the mixture
    analog of :func:`mixture_sample` when quotas are row counts, not
    rates — e.g. "sample 1M docs weighted by quality score").

    Scale: the score is a narrow codegen map; top-n is
    TakeOrderedAndProject (per-partition heaps) — no global sort, no
    shuffle of the corpus. Rows with weight <= 0 never win.

    The stored score is ln(u)/w — the same ordering as u^(1/w) (ln is
    monotone) with far better float behavior for tiny u, and a single
    libm call both Spark and the DuckDB oracle reproduce."""
    w = F.col(weight_col) if isinstance(weight_col, str) else weight_col
    u = (hash_bucket(key_col) + F.lit(1.0)) / F.lit(float(MOD + 1))
    return (
        df.filter(w > 0)
        .withColumn(score_col, F.log(u) / w.cast("double"))
        .orderBy(F.desc(score_col), F.asc(key_col))
        .limit(n)
    )


def budget_sample(
    df: DataFrame,
    group_col: str,
    weight_col: str,
    key_col: str,
    budgets: dict[str, int],
    *,
    default_budget: int = 0,
) -> DataFrame:
    """Fill a per-group WEIGHT BUDGET (e.g. "30 B tokens of code, 70 B
    of web") deterministically: within each group, rows are taken in
    Knuth-hash order of their key until the next row would overflow
    the group's budget. Same corpus → same selection, and quotas are
    exact to the last whole row (take-while, no probabilistic rates —
    the row-count analog of :func:`mixture_sample`).

    Scale: the within-group running total does NOT use a
    ``Window.partitionBy(group)`` — with a handful of sources that is
    one task per source, each streaming a corpus-sized partition.
    Instead the composite-key two-pass prefix sum
    (operators/packing.py:global_prefix_sum over (group, hash, key))
    computes the global running total, and each group's base offset
    (min over ~|groups| rows) is broadcast-subtracted — every stage
    range-partitions across the full cluster regardless of how few
    groups there are."""
    from skopje_spark.operators.packing import global_prefix_sum

    d = df.withColumn("__u", hash_bucket(key_col))
    ps = global_prefix_sum(
        d,
        order_col=[group_col, "__u", key_col],
        weight_col=weight_col,
        out_col="__cum",
    )
    base = ps.groupBy(group_col).agg(F.min("__cum").alias("__base"))
    budget = F.lit(int(default_budget))
    for g, b in sorted(budgets.items()):
        budget = F.when(F.col(group_col) == g, int(b)).otherwise(budget)
    return (
        ps.join(F.broadcast(base), group_col)
        .filter(F.col("__cum") - F.col("__base") + F.col(weight_col) <= budget)
        .select(*df.columns)
    )


def temperature_weights(
    df: DataFrame,
    group_col: str,
    *,
    tau: float = 0.5,
) -> DataFrame:
    """Temperature-based mixture weights over group sizes: weight_g ∝
    n_g^τ, normalized to sum 1 — the standard multilingual/multi-source
    rebalancing rule (τ=1 keeps natural proportions, τ→0 approaches
    uniform; τ≈0.3–0.7 is the usual LLM-mixing range). Returns one row
    per group with its count, normalized sampling weight, and the
    up/down-sampling factor vs natural frequency.

    Everything after the one groupBy is a broadcast of G scalar rows —
    the weight table is meant to feed :func:`mixture_sample` /
    :func:`weighted_sample` as their rates input at any corpus scale.
    The G-row counts table is localCheckpointed (eager — the corpus
    scan runs here) so the normalizer aggregate below reuses it
    instead of re-running the groupBy subtree with its own full scan.
    """
    counts = (
        df.groupBy(group_col)
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    powed = counts.withColumn("__w", F.pow(F.col("n").cast("double"), F.lit(tau)))
    z = powed.agg(
        F.sum("__w").alias("__z"), F.sum("n").alias("__total")
    )
    return (
        powed.crossJoin(F.broadcast(z))
        .select(
            group_col,
            "n",
            (F.col("__w") / F.col("__z")).alias("weight"),
            # sampling factor vs natural share: >1 = upsample this group
            ((F.col("__w") / F.col("__z")) / (F.col("n") / F.col("__total"))).alias(
                "boost"
            ),
        )
    )


def leakage_safe_split(
    df: DataFrame,
    splits: Mapping[str, float],
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    threshold: float = 0.6,
    out_col: str = "split",
    pairs: DataFrame | None = None,
) -> DataFrame:
    """Train/val/test split that near-duplicates can NEVER straddle —
    the leakage-safe sibling of :func:`split_assign`. A plain
    by-document hash split puts a page and its mirror on opposite
    sides of the boundary, leaking test content into training; this
    operator splits by DEDUP CLUSTER instead: near-dup pairs
    (MinHash-LSH at ``threshold``) → connected components
    (dedup.neardup_clusters) → every document inherits its
    component's representative id as the split key, so a whole
    near-dup family lands on one side together.

    Singleton documents (no near-dup) use their own id — for them the
    assignment degrades exactly to :func:`split_assign`. Adds
    ``cluster_id`` (the component representative) alongside
    ``out_col`` for audit.

    Scale: LSH banding + connected components (one-task union-find
    on small pair graphs, checkpointed star rounds on large ones) are
    the existing bucketed/bounded plans (nothing all-pairs); the final
    assignment is one broadcast-sized join of cluster labels (rows ∝
    documents IN clusters, a small fraction of any deduped corpus)
    plus the same narrow hash-range expression as split_assign.

    ``pairs`` overrides the candidate generator: any (id_a, id_b)
    frame — embedding-cosine pairs, exact-Jaccard pairs — defines the
    leakage graph instead of text MinHash (the query catalog uses the
    embedding-cosine graph so the DuckDB oracle can re-derive the
    components with a recursive CTE)."""
    from skopje_spark.operators.dedup import minhash_lsh_pairs, neardup_clusters

    if pairs is None:
        pairs = minhash_lsh_pairs(df, id_col, text_col)
    clusters = neardup_clusters(pairs).withColumnRenamed("doc_id", id_col)
    labeled = df.join(clusters, id_col, "left").withColumn(
        "cluster_id", F.coalesce(F.col("cluster_id"), F.col(id_col))
    )
    return split_assign(labeled, "cluster_id", splits, out_col=out_col)
