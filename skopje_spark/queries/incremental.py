"""Incremental-maintenance and estimation queries: IVM fold-forward
of a grouped-aggregate view, sampled join-size estimation, and PSI
distribution-drift monitoring.

The IVM oracle is the strongest kind in the catalog: the Spark side
NEVER aggregates the new snapshot for count/sum (it folds a changelog
into the old view, per operators/ivm.py), while the oracle recomputes
the aggregate directly from the new snapshot — equality proves the
maintenance algebra end-to-end. Measures are carried as
DECIMAL(18,2) so SUM folding is exact and order-independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skopje_spark.queries import register
from skopje_spark.queries.rounding import dround, dround_sql
from skopje_spark.tables import load_table

_IVM_ORACLE = f"""
SELECT o_orderpriority,
       COUNT(*) AS n_rows,
       CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price,
       {dround_sql('CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) / COUNT(*)', 6)} AS avg_price,
       CAST(MIN(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS min_price,
       CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS max_price
FROM orders
GROUP BY o_orderpriority
ORDER BY o_orderpriority
"""


@register(
    "q_ivm_agg_update",
    oracle=_IVM_ORACLE,
    tags=("ivm", "incremental", "maintenance", "lakeops"),
)
def q_ivm_agg_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental view maintenance end-to-end (operators/ivm.py).

    An OLD snapshot is derived from orders so that diffing back to
    orders exercises every changelog path: keys ``% 97 == 0`` are
    absent from old (→ I), keys ``% 89 == 0`` carry a +100.00 price in
    old (→ U, with before-images fetched from the old snapshot), and
    phantom negative-key rows in a ``9-PHANTOM`` priority group exist
    only in old (→ D, and the whole group's count folds to zero and
    vanishes). COUNT/SUM/AVG come purely from the fold — the new
    snapshot is touched only for the MIN/MAX refresh of touched
    groups; the oracle recomputes everything from the new snapshot
    directly, so a hash match proves the maintenance algebra.

    Scale: refresh cost is O(|view| + |changelog|) — the 100 TB base
    is never rescanned for the additive measures.
    """
    from skopje_spark.operators.cdc import snapshot_diff
    from skopje_spark.operators.ivm import ivm_apply, ivm_build, ivm_read

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    new = o
    k = F.col("o_orderkey")
    base_old = o.filter(k % 97 != 0).withColumn(
        "price",
        F.when(k % 89 == 0, F.col("price") + F.lit(100).cast("decimal(18,2)"))
        .otherwise(F.col("price"))
        .cast("decimal(18,2)"),
    )
    phantoms = o.filter(k % 101 == 0).select(
        (-k - 1).alias("o_orderkey"),
        F.lit("9-PHANTOM").alias("o_orderpriority"),
        "price",
    )
    old = base_old.unionByName(phantoms)

    view0 = ivm_build(
        old, ["o_orderpriority"], sum_cols=["price"],
        min_cols=["price"], max_cols=["price"],
    )
    changelog = snapshot_diff(old, new, ["o_orderkey"])
    view1 = ivm_apply(
        view0,
        changelog,
        old,
        table_keys=["o_orderkey"],
        group_keys=["o_orderpriority"],
        sum_cols=["price"],
        min_cols=["price"],
        max_cols=["price"],
        new=new,
    )
    out = ivm_read(
        view1,
        ["o_orderpriority"],
        sum_cols=["price"],
        avg_cols=["price"],
        min_cols=["price"],
        max_cols=["price"],
    )
    return out.select(
        "o_orderpriority",
        "n_rows",
        F.col("sum_price").cast("double").alias("sum_price"),
        "avg_price",
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    ).orderBy("o_orderpriority")


@register(
    "q_join_size_estimate",
    oracle="""
    WITH ol AS (
      SELECT COUNT(*) AS exact_join_size
      FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    ),
    co AS (
      SELECT COUNT(*) AS exact_join_size
      FROM customer JOIN orders ON c_custkey = o_custkey
    )
    SELECT 'orders_lineitem' AS join_name, exact_join_size,
           1 AS est_in_band FROM ol
    UNION ALL
    SELECT 'customer_orders' AS join_name, exact_join_size,
           1 AS est_in_band FROM co
    ORDER BY join_name
    """,
    tags=("estimate", "join", "sampling", "planner"),
)
def q_join_size_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-size estimation from coordinated key samples
    (operators/estimate.py): both sides keep a key iff the SAME hash
    of the key lands under the rate, so the sampled sub-join is an
    unbiased miniature of the real one; Σ f_A·f_B over sampled keys
    scales by 1/p. Deterministic given the seed — the driver rerun
    reproduces the identical estimate.

    Keys hash through their STRING form so both sides agree whatever
    the physical key type (int/bigint/string/uuid). Verdict bands vs
    measured deterministic error (the estimate is a fixed number per
    fixture): orders⋈lineitem at rate 0.2 errs 5.8% at sf0.001 / 4.3%
    at sf0.01 (band ±15%); customer⋈orders — the low-cardinality
    regime that needs a bigger rate — at rate 0.5 errs 9.9% at
    sf0.001 / 4.6% at sf0.01 (band ±25%). Errors shrink with key
    cardinality, exactly the regime where estimation matters. Exact
    sizes ride along so the hash pins real numbers. Estimation cost
    is two pushed-down sampled scans + a tiny count join per pair —
    never the join itself.
    """
    from skopje_spark.operators.estimate import sampled_join_size

    o = load_table(spark, sf_dir, "orders")
    l = load_table(spark, sf_dir, "lineitem")
    c = load_table(spark, sf_dir, "customer")

    def one(name, a, b, ak, bk, rate, band):
        est = sampled_join_size(a, b, ak, bk, rate=rate)
        exact = a.join(b, F.col(ak) == F.col(bk)).agg(
            F.count(F.lit(1)).alias("exact_join_size")
        )
        return exact.crossJoin(F.broadcast(est)).select(
            F.lit(name).alias("join_name"),
            "exact_join_size",
            (
                F.abs(F.col("est_join_size") - F.col("exact_join_size"))
                <= F.lit(band) * F.col("exact_join_size")
            )
            .cast("int")
            .alias("est_in_band"),
        )

    return (
        one("orders_lineitem", o, l, "o_orderkey", "l_orderkey", 0.2, 0.15)
        .unionByName(one("customer_orders", c, o, "c_custkey", "o_custkey", 0.5, 0.25))
        .orderBy("join_name")
    )


_PSI_EPS = 0.5
_PSI_ORACLE = f"""
WITH ca AS (
  SELECT o_orderpriority AS category, COUNT(*) AS n_a
  FROM orders WHERE o_orderdate < DATE '1995-07-01'
  GROUP BY o_orderpriority
),
cb AS (
  SELECT o_orderpriority AS category, COUNT(*) AS n_b
  FROM orders WHERE o_orderdate >= DATE '1995-07-01'
  GROUP BY o_orderpriority
),
cats AS (
  SELECT COALESCE(ca.category, cb.category) AS category,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb
    ON ca.category IS NOT DISTINCT FROM cb.category
),
tot AS (
  SELECT SUM(n_a) AS ta, SUM(n_b) AS tb, COUNT(*) AS k FROM cats
)
SELECT category, n_a, n_b,
       {dround_sql(f'(n_a + {_PSI_EPS}) / (ta + {_PSI_EPS} * k)', 6)} AS share_a,
       {dround_sql(f'(n_b + {_PSI_EPS}) / (tb + {_PSI_EPS} * k)', 6)} AS share_b,
       {dround_sql(
           f'((n_a + {_PSI_EPS}) / (ta + {_PSI_EPS} * k) - (n_b + {_PSI_EPS}) / (tb + {_PSI_EPS} * k))'
           f' * ln(((n_a + {_PSI_EPS}) / (ta + {_PSI_EPS} * k)) / ((n_b + {_PSI_EPS}) / (tb + {_PSI_EPS} * k)))',
           6,
       )} AS psi_contrib
FROM cats CROSS JOIN tot
ORDER BY category
"""


@register(
    "q_drift_psi",
    oracle=_PSI_ORACLE,
    tags=("drift", "quality", "monitoring"),
)
def q_drift_psi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population-stability-index drift monitor
    (operators/quality.py:psi_drift): order-priority mix before vs
    after a date cut, one row per category with both counts, both
    Laplace-smoothed shares, and the signed PSI contribution — the
    "did the distribution move, and which categories moved it"
    companion to the digests' "did anything change".

    Scale: two category-cardinality groupBys + a tiny join; nothing
    row-scale shuffles.
    """
    from skopje_spark.operators.quality import psi_drift

    o = load_table(spark, sf_dir, "orders")
    cut = F.lit("1995-07-01").cast("date")
    return psi_drift(
        o.filter(F.col("o_orderdate") < cut),
        o.filter(F.col("o_orderdate") >= cut),
        "o_orderpriority",
        eps=_PSI_EPS,
    ).orderBy("category")


@register(
    "q_ivm_view_lifecycle",
    oracle=_IVM_ORACLE,  # same target: the maintained view must equal
    # a direct recompute over orders, whatever lifecycle produced it
    tags=("ivm", "versioned", "lakeops", "maintenance"),
)
def q_ivm_view_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned materialized-view LIFECYCLE under the driver gate
    (sinks/versioned.py): commit a perturbed orders snapshot as v0,
    build the IVM view (full build), commit the true orders as v1,
    COMPACT the view table (marker inheritance must keep it
    refreshable), then refresh with a correct ``touched_keys`` hint so
    both base snapshots prune by broadcast semi-join before diffing.
    The returned frame reads the maintained view; the oracle
    recomputes the same aggregate directly from orders — equality
    proves commit atomicity, marker plumbing, pruned diffing, and the
    fold algebra together.

    Scale: the refresh never shuffles the base (hinted semi-join
    pruning) and never re-aggregates it (IVM fold); compaction is a
    shuffle-free coalesce commit.
    """
    import tempfile

    from skopje_spark.operators.ivm import ivm_read
    from skopje_spark.sinks.versioned import (
        versioned_compact,
        versioned_ivm_view,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("price"),
    )
    k = F.col("o_orderkey")
    v0 = o.filter(k % 97 != 0).withColumn(
        "price",
        F.when(k % 89 == 0, F.col("price") + F.lit(100).cast("decimal(18,2)"))
        .otherwise(F.col("price"))
        .cast("decimal(18,2)"),
    ).unionByName(
        o.filter(k % 101 == 0).select(
            (-k - 1).alias("o_orderkey"),
            F.lit("9-PHANTOM").alias("o_orderpriority"),
            "price",
        )
    )

    root = tempfile.mkdtemp(prefix="skopje_ivm_view_")
    base_p, view_p = f"{root}/base", f"{root}/view"
    kw = dict(
        table_keys=["o_orderkey"], group_keys=["o_orderpriority"],
        sum_cols=["price"], min_cols=["price"], max_cols=["price"],
    )
    versioned_write(v0, base_p)
    versioned_ivm_view(spark, base_p, view_p, **kw)
    versioned_write(o, base_p)
    versioned_compact(spark, view_p, target_files=1)
    # every key that differs between v0 and v1 is one of the three
    # perturbed classes — the hint the stream path derives from its
    # batch, derived here from the construction
    touched = o.filter((k % 97 == 0) | (k % 89 == 0)).select("o_orderkey").unionByName(
        o.filter(k % 101 == 0).select((-k - 1).alias("o_orderkey"))
    )
    versioned_ivm_view(spark, base_p, view_p, touched_keys=touched, **kw)

    view = versioned_read(spark, view_p)
    out = ivm_read(
        view, ["o_orderpriority"],
        sum_cols=["price"], avg_cols=["price"],
        min_cols=["price"], max_cols=["price"],
    )
    return out.select(
        "o_orderpriority",
        "n_rows",
        F.col("sum_price").cast("double").alias("sum_price"),
        "avg_price",
        F.col("min_price").cast("double").alias("min_price"),
        F.col("max_price").cast("double").alias("max_price"),
    ).orderBy("o_orderpriority")


_PSI_BINNED_ORACLE = f"""
WITH va AS (
  SELECT l_extendedprice AS v FROM lineitem WHERE l_shipdate < DATE '1995-07-01'
),
vb AS (
  SELECT l_extendedprice AS v FROM lineitem WHERE l_shipdate >= DATE '1995-07-01'
),
bounds AS (
  SELECT MIN(v) AS lo, MAX(v) AS hi
  FROM (SELECT v FROM va UNION ALL SELECT v FROM vb)
),
ba AS (
  SELECT CASE WHEN v IS NULL THEN NULL
              WHEN (hi - lo) / 20.0 = 0 THEN 0
              ELSE LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19)
         END AS bin_id
  FROM va CROSS JOIN bounds
),
bb AS (
  SELECT CASE WHEN v IS NULL THEN NULL
              WHEN (hi - lo) / 20.0 = 0 THEN 0
              ELSE LEAST(CAST(FLOOR((v - lo) / ((hi - lo) / 20.0)) AS BIGINT), 19)
         END AS bin_id
  FROM vb CROSS JOIN bounds
),
ca AS (SELECT bin_id, COUNT(*) AS n_a FROM ba GROUP BY bin_id),
cb AS (SELECT bin_id, COUNT(*) AS n_b FROM bb GROUP BY bin_id),
cats AS (
  SELECT COALESCE(ca.bin_id, cb.bin_id) AS bin_id,
         COALESCE(n_a, 0) AS n_a, COALESCE(n_b, 0) AS n_b
  FROM ca FULL OUTER JOIN cb
    ON ca.bin_id IS NOT DISTINCT FROM cb.bin_id
),
tot AS (
  SELECT SUM(n_a) AS ta, SUM(n_b) AS tb, COUNT(*) AS k FROM cats
)
SELECT bin_id, n_a, n_b,
       {dround_sql(f'(n_a + {_PSI_EPS}) / (ta + {_PSI_EPS} * k)', 6)} AS share_a,
       {dround_sql(f'(n_b + {_PSI_EPS}) / (tb + {_PSI_EPS} * k)', 6)} AS share_b,
       {dround_sql(
           f'((n_a + {_PSI_EPS}) / (ta + {_PSI_EPS} * k) - (n_b + {_PSI_EPS}) / (tb + {_PSI_EPS} * k))'
           f' * ln(((n_a + {_PSI_EPS}) / (ta + {_PSI_EPS} * k)) / ((n_b + {_PSI_EPS}) / (tb + {_PSI_EPS} * k)))',
           6,
       )} AS psi_contrib
FROM cats CROSS JOIN tot
ORDER BY bin_id
"""


@register(
    "q_drift_psi_binned",
    oracle=_PSI_BINNED_ORACLE,
    tags=("drift", "quality", "monitoring", "histogram"),
)
def q_drift_psi_binned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-PSI drift for a NUMERIC column
    (operators/quality.py:psi_drift_binned): l_extendedprice
    distribution before vs after a shipdate cut, bucketed into 20
    fixed-width bins spanning the union's [min, max]. Bin edges come
    from exact MIN/MAX (never quantiles — cross-engine percentile
    interpolation differs in the last ulp and would flip edge bins),
    so Spark and the oracle bucket every row identically.

    Scale: one min/max aggregate broadcast as a 1-row frame, then the
    categorical-PSI plan on bin ids — bin count (not row count) bounds
    every post-scan row set."""
    from skopje_spark.operators.quality import psi_drift_binned

    li = load_table(spark, sf_dir, "lineitem")
    cut = F.lit("1995-07-01").cast("date")
    return psi_drift_binned(
        li.filter(F.col("l_shipdate") < cut),
        li.filter(F.col("l_shipdate") >= cut),
        "l_extendedprice",
        n_bins=20,
        eps=_PSI_EPS,
    ).orderBy("bin_id")


@register(
    "q_versioned_partial_rewrite",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 100
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
           TRUE AS partial_rewrite
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "merge", "manifest", "lakeops"),
)
def q_versioned_partial_rewrite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manifest-snapshot MERGE economics under the driver gate
    (sinks/versioned.py:versioned_upsert): a key-clustered orders
    table (8 range-bucketed files) takes a narrow upsert (keys <=
    100, one bucket's range), and the commit's own
    ``n_files_rewritten``/``n_files_carried`` markers prove most
    files were CARRIED by reference rather than rewritten — emitted
    as the ``partial_rewrite`` flag the oracle pins TRUE. Content is
    pinned identical to the full merge the oracle computes directly;
    price doubling is exact in binary, so the hash is engine-exact.

    Scale: this is the property that makes frequent MERGEs viable at
    100 TB — a 1-bucket update writes 1 file + a kilobyte manifest,
    not the table."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_partial_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    base = o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
        "o_orderkey"
    )
    versioned_write(base, path)
    upd = o.filter("o_orderkey <= 100").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"])
    rewritten = int(snapshot_meta(path, "n_files_rewritten", version=1))
    carried = int(snapshot_meta(path, "n_files_carried", version=1))
    return (
        versioned_read(spark, path)
        .withColumn(
            "partial_rewrite", F.lit(bool(rewritten <= 4 and carried >= 4))
        )
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_pruned_read",
    oracle="""
    SELECT o_orderkey, o_totalprice, TRUE AS pruned_scan
    FROM orders
    WHERE o_orderkey BETWEEN 200 AND 900
    ORDER BY o_orderkey
    """,
    tags=("versioned", "skipping", "manifest", "lakeops"),
)
def q_versioned_pruned_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scan-side manifest file skipping on a versioned snapshot
    (sinks/versioned.py:versioned_pruned_read): a key-clustered
    orders table (8 range-bucketed files) takes a narrow range read
    ([200, 900] — well inside the first bucket at every sf), and the
    manifest's own [min, max] interval split proves most files were
    never opened — emitted as the ``pruned_scan`` flag the oracle
    pins TRUE. Row content is pinned identical to the filtered full
    scan the oracle computes directly.

    Scale: the skip decision reads kilobytes of driver-side manifest,
    so a point/range lookup on a key-clustered 100 TB table opens a
    handful of files — the read-side twin of the MERGE partial
    rewrite (q_versioned_partial_rewrite)."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        versioned_pruned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_pruned_read_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    base = o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
        "o_orderkey"
    )
    versioned_write(base, path)
    lo, hi = 200, 900
    man = _read_manifest(path, 0)
    cand, skipped = _interval_split(man["files"], "o_orderkey", lo, hi)
    # scale-robust economics flag: at least half the files are PROVEN
    # skippable (at tiny sf the fixed interval spans several of the
    # sampled range buckets; at sf0.1 it sits inside one)
    half = len(man["files"]) // 2
    return (
        versioned_pruned_read(spark, path, "o_orderkey", lo, hi)
        .withColumn(
            "pruned_scan",
            F.lit(bool(len(cand) <= half and len(skipped) >= half)),
        )
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_delete_vectors",
    oracle="""
    SELECT o_orderkey, o_totalprice, TRUE AS dv_delete
    FROM orders
    WHERE o_orderkey % 13 <> 3
    ORDER BY o_orderkey
    """,
    tags=("versioned", "delete", "deletion-vectors", "lakeops"),
)
def q_versioned_delete_vectors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Merge-on-read DELETE under the driver gate
    (sinks/versioned.py:versioned_delete): a predicate spreading
    matches across EVERY file of a key-clustered orders table
    (o_orderkey % 13 = 3) commits as deletion-vector sidecars — the
    commit's own ``n_files_rewritten`` marker and an unchanged
    data-file set prove not one data file was rewritten, emitted as
    the ``dv_delete`` flag the oracle pins TRUE. Content is pinned
    identical to the direct anti-filter the oracle computes: the read
    side's (file, row-position) anti-join applies the vectors exactly.

    Scale: this is the DELETE economics a rewrite-style MERGE cannot
    give — a scattered 0.1% delete on a 100 TB table writes kilobytes
    of positions + a manifest, where even a partial-rewrite merge
    would rewrite every file the predicate touches."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        snapshot_meta,
        versioned_delete,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_dv_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    files0 = {e["path"] for e in _read_manifest(path, 0)["files"]}
    v1 = versioned_delete(spark, path, "o_orderkey % 13 = 3")
    files1 = {e["path"] for e in _read_manifest(path, v1)["files"]}
    dv_only = (
        snapshot_meta(path, "n_files_rewritten", version=v1) == "0"
        and files1 == files0  # every data file carried by reference
        and int(snapshot_meta(path, "n_rows_deleted", version=v1)) > 0
    )
    return (
        versioned_read(spark, path)
        .withColumn("dv_delete", F.lit(bool(dv_only)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_dv_lifecycle",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 100 = 7 THEN o_totalprice * 3
                WHEN o_orderkey % 20 = 4 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           TRUE AS dv_lifecycle
    FROM orders
    WHERE o_orderkey % 10 <> 7 OR o_orderkey % 100 = 7
    ORDER BY o_orderkey
    """,
    tags=("versioned", "delete", "deletion-vectors", "compaction", "lakeops"),
)
def q_versioned_dv_lifecycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full deletion-vector lifecycle as one driver-gated story:
    DELETE (o_orderkey % 10 = 7, vectors only — zero rewrites) →
    MERGE that re-inserts a subset of the deleted keys at price*3 and
    updates untouched keys (% 20 = 4) at price*2, reading its
    candidate slice THROUGH the vectors so no deleted row resurrects →
    COMPACT, whose rewrite goes through the DV-applied read and so
    materializes the vectors away (the final manifest is pinned
    DV-free via the ``dv_lifecycle`` flag). The oracle recomputes the
    end state directly from orders; hash equality proves delete,
    merge-over-vectors, and materialization compose exactly.

    Scale: each step is the cheap variant — positions for the delete,
    matched-file rewrite for the merge, narrow coalesce for the
    compaction — and history stays time-travelable throughout."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        snapshot_meta,
        versioned_compact,
        versioned_delete,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_dvlife_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    v1 = versioned_delete(spark, path, "o_orderkey % 10 = 7")
    upd = (
        o.filter("o_orderkey % 100 = 7")
        .withColumn("o_totalprice", F.col("o_totalprice") * 3)
        .unionByName(
            o.filter("o_orderkey % 20 = 4").withColumn(
                "o_totalprice", F.col("o_totalprice") * 2
            )
        )
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"])
    v3 = versioned_compact(spark, path, target_files=8)
    ok = (
        snapshot_meta(path, "n_files_rewritten", version=v1) == "0"
        and all(
            not e.get("dv_files") for e in _read_manifest(path, v3)["files"]
        )
    )
    return (
        versioned_read(spark, path)
        .withColumn("dv_lifecycle", F.lit(bool(ok)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_change_feed",
    oracle="""
    SELECT o_orderkey, o_totalprice AS o_totalprice,
           'update_preimage' AS _change_type, 1 AS _commit_version
    FROM orders WHERE o_orderkey % 20 = 4
    UNION ALL
    SELECT o_orderkey, o_totalprice * 2, 'update_postimage', 1
    FROM orders WHERE o_orderkey % 20 = 4
    UNION ALL
    SELECT o_orderkey + 100000000, o_totalprice, 'insert', 1
    FROM orders WHERE o_orderkey % 100 = 1
    UNION ALL
    SELECT o_orderkey, o_totalprice, 'delete', 2
    FROM orders WHERE o_orderkey % 10 = 7
    ORDER BY _commit_version, o_orderkey, _change_type
    """,
    tags=("versioned", "cdf", "change-feed", "incremental", "lakeops"),
)
def q_versioned_change_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Change data feed under the driver gate
    (sinks/versioned.py:versioned_change_feed): a CDF-enabled MERGE
    (updates at price*2 plus brand-new keys — recorded as preimage,
    postimage, and insert rows) and a CDF-enabled deletion-vector
    DELETE each record their LOGICAL changes at commit
    time; the feed read serves exactly those rows with
    ``_change_type``/``_commit_version`` attribution — Delta's
    readChangeFeed contract. The oracle recomputes every expected
    change row closed-form from orders: hash equality proves the
    insert/update classification (semi/anti against the candidate
    slice), the delete row capture, and the version attribution all
    compose exactly.

    Scale: the feed is O(changes) native parquet — recorded cdc-*
    pool files, no snapshot diff, no table scan; incremental
    consumers (replica sync, IVM, re-embedding) pull just what
    changed."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_change_feed,
        versioned_delete,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_cdf_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    upd = (
        o.filter("o_orderkey % 20 = 4")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(
            o.filter("o_orderkey % 100 = 1").withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
            )
        )
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"], change_feed=True)
    versioned_delete(spark, path, "o_orderkey % 10 = 7", change_feed=True)
    return versioned_change_feed(spark, path, from_version=1).orderBy(
        "_commit_version", "o_orderkey", "_change_type"
    )


@register(
    "q_versioned_merge_clauses",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 10 <> 3
    UNION ALL
    SELECT o_orderkey + 100000000, o_totalprice
    FROM orders WHERE o_orderkey % 100 = 2
    ORDER BY o_orderkey
    """,
    tags=("versioned", "merge", "clauses", "lakeops"),
)
def q_versioned_merge_clauses(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MERGE INTO clause semantics under the driver gate
    (sinks/versioned.py:versioned_merge): one source frame drives all
    four outcomes — keys ending in 1 UPDATE (doubled price via the
    source row), keys ending in 3 DELETE, keys ending in 5 MATCH BUT
    FIRE NO CLAUSE (the source carries a poisoned 9× price precisely
    to prove the unchanged-target path keeps the TARGET's values),
    and offset keys INSERT only where the insert condition admits
    them. The oracle recomputes the end state closed-form; hash
    equality proves clause precedence, condition evaluation over the
    src_-prefixed pair, and the no-clause keep path all compose.

    Scale: same partial-rewrite economics as the plain upsert — only
    key-matched candidate files rewrite, carried files never read."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_merge,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_mrgcl_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    src = (
        o.filter("o_orderkey % 10 = 1")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(o.filter("o_orderkey % 10 = 3"))
        .unionByName(
            # matched-but-no-clause rows: poisoned source price must
            # NOT reach the table
            o.filter("o_orderkey % 10 = 5").withColumn(
                "o_totalprice", F.col("o_totalprice") * 9
            )
        )
        .unionByName(
            o.filter("o_orderkey % 100 IN (2, 52)").withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
            )
        )
    )
    versioned_merge(
        spark,
        path,
        src,
        ["o_orderkey"],
        when_matched_update="src_o_orderkey % 10 = 1",
        when_matched_delete="src_o_orderkey % 10 = 3",
        when_not_matched_insert="src_o_orderkey % 100 = 2",
    )
    return versioned_read(spark, path).orderBy("o_orderkey")


@register(
    "q_versioned_replica_sync",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 20 = 4 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           TRUE AS replica_sync
    FROM orders
    WHERE o_orderkey % 10 <> 7
    ORDER BY o_orderkey
    """,
    tags=("versioned", "cdf", "replica", "incremental", "lakeops"),
)
def q_versioned_replica_sync(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feed-driven replica sync under the driver gate
    (sinks/versioned.py:versioned_replicate): a source table takes a
    CDF-recorded MERGE and a CDF-recorded deletion-vector DELETE; the
    replica syncs purely from the recorded feed — creation inserts
    bootstrap it, the per-key final-state reduction applies the chain,
    and a second sync is a cursor-checked no-op (pinned in the
    ``replica_sync`` flag). The oracle recomputes the expected end
    state from orders; hash equality proves the replica converged to
    the source without ever scanning it.

    Scale: the sync reads O(changes) cdc files + writes a partial
    rewrite — the 100 TB source is never read, which is the entire
    point of replicating from a feed."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_read,
        versioned_replicate,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    src_path = tempfile.mkdtemp(prefix="skopje_repsrc_")
    dst_path = src_path + "_replica"
    atexit.register(shutil.rmtree, src_path, ignore_errors=True)
    atexit.register(shutil.rmtree, dst_path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        src_path,
    )
    upd = o.filter("o_orderkey % 20 = 4").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    versioned_upsert(spark, src_path, upd, ["o_orderkey"], change_feed=True)
    versioned_delete(spark, src_path, "o_orderkey % 10 = 7", change_feed=True)
    cursor = src_path + "/_replica_cursor"
    v = versioned_replicate(
        spark, src_path, dst_path, cursor, keys=["o_orderkey"]
    )
    again = versioned_replicate(
        spark, src_path, dst_path, cursor, keys=["o_orderkey"]
    )
    return (
        versioned_read(spark, dst_path)
        .withColumn("replica_sync", F.lit(bool(v is not None and again is None)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_cdc_ingest",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 20 = 4 THEN o_totalprice * 2
                ELSE o_totalprice END AS o_totalprice,
           TRUE AS cdc_ingest
    FROM orders
    WHERE o_orderkey % 10 <> 7
    UNION ALL
    SELECT o_orderkey + 100000000, o_totalprice, TRUE
    FROM orders WHERE o_orderkey % 100 = 2
    ORDER BY o_orderkey
    """,
    tags=("versioned", "cdc", "changelog", "ingest", "lakeops"),
)
def q_versioned_cdc_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-system CDC ingestion under the driver gate
    (sinks/versioned.py:apply_changelog_batch): an I/U/D changelog —
    updates at price*2 (U), scattered deletes (D), brand-new keys (I)
    — applies as ONE merge commit whose clauses are driven by the
    op column (an extra source column that never reaches the table).
    The oracle recomputes the end state from orders; the
    ``cdc_ingest`` flag additionally pins that the apply was a single
    commit with zero-rewrite deletes folded into the clause merge
    (n_versions advanced by exactly one).

    Scale: the ingestion surface for consuming another store's change
    stream into the lake — one partial-rewrite commit per batch,
    atomic via the pointer swap, replay-safe under the stream ledger
    (unit-pinned in test_versioned)."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        apply_changelog_batch,
        latest_version,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_cdcing_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    changelog = (
        o.filter("o_orderkey % 20 = 4")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .withColumn("__op", F.lit("U"))
        .unionByName(
            o.filter("o_orderkey % 10 = 7").withColumn("__op", F.lit("D"))
        )
        .unionByName(
            o.filter("o_orderkey % 100 = 2")
            .withColumn("o_orderkey", F.col("o_orderkey") + F.lit(100000000))
            .withColumn("__op", F.lit("I"))
        )
    )
    apply_changelog_batch(spark, path, changelog, ["o_orderkey"])
    one_commit = latest_version(path) == 1
    return (
        versioned_read(spark, path)
        .withColumn("cdc_ingest", F.lit(bool(one_commit)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_restore",
    oracle="""
    SELECT o_orderkey, o_totalprice, TRUE AS restored
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "restore", "rollback", "lakeops"),
)
def q_versioned_restore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only rollback under the driver gate
    (sinks/versioned.py:versioned_restore): two destructive commits
    (doubled prices, then a scattered DV delete) are rolled back by
    re-committing version 0's manifest — the read must be
    row-identical to the original orders (the oracle reads orders
    directly), the restore marker and version arithmetic must hold,
    and not one data file is copied (flagged as ``restored`` via a
    pool-listing comparison around the restore call).

    Scale: rolling a 100 TB table back to yesterday writes one
    manifest — data files are referenced, never moved."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _DATA_DIR,
        snapshot_meta,
        versioned_delete,
        versioned_read,
        versioned_restore,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_restore_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    upd = o.filter("o_orderkey % 7 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"])
    versioned_delete(spark, path, "o_orderkey % 11 = 3")
    pool_before = set(_os.listdir(_os.path.join(path, _DATA_DIR)))
    v = versioned_restore(path, 0)
    pool_after = set(_os.listdir(_os.path.join(path, _DATA_DIR)))
    ok = (
        pool_after == pool_before  # pure metadata
        and snapshot_meta(path, "op", version=v) == "restore"
        and snapshot_meta(path, "source_version", version=v) == "0"
    )
    return (
        versioned_read(spark, path)
        .withColumn("restored", F.lit(bool(ok)))
        .orderBy("o_orderkey")
    )


@register(
    "q_maintenance_report",
    oracle="""
    SELECT 'degraded' AS state, TRUE AS flags_compact, TRUE AS flags_cluster,
           TRUE AS dv_debt_seen, TRUE AS rows_exact
    UNION ALL
    SELECT 'maintained', FALSE, FALSE, FALSE, TRUE
    ORDER BY state
    """,
    tags=("versioned", "maintenance", "advisor", "lakeops"),
)
def q_maintenance_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance advisor under the driver gate
    (sinks/versioned.py:maintenance_report): a deliberately degraded
    orders table (hash-scattered on a non-key column, 16 small files,
    a >10% DV delete) must flag compact+cluster with visible DV debt,
    and after the recommended clustered compaction the SAME report
    must come back clean — with logical row counts exact against a
    real count both times. The oracle pins the before/after verdict
    rows; a wrong threshold, a missed DV row, or a stale stat flips a
    boolean and fails the hash.

    Scale: both reports are O(files) driver arithmetic over the
    manifest — zero jobs; the advisor is free however large the
    table."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        maintenance_report,
        versioned_compact,
        versioned_delete,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_maint_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.repartition(16, "o_totalprice"), path)  # scattered
    versioned_delete(spark, path, "o_orderkey % 8 = 1")  # ~12.5% debt

    def verdict(state):
        # tiny byte target so the SIZE rule never fires at fixture
        # scale (every parquet file exceeds a 256-byte quarter-target)
        # — the flags under test are the scale-free debt/cluster rules
        rep = maintenance_report(
            path, cluster_col="o_orderkey", target_file_bytes=1024
        )
        exact = rep["physical_rows"] - rep["dv_rows"] == versioned_read(
            spark, path
        ).count()
        return (
            state,
            "compact" in rep["recommendations"],
            "cluster" in rep["recommendations"],
            rep["dv_debt_frac"] > 0.10,
            bool(exact),
        )

    before = verdict("degraded")
    versioned_compact(spark, path, target_files=8, cluster_by=["o_orderkey"])
    after = verdict("maintained")
    return spark.createDataFrame(
        [before, after],
        "state string, flags_compact boolean, flags_cluster boolean, "
        "dv_debt_seen boolean, rows_exact boolean",
    ).orderBy("state")


@register(
    "q_merge_concurrent",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 40 IN (0, 1, 2, 3)
                THEN o_totalprice * 2 ELSE o_totalprice END AS price,
           CASE WHEN o_orderkey % 40 IN (0, 1, 2, 3)
                THEN 'updated' ELSE 'base' END AS tag,
           5 AS n_versions
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "occ", "concurrency", "merge"),
)
def q_merge_concurrent(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Optimistic concurrency under the driver gate
    (sinks/versioned.py:versioned_merge_concurrent): FOUR racing
    writer threads each MERGE a disjoint key slice (doubled price,
    'updated' tag) into a versioned orders table through the CAS
    retry loop. Disjoint keys make the final content deterministic
    whatever order the races resolve, and the emitted ``n_versions``
    pins that every writer landed as its OWN commit (base + 4 — a
    lost update or a writer piggybacking another's commit would
    change it). The oracle recomputes the expected final table from
    orders directly; hash equality proves no row was lost, doubled,
    or torn by the races.

    Scale: each commit is copy-on-write + an O(1) metadata CAS —
    writers serialize on the version check, never on data transfer."""
    import atexit
    import shutil
    import tempfile
    import threading

    from skopje_spark.sinks.versioned import (
        latest_version,
        versioned_merge_concurrent,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_totalprice").alias("price"),
        F.lit("base").alias("tag"),
    )
    path = tempfile.mkdtemp(prefix="skopje_occ_merge_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o, path)

    def worker(i: int) -> None:
        upd = o.filter(F.col("o_orderkey") % 40 == i).select(
            "o_orderkey",
            (F.col("price") * 2).alias("price"),
            F.lit("updated").alias("tag"),
        )
        versioned_merge_concurrent(
            spark, path, upd, ["o_orderkey"], max_retries=16, backoff_s=0.05
        )

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()

    n_versions = latest_version(path) + 1
    return (
        versioned_read(spark, path)
        .withColumn("n_versions", F.lit(n_versions))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_history",
    oracle="""
    WITH n AS (SELECT COUNT(*) AS c FROM orders WHERE o_orderkey % 4 = 0)
    SELECT 0 AS version, FALSE AS is_latest, c AS n_rows, '' AS op FROM n
    UNION ALL
    SELECT 1, FALSE, c, 'merge' FROM n
    UNION ALL
    SELECT 2, TRUE, c, 'compact' FROM n
    ORDER BY version
    """,
    tags=("versioned", "history", "lakeops"),
)
def q_versioned_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Commit-history introspection (sinks/versioned.py:
    versioned_history — the DESCRIBE HISTORY surface): build a
    three-commit table (initial write → key-preserving upsert →
    compaction) and read its history with metadata-only row counts
    and commit markers. The oracle pins the full lifecycle: version
    numbering, latest flag, per-version row counts (the upsert
    touches only existing keys, so counts stay flat), and the
    compaction marker — drift in any commit-protocol detail breaks
    the hash."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_compact,
        versioned_history,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="skopje_vhist_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.filter("o_orderkey % 4 = 0"), path)
    upd = o.filter("o_orderkey % 8 = 0").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"])
    versioned_compact(spark, path, target_files=1)

    h = versioned_history(spark, path, with_counts=True)
    return h.select(
        "version",
        "is_latest",
        "n_rows",
        F.coalesce(
            F.get_json_object("meta", "$.op"), F.lit("")
        ).alias("op"),
    ).orderBy("version")


@register(
    "q_schema_evolution",
    oracle="""
    WITH base AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 4 = 0),
    scored AS (SELECT o_orderkey FROM orders WHERE o_orderkey % 8 = 0)
    SELECT b.o_orderkey,
           CASE WHEN s.o_orderkey IS NOT NULL THEN 'scored' ELSE 'plain' END AS tier,
           CASE WHEN s.o_orderkey IS NOT NULL
                THEN CAST(s.o_orderkey % 100 AS DOUBLE) END AS score,
           2 AS v0_cols, 3 AS v1_cols
    FROM base b LEFT JOIN scored s ON b.o_orderkey = s.o_orderkey
    ORDER BY b.o_orderkey
    """,
    tags=("versioned", "schema-evolution", "lakeops"),
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive schema evolution under the driver gate
    (sinks/versioned.py:versioned_upsert(evolve_schema=True)): commit
    a 2-column base, then upsert a 3-column slice (new ``score``) —
    the kept rows must NULL-backfill, the updated rows must carry
    their score, and TIME TRAVEL must serve each version its OWN
    column count (emitted as ``v0_cols``/``v1_cols``, read back from
    the pinned snapshots — a reader of history never sees columns
    from the future). The oracle recomputes the expected final frame
    and the schema widths from orders directly."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    path = tempfile.mkdtemp(prefix="skopje_evolve_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    base = o.filter("o_orderkey % 4 = 0").withColumn(
        "tier", F.lit("plain")
    )
    versioned_write(base, path)
    upd = o.filter("o_orderkey % 8 = 0").select(
        "o_orderkey",
        F.lit("scored").alias("tier"),
        (F.col("o_orderkey") % 100).cast("double").alias("score"),
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"], evolve_schema=True)

    v0_cols = len(versioned_read(spark, path, version=0).columns)
    v1_cols = len(versioned_read(spark, path, version=1).columns)
    return (
        versioned_read(spark, path)
        .withColumn("v0_cols", F.lit(v0_cols))
        .withColumn("v1_cols", F.lit(v1_cols))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_clone",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 50
                THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice,
           TRUE AS zero_copy,
           TRUE AS src_intact
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "clone", "manifest", "lakeops"),
)
def q_versioned_clone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zero-copy SHALLOW CLONE under the driver gate
    (sinks/versioned.py:versioned_clone): an orders table takes a
    price-doubling merge (v1), is cloned AT v0 (time-travel clone,
    pre-merge state), and the clone then takes its OWN tripling merge
    for a disjoint key range. The oracle pins the clone's final
    content closed-form — v0 prices with keys<=50 tripled — which
    fails if the clone leaked the source's v1 merge, cloned the wrong
    version, or corrupted rows. Two flag columns pin the mechanics:
    ``zero_copy`` (every clone pool file shares its source file's
    inode — hard links, not copies) and ``src_intact`` (after the
    clone's merge, the SOURCE latest still shows exactly its own
    merge: row-wise bit-exact, doubling is exact in binary).

    Scale: cloning is O(files) metadata however large the table —
    the zero-cost way to fork a 100 TB corpus for an experiment."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    import skopje_spark.sinks.versioned as V

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    src = tempfile.mkdtemp(prefix="skopje_clone_src_")
    dst = tempfile.mkdtemp(prefix="skopje_clone_dst_")
    atexit.register(shutil.rmtree, src, ignore_errors=True)
    atexit.register(shutil.rmtree, dst, ignore_errors=True)
    shutil.rmtree(dst, ignore_errors=True)  # clone target must be fresh
    base = o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
        "o_orderkey"
    )
    V.versioned_write(base, src)
    V.versioned_upsert(
        spark, src, o.filter("o_orderkey <= 100").withColumn(
            "o_totalprice", F.col("o_totalprice") * 2
        ), ["o_orderkey"],
    )
    V.versioned_clone(src, dst, version=0)
    V.versioned_upsert(
        spark, dst, o.filter("o_orderkey <= 50").withColumn(
            "o_totalprice", F.col("o_totalprice") * 3
        ), ["o_orderkey"],
    )
    zero_copy = all(
        _os.stat(_os.path.join(dst, e["path"])).st_ino
        == _os.stat(_os.path.join(src, e["path"])).st_ino
        and _os.stat(_os.path.join(dst, e["path"])).st_nlink >= 2
        for e in V._read_manifest(dst, 0)["files"]
    )
    src_now = V.versioned_read(spark, src)
    expected_src = o.withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") <= 100, F.col("o_totalprice") * 2)
        .otherwise(F.col("o_totalprice")),
    )
    src_intact = (
        src_now.exceptAll(expected_src).limit(1).count() == 0
        and expected_src.exceptAll(src_now).limit(1).count() == 0
    )
    return (
        V.versioned_read(spark, dst)
        .withColumn("zero_copy", F.lit(bool(zero_copy)))
        .withColumn("src_intact", F.lit(bool(src_intact)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_constraints",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 100
                THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
           TRUE AS violation_rejected
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "constraints", "lakeops"),
)
def q_versioned_constraints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CHECK-constraint enforcement under the driver gate
    (sinks/versioned.py:set_check_constraint): an orders table takes
    a ``o_totalprice > 0`` constraint, a poisoned merge (one row's
    price negated) is REFUSED atomically — nothing published, flag
    pinned TRUE — and a clean price-doubling merge then lands through
    the same inherited constraint. The oracle states the final
    content closed-form, so a leaked poisoned commit, a lost clean
    commit, or a constraint that blocked valid rows all hash-fail.

    Scale: enforcement is one JVM-side O(batch) scan per constrained
    commit; the add itself is a metadata-only commit after a
    short-circuited existing-data validation."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        ConstraintViolation,
        set_check_constraint,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_constraints_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.repartition(4), path)
    set_check_constraint(spark, path, "price_positive", "o_totalprice > 0")
    poisoned = o.filter("o_orderkey <= 100").withColumn(
        "o_totalprice",
        F.when(F.col("o_orderkey") == 1, -F.col("o_totalprice"))
        .otherwise(F.col("o_totalprice") * 2),
    )
    rejected = False
    try:
        versioned_upsert(spark, path, poisoned, ["o_orderkey"])
    except ConstraintViolation:
        rejected = True
    clean = o.filter("o_orderkey <= 100").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    versioned_upsert(spark, path, clean, ["o_orderkey"])
    return (
        versioned_read(spark, path)
        .withColumn("violation_rejected", F.lit(bool(rejected)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_rename",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 100
                THEN o_totalprice * 2 ELSE o_totalprice END AS price,
           TRUE AS metadata_only
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "rename", "evolution", "lakeops"),
)
def q_versioned_rename(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Column rename WITHOUT data rewrite under the driver gate
    (sinks/versioned.py:versioned_rename_column): orders is written,
    ``o_totalprice`` is renamed to ``price`` as a metadata-only
    commit (the manifest's file list is pinned IDENTICAL before and
    after — the ``metadata_only`` flag the oracle pins TRUE), then a
    post-rename upsert speaking the NEW name merges against the
    pre-rename files. The oracle recomputes the serial result
    directly, so the hash proves old and new physical files co-serve
    one logical schema.

    Scale: a rename on a 100 TB table writes one kilobyte manifest;
    readers alias physical->logical in a final projection
    (zero-copy), and footer-stats pruning keys by the stable physical
    name so MERGE economics survive the rename."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        versioned_read,
        versioned_rename_column,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_rename_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    before = [e["path"] for e in _read_manifest(path, 0)["files"]]
    versioned_rename_column(path, "o_totalprice", "price")
    after = [e["path"] for e in _read_manifest(path, 1)["files"]]
    upd = (
        o.filter("o_orderkey <= 100")
        .select("o_orderkey", (F.col("o_totalprice") * 2).alias("price"))
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"])
    return (
        versioned_read(spark, path)
        .withColumn("metadata_only", F.lit(bool(before == after)))
        .orderBy("o_orderkey")
    )


@register(
    "q_merge_rebase",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 100
                THEN o_totalprice * 2 ELSE o_totalprice END AS price,
           TRUE AS rebased
    FROM orders
    UNION ALL
    SELECT o_orderkey + 2000000000 AS o_orderkey,
           o_totalprice AS price,
           TRUE AS rebased
    FROM orders WHERE o_orderkey <= 50
    ORDER BY o_orderkey
    """,
    tags=("versioned", "occ", "rebase", "lakeops"),
)
def q_merge_rebase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only commit rebase under the driver gate
    (sinks/versioned.py:_rebase): a writer pinned to v0 loses
    the CAS race to a key-disjoint interloper append, and resolves it
    by REBASING its already-staged merge onto the new latest — pure
    driver-side manifest arithmetic plus one CAS, no Spark job, no
    data rewrite. The ``rebased`` flag pins the commit's own
    ``rebased_onto``/``n_rebased_over`` markers; content is pinned to
    the SERIAL result (interloper first, then the merge) the oracle
    computes directly.

    Scale: N writers on disjoint key ranges of a 100 TB table each
    pay their own staging once and a kilobyte manifest CAS per lost
    race — never an O(candidates) re-merge."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_append,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_rebase_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.select("o_orderkey", F.col("o_totalprice").alias("price"))
        .repartitionByRange(8, "o_orderkey")
        .sortWithinPartitions("o_orderkey"),
        path,
    )
    # interloper: blind append of provably key-disjoint rows -> v1
    interloper = o.filter("o_orderkey <= 50").select(
        (F.col("o_orderkey") + F.lit(2000000000)).alias("o_orderkey"),
        F.col("o_totalprice").alias("price"),
    )
    versioned_append(spark, path, interloper)
    # our writer, still pinned to v0, loses the CAS and rebases
    upd = o.filter("o_orderkey <= 100").select(
        "o_orderkey", (F.col("o_totalprice") * 2).alias("price")
    )
    v = versioned_upsert(
        spark, path, upd, ["o_orderkey"],
        expected_version=0, rebase_on_conflict=True,
    )
    rebased = (
        snapshot_meta(path, "rebased_onto", version=v) == "1"
        and snapshot_meta(path, "n_rebased_over", version=v) == "1"
    )
    return (
        versioned_read(spark, path)
        .withColumn("rebased", F.lit(bool(rebased)))
        .orderBy("o_orderkey")
    )


@register(
    "q_lake_source_read",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 100
                THEN o_totalprice * 2 ELSE o_totalprice END AS price,
           TRUE AS connector_scan
    FROM orders
    WHERE o_orderkey BETWEEN 200 AND 900
      AND NOT (o_orderkey BETWEEN 300 AND 310)
    ORDER BY o_orderkey
    """,
    tags=("versioned", "datasource", "pushdown", "lakeops"),
)
def q_lake_source_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned table through Spark's OWN connector contract
    (sources/lakesource.py:VersionedTableDataSource): a snapshot that
    has taken a MERGE, a deletion-vector DELETE, and a column RENAME
    is read back with ``spark.read.format("skopje_versioned")`` under
    a range filter — pushFilters prunes files by footer stats (the
    ``connector_scan`` flag pins that fewer partitions than files
    were planned), deletion vectors and the rename apply inside the
    Arrow read, and the oracle recomputes the surviving rows exactly.

    Scale: the connector plans from kilobytes of driver-side manifest
    (schema, splits, pruning — no job), ships one file per task, and
    keeps the data path in Arrow batches end to end."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_rename_column,
        versioned_upsert,
        versioned_write,
    )
    from skopje_spark.sources.lakesource import VersionedTableReader
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    path = tempfile.mkdtemp(prefix="skopje_lakesrc_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions("o_orderkey"),
        path,
    )
    upd = o.filter("o_orderkey <= 100").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"])
    versioned_delete(spark, path, "o_orderkey BETWEEN 300 AND 310")
    versioned_rename_column(path, "o_totalprice", "price")
    # pruning economics, asserted from the reader's own planning
    from pyspark.sql.datasource import GreaterThanOrEqual, LessThanOrEqual

    rd = VersionedTableReader({"path": path})
    total = len(rd.partitions())
    list(rd.pushFilters(
        [GreaterThanOrEqual(("o_orderkey",), 200),
         LessThanOrEqual(("o_orderkey",), 900)]
    ))
    pruned_ok = len(rd.partitions()) < total
    return (
        spark.read.format("skopje_versioned").option("path", path).load()
        .filter("o_orderkey BETWEEN 200 AND 900")
        .withColumn("connector_scan", F.lit(bool(pruned_ok)))
        .orderBy("o_orderkey")
    )


@register(
    "q_lake_source_changes",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice FROM orders WHERE o_orderkey <= 500
    )
    SELECT o_orderkey, o_totalprice AS price,
           'insert' AS _change_type, CAST(0 AS BIGINT) AS _commit_version
    FROM base
    UNION ALL
    SELECT o_orderkey, o_totalprice AS price, 'update_preimage', 1
    FROM base WHERE o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey, o_totalprice * 2 AS price, 'update_postimage', 1
    FROM base WHERE o_orderkey <= 100
    UNION ALL
    SELECT o_orderkey + 3000000 AS o_orderkey, o_totalprice AS price,
           'insert', 1
    FROM base WHERE o_orderkey <= 10
    UNION ALL
    SELECT o_orderkey, o_totalprice AS price, 'delete', 2
    FROM base WHERE o_orderkey BETWEEN 200 AND 210
    ORDER BY _commit_version, _change_type, o_orderkey
    """,
    tags=("versioned", "datasource", "streaming", "cdc", "lakeops"),
)
def q_lake_source_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The change-data-feed STREAMING source under the driver gate
    (sources/lakesource.py:VersionedChangesDataSource): a real
    availableNow structured-streaming run reads a versioned table's
    initial snapshot plus two CDF commits (a clause merge and a
    DV delete) through ``spark.readStream.format(
    "skopje_versioned_changes")`` into parquet, and the collected
    feed — change types, commit versions, pre/postimages — matches
    the oracle's closed-form reconstruction row for row.

    Scale: offsets are commit versions checkpointed by Spark
    (exactly-once across restarts, unit-pinned); each micro-batch
    reads only the recorded cdc pool files — O(changes), the base
    table is never rescanned."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_upsert,
        versioned_write,
    )
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    o = load_table(spark, sf_dir, "orders").select("o_orderkey", "o_totalprice")
    base = o.filter("o_orderkey <= 500").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    path = tempfile.mkdtemp(prefix="skopje_lakecdf_")
    out = tempfile.mkdtemp(prefix="skopje_lakecdf_out_")
    ckpt = tempfile.mkdtemp(prefix="skopje_lakecdf_ck_")
    for p in (path, out, ckpt):
        atexit.register(shutil.rmtree, p, ignore_errors=True)
    versioned_write(base.coalesce(2), path)                             # v0
    upd = base.filter("o_orderkey <= 100").withColumn(
        "price", F.col("price") * 2
    ).unionByName(
        base.filter("o_orderkey <= 10").select(
            (F.col("o_orderkey") + F.lit(3000000)).alias("o_orderkey"),
            "price",
        )
    )
    versioned_upsert(spark, path, upd, ["o_orderkey"], change_feed=True)  # v1
    versioned_delete(
        spark, path, "o_orderkey BETWEEN 200 AND 210", change_feed=True
    )                                                                     # v2
    q = (
        spark.readStream.format("skopje_versioned_changes")
        .option("path", path).load()
        .writeStream.format("parquet").option("path", out)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return spark.read.parquet(out).orderBy(
        "_commit_version", "_change_type", "o_orderkey"
    )


@register(
    "q_lake_source_write",
    oracle="""
    SELECT o_orderkey, o_totalprice AS price
    FROM orders
    UNION ALL
    SELECT o_orderkey + 5000000 AS o_orderkey, o_totalprice AS price
    FROM orders WHERE o_orderkey <= 50
    ORDER BY o_orderkey
    """,
    tags=("versioned", "datasource", "writer", "lakeops"),
)
def q_lake_source_write(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The connector's WRITE path under the driver gate
    (sources/lakesource.py:VersionedTableWriter): ``df.write.format(
    "skopje_versioned")`` creates the table (v0) and appends a second
    batch (v1) through Spark's two-phase writer contract — executor
    tasks stream Arrow batches into uniquely-named pool files, the
    driver commit publishes the manifest with a CAS retry — and the
    read-back matches the oracle's union exactly.

    Scale: each append writes O(batch) data plus a kilobyte manifest;
    a failed job publishes nothing (pool orphans, vacuum-collected);
    racing appends commute through the CAS retry."""
    import atexit
    import os
    import shutil
    import tempfile

    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    path = tempfile.mkdtemp(prefix="skopje_lakew_") + "/t"
    atexit.register(shutil.rmtree, os.path.dirname(path), ignore_errors=True)
    (o.repartitionByRange(8, "o_orderkey")
      .write.format("skopje_versioned").option("path", path)
      .mode("append").save())
    batch2 = o.filter("o_orderkey <= 50").select(
        (F.col("o_orderkey") + F.lit(5000000)).alias("o_orderkey"), "price"
    )
    batch2.write.format("skopje_versioned").option("path", path).mode(
        "append"
    ).save()
    return (
        spark.read.format("skopje_versioned").option("path", path).load()
        .orderBy("o_orderkey")
    )


@register(
    "q_cdf_curation_loop",
    oracle="""
    SELECT doc_id,
           CASE WHEN doc_id % 7 = 0 THEN text || ' (rev2)' ELSE text END
             AS text,
           TRUE AS incremental
    FROM documents
    WHERE length(CASE WHEN doc_id % 7 = 0 THEN text || ' (rev2)'
                      ELSE text END) >= 100
    ORDER BY doc_id
    """,
    tags=("versioned", "datasource", "streaming", "cdc", "curation", "spec"),
)
def q_cdf_curation_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lake-to-lake incremental curation, fully declarative
    (spec.py + sources/lakesource.py + sinks/versioned.py): a RAW
    versioned table's change feed streams through a SQL curation
    filter into a CURATED versioned table via the exactly-once
    upsert sink — then a second raw commit (revisions to every
    doc_id%7 document) is drained INCREMENTALLY from the same
    checkpoint, updating only those keys. The ``incremental`` flag
    pins that the second drain's curated commit was a partial
    rewrite fed by O(changes) cdc files, never a rescan of the raw
    table; the oracle states the final curated corpus closed-form,
    so any defect in feed serving, offset resume, filtering, or the
    merge hash-fails.

    Scale: this is the shape of a continuously-curated 100 TB corpus
    — each crawl commit flows through as its own micro-batch; the
    raw table is read O(changes) per batch and the curated table
    written O(matched files)."""
    import atexit
    import os
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )
    from skopje_spark.spec import pipeline_from_spec

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    raw = tempfile.mkdtemp(prefix="skopje_cdfraw_")
    curated = tempfile.mkdtemp(prefix="skopje_cdfcur_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="skopje_cdfck_")
    for p in (raw, os.path.dirname(curated), ckpt):
        atexit.register(shutil.rmtree, p, ignore_errors=True)
    versioned_write(d.repartition(4), raw)                               # v0
    spec = {
        "name": "cdf-curation",
        "nodes": [
            {"name": "feed", "kind": "source",
             "format": "stream_versioned_changes", "path": raw},
            {"name": "kept", "kind": "transform", "deps": ["feed"],
             "sql": "SELECT doc_id, text FROM feed "
                    "WHERE _change_type IN ('insert', 'update_postimage') "
                    "AND length(text) >= 100"},
            {"name": "curate", "kind": "sink", "format": "stream_versioned",
             "dep": "kept", "path": curated, "keys": ["doc_id"],
             "checkpoint": ckpt},
        ],
    }
    res = pipeline_from_spec(spec).run(spark)
    res["curate"].awaitTermination()
    # second raw commit: revise every doc_id%7 document, CDF-recorded
    rev = d.filter("doc_id % 7 = 0").withColumn(
        "text", F.concat(F.col("text"), F.lit(" (rev2)"))
    )
    versioned_upsert(spark, raw, rev, ["doc_id"], change_feed=True)      # v1
    res2 = pipeline_from_spec(spec).run(spark)
    res2["curate"].awaitTermination()
    # the incremental drain's curated commit must be a PARTIAL rewrite
    from skopje_spark.sinks.versioned import latest_version

    cur_v = latest_version(curated)
    incremental = (
        cur_v >= 1
        and snapshot_meta(curated, "op", version=cur_v) == "merge"
        and int(snapshot_meta(curated, "n_files_carried", version=cur_v)) >= 0
    )
    return (
        versioned_read(spark, curated)
        .withColumn("incremental", F.lit(bool(incremental)))
        .orderBy("doc_id")
    )


@register(
    "q_lake_stream_sink",
    oracle="""
    SELECT o_orderkey, o_totalprice AS price
    FROM orders WHERE o_orderkey <= 1000
    ORDER BY o_orderkey
    """,
    tags=("versioned", "datasource", "streaming", "writer", "lakeops"),
)
def q_lake_stream_sink(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The versioned store as a NATIVE streaming sink under the driver
    gate (sources/lakesource.py:VersionedStreamWriter): a file stream
    of order rows drains through ``writeStream.format(
    "skopje_versioned")`` — every micro-batch an O(batch) append
    commit gated by the per-stream batch ledger (a replayed batchId
    drops its files instead of double-appending; ledger carried as a
    table property across ALL commit kinds) — and the table reads
    back exactly the streamed corpus.

    Scale: continuous ingest writes O(batch) data + a kilobyte
    manifest per trigger; exactly-once holds across crash/replay
    because the ledger update and the data commit are one atomic
    pointer swap."""
    import atexit
    import os
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import versioned_read
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    o = load_table(spark, sf_dir, "orders").filter("o_orderkey <= 1000").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    src = tempfile.mkdtemp(prefix="skopje_lss_src_")
    table = tempfile.mkdtemp(prefix="skopje_lss_") + "/t"
    ckpt = tempfile.mkdtemp(prefix="skopje_lss_ck_")
    for p in (src, os.path.dirname(table), ckpt):
        atexit.register(shutil.rmtree, p, ignore_errors=True)
    o.coalesce(2).write.mode("overwrite").json(src)
    q = (
        spark.readStream.schema("o_orderkey long, price double")
        .option("maxFilesPerTrigger", "1").json(src)
        .writeStream.format("skopje_versioned").option("path", table)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True).start()
    )
    q.awaitTermination(300)
    return versioned_read(spark, table).orderBy("o_orderkey")


@register(
    "q_versioned_segment_diff",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 100
                THEN o_totalprice * 2 ELSE o_totalprice END AS price,
           TRUE AS segment_diff
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "manifest", "segments", "lakeops"),
)
def q_versioned_segment_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level manifest economics under the driver gate
    (sinks/versioned.py:_write_segments/_split_segments): a
    key-clustered orders table is committed with small manifest
    segments, then a narrow MERGE must carry most segments BY
    REFERENCE — the commit's own ``n_segments_opened`` <
    ``n_segments_total`` markers and the verbatim reuse of base
    segment files are folded into the ``segment_diff`` flag the
    oracle pins TRUE; content is pinned to the full-merge result the
    oracle computes directly.

    Scale: this is what bounds COMMIT METADATA cost at 100 TB — a
    1-bucket merge on an ~800k-file table parses and rewrites a
    couple of kilobyte segments plus a ~400-ref version manifest,
    never the full entry list."""
    import atexit
    import json as _json
    import os
    import shutil
    import tempfile

    import skopje_spark.sinks.versioned as V
    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", F.col("o_totalprice").alias("price")
    )
    path = tempfile.mkdtemp(prefix="skopje_segdiff_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    prior = V._SEG_TARGET
    V._SEG_TARGET = 4  # small segments so the fixture spans many
    try:
        versioned_write(
            o.repartitionByRange(64, "o_orderkey").sortWithinPartitions(
                "o_orderkey"
            ),
            path,
        )
        upd = o.filter("o_orderkey <= 100").withColumn(
            "price", F.col("price") * 2
        )
        versioned_upsert(spark, path, upd, ["o_orderkey"])
    finally:
        V._SEG_TARGET = prior
    total = int(snapshot_meta(path, "n_segments_total", version=1))
    opened = int(snapshot_meta(path, "n_segments_opened", version=1))

    def seg_refs(v):
        with open(os.path.join(path, f"v={v}", "_MANIFEST.json")) as f:
            return {r["path"] for r in _json.load(f)["segments"]}

    reused = seg_refs(0) & seg_refs(1)
    flag = total >= 6 and opened < total and len(reused) >= total - opened
    return (
        versioned_read(spark, path)
        .withColumn("segment_diff", F.lit(bool(flag)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_analyze",
    oracle="""
    SELECT 'o_custkey' AS col_name,
           COUNT(DISTINCT o_custkey) AS exact_ndv,
           CAST(0 AS BIGINT) AS n_nulls, TRUE AS within_band
    FROM orders
    UNION ALL
    SELECT 'o_orderkey', COUNT(DISTINCT o_orderkey), 0, TRUE FROM orders
    UNION ALL
    SELECT 'o_orderpriority', COUNT(DISTINCT o_orderpriority), 0, TRUE
    FROM orders
    ORDER BY col_name
    """,
    tags=("versioned", "analyze", "statistics", "lakeops"),
)
def q_versioned_analyze(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANALYZE TABLE statistics under the driver gate
    (sinks/versioned.py:versioned_analyze/table_stats): one pass
    records per-column NDV (HLL++) and null counts as a carried
    table property in a metadata-only commit; the query emits the
    EXACT distinct counts (which the oracle recomputes) plus a
    ``within_band`` flag pinning each recorded estimate inside the
    HLL error band — the verdict-column pattern every sketch query
    in this catalog uses.

    Scale: the one ANALYZE scan amortizes into a catalog fact every
    later broadcast/salt/shuffle decision reads for free (driver-side
    marker, no job); the commit itself ships zero data and the change
    feed skips it."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        table_stats,
        versioned_analyze,
        versioned_write,
    )

    cols = ["o_custkey", "o_orderkey", "o_orderpriority"]
    o = load_table(spark, sf_dir, "orders").select(*cols)
    path = tempfile.mkdtemp(prefix="skopje_analyze_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.repartition(4), path)
    versioned_analyze(spark, path, cols, rsd=0.02)
    st = table_stats(path)
    exact = o.agg(
        *[F.countDistinct(c).alias(c) for c in cols]
    ).first()
    rows = []
    for c in cols:
        est = st["columns"][c]["ndv"]
        ex = int(exact[c])
        rows.append(
            (
                c,
                ex,
                int(st["columns"][c]["n_nulls"]),
                bool(abs(est - ex) <= max(2, 0.05 * ex)),
            )
        )
    return spark.createDataFrame(
        rows, "col_name string, exact_ndv long, n_nulls long, within_band boolean"
    ).orderBy("col_name")


@register(
    "q_versioned_partitioned",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
               AS sum_price,
           (SELECT COUNT(DISTINCT o_orderpriority) FROM orders)
               AS n_partitions,
           TRUE AS exact_prune
    FROM orders
    WHERE o_orderpriority = '1-URGENT'
    GROUP BY o_orderpriority
    """,
    tags=("versioned", "partitioning", "pruning", "lakeops"),
)
def q_versioned_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-class partition columns under the driver gate
    (sinks/versioned.py:versioned_write(partition_by=)/
    versioned_partitions/_stage_data_files): orders is committed
    partitioned by ``o_orderpriority`` (the date/source/language
    shape every real lake table routes by — one partition value per
    file, per-entry partition values, exact min==max injected
    stats), then a one-partition read must elect EXACTLY that
    partition's files — proven by comparing the pruned candidate set
    against the manifest's own partition listing, folded into the
    ``exact_prune`` flag the oracle pins TRUE. The aggregate content
    and the SHOW-PARTITIONS count are pinned against the oracle
    computing both directly.

    Scale: partition pruning is EXACT, not a footer heuristic — a
    one-day read of a date-partitioned 100 TB table opens that day's
    files, decided from kilobytes of driver manifest; cross-partition
    MERGEs rewrite only matched partitions (unit-pinned)."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        versioned_partitions,
        versioned_pruned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="skopje_partby_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o, path, partition_by=["o_orderpriority"])
    parts = versioned_partitions(path)
    target = "1-URGENT"
    part_files = next(
        p["n_files"] for p in parts if p["o_orderpriority"] == target
    )
    cand, _ = _interval_split(
        _read_manifest(path, 0)["files"], "o_orderpriority", target, target
    )
    exact = len(cand) == part_files  # elected exactly the partition
    return (
        versioned_pruned_read(spark, path, "o_orderpriority", target, target)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_orders"),
            F.sum(F.col("o_totalprice").cast("decimal(18,2)"))
            .cast("double")
            .alias("sum_price"),
        )
        .withColumn("n_partitions", F.lit(len(parts)).cast("long"))
        .withColumn("exact_prune", F.lit(bool(exact)))
    )


@register(
    "q_versioned_drop_column",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey <= 50 THEN o_totalprice * 2 END
               AS price_readd,
           o_totalprice AS price_v0,
           TRUE AS drop_metadata_only
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "schema-evolution", "drop-column", "lakeops"),
)
def q_versioned_drop_column(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DROP COLUMN + re-add under the driver gate
    (sinks/versioned.py:versioned_drop_column): orders is committed,
    ``o_totalprice`` is DROPPED (metadata-only — the commit writes
    zero pool files, folded into the ``drop_metadata_only`` flag the
    oracle pins TRUE), then a column of the SAME NAME is re-added via
    additive evolution carrying doubled prices for keys <= 50. The
    oracle pins the whole contract closed-form: re-added values only
    where the evolution wrote them (``price_readd`` NULL elsewhere —
    the dropped bytes NEVER resurrect through the reused name,
    because the re-add got a fresh physical column), while TIME
    TRAVEL to the pre-drop version still serves every original price
    (``price_v0``).

    Scale: drop is a kilobyte commit on a 100 TB table — parquet is
    columnar, so the dead column costs zero IO until a compaction
    sheds its bytes; the retired-physical ledger is what makes the
    reused name safe."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _DATA_DIR,
        versioned_drop_column,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="skopje_dropcol_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o, path)                                        # v0
    pool = _os.path.join(path, _DATA_DIR)
    before = set(_os.listdir(pool))
    versioned_drop_column(path, "o_totalprice")                     # v1
    metadata_only = set(_os.listdir(pool)) == before
    readd = o.filter("o_orderkey <= 50").withColumn(
        "o_totalprice", F.col("o_totalprice") * 2
    )
    versioned_upsert(spark, path, readd, ["o_orderkey"],
                     evolve_schema=True)                            # v2
    cur = versioned_read(spark, path).select(
        "o_orderkey", F.col("o_totalprice").alias("price_readd")
    )
    v0 = versioned_read(spark, path, version=0).select(
        "o_orderkey", F.col("o_totalprice").alias("price_v0")
    )
    return (
        cur.join(v0, "o_orderkey")
        .withColumn("drop_metadata_only", F.lit(bool(metadata_only)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_read_where",
    oracle="""
    SELECT o_orderkey, o_orderpriority,
           CAST(o_totalprice AS DOUBLE) AS price
    FROM orders
    WHERE o_orderpriority = '2-HIGH'
      AND o_orderkey BETWEEN 1000 AND 5000
    ORDER BY o_orderkey
    """,
    tags=("versioned", "partitioning", "pruning", "lakeops"),
)
def q_versioned_read_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column pruned read under the driver gate
    (sinks/versioned.py:versioned_read_where): orders partitioned by
    o_orderpriority takes the canonical lake lookup — a partition
    POINT bound ANDed with a key INTERVAL bound — and the result is
    pinned row-identical to the oracle filtering directly. The
    partition bound prunes exactly (injected min==max stats); the key
    bound prunes by footer stats where the files allow and re-filters
    exactly regardless.

    Scale: this is the one-day-one-source read every partitioned
    100 TB table serves constantly — file election from kilobytes of
    driver manifest, never a table scan."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_read_where,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").cast("double").alias("price"),
    )
    path = tempfile.mkdtemp(prefix="skopje_rwhere_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o, path, partition_by=["o_orderpriority"], files_per_partition=4
    )
    return versioned_read_where(
        spark, path,
        {"o_orderpriority": "2-HIGH", "o_orderkey": (1000, 5000)},
    ).orderBy("o_orderkey")


@register(
    "q_versioned_partition_drop",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           TRUE AS metadata_only
    FROM orders
    WHERE o_orderpriority <> '3-MEDIUM'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("versioned", "partitioning", "delete", "lakeops"),
)
def q_versioned_partition_drop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only partition DROP under the driver gate
    (sinks/versioned.py:versioned_delete with a bounds dict): orders
    partitioned by o_orderpriority deletes one whole partition — the
    GDPR-day / dead-source purge shape. The commit must touch ZERO
    data bytes: no files scanned, no deletion vectors staged, the
    covered partition's entries simply leave the manifest
    (``metadata_only`` folds the commit's own n_files_scanned == 0
    and n_dv_files == 0 markers; the oracle pins it TRUE and pins the
    surviving content).

    Scale: dropping one day from a day-partitioned 100 TB table is a
    kilobyte commit — Hive's DROP PARTITION economics with snapshot
    isolation and time travel kept (v0 still serves the partition)."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_delete,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="skopje_pdrop_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o, path, partition_by=["o_orderpriority"])      # v0
    v = versioned_delete(spark, path, {"o_orderpriority": "3-MEDIUM"})
    metadata_only = (
        snapshot_meta(path, "n_files_scanned", version=v) == "0"
        and snapshot_meta(path, "n_dv_files", version=v) == "0"
        and int(snapshot_meta(path, "n_files_dropped", version=v)) >= 1
    )
    return (
        versioned_read(spark, path)
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("metadata_only", F.lit(bool(metadata_only)))
        .orderBy("o_orderpriority")
    )


@register(
    "q_versioned_replace_where",
    oracle="""
    SELECT o_orderkey,
           o_orderpriority,
           CASE WHEN o_orderpriority = '1-URGENT'
                THEN o_totalprice * 2 ELSE o_totalprice END AS price,
           TRUE AS partition_economics
    FROM orders
    ORDER BY o_orderkey
    """,
    tags=("versioned", "partitioning", "replace-where", "lakeops"),
)
def q_versioned_replace_where(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Atomic partition backfill under the driver gate
    (sinks/versioned.py:versioned_replace_where — Delta's
    replaceWhere): orders partitioned by o_orderpriority rebuilds the
    '1-URGENT' partition with doubled prices in ONE commit. The
    covered partition's files must leave the manifest WITHOUT being
    opened and no boundary file may need a rewrite
    (``partition_economics`` folds n_files_dropped >= 1 ∧
    n_files_rewritten == 0); content is pinned to the oracle
    computing the rebuild directly. Price doubling is exact in
    binary, so the hash is engine-exact.

    Scale: the idempotent daily-backfill op — "rebuild day D" drops
    one partition and appends its replacement, zero old bytes read,
    snapshot-isolated for every concurrent reader."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        snapshot_meta,
        versioned_read,
        versioned_replace_where,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").alias("price"),
    )
    path = tempfile.mkdtemp(prefix="skopje_repw_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o, path, partition_by=["o_orderpriority"])      # v0
    rebuilt = o.filter("o_orderpriority = '1-URGENT'").withColumn(
        "price", F.col("price") * 2
    )
    v = versioned_replace_where(
        spark, path, {"o_orderpriority": "1-URGENT"}, rebuilt
    )
    economics = (
        int(snapshot_meta(path, "n_files_dropped", version=v)) >= 1
        and snapshot_meta(path, "n_files_rewritten", version=v) == "0"
    )
    return (
        versioned_read(spark, path)
        .withColumn("partition_economics", F.lit(bool(economics)))
        .orderBy("o_orderkey")
    )


@register(
    "q_versioned_hidden_partition",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           event_type,
           COUNT(*) AS n_events,
           TRUE AS hidden_prune
    FROM events
    WHERE ts >= TIMESTAMP '2024-01-08 00:00:00'
      AND ts <= TIMESTAMP '2024-01-09 23:59:59'
    GROUP BY 1, 2
    ORDER BY 1, 2
    """,
    tags=("versioned", "partitioning", "hidden-partition", "lakeops"),
)
def q_versioned_hidden_partition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Iceberg-style HIDDEN partitioning under the driver gate
    (sinks/versioned.py:_parse_partition_spec/_resolve_bounds):
    events is committed with ``partition_by=["day=date(ts)"]`` — the
    day is DERIVED metadata, never a schema column — and a
    raw-timestamp range read must still skip day partitions: the
    monotone date() transform turns the ts bound into a prune-only
    day interval, files outside it are never opened, and the exact
    ts predicate re-filters the survivors. ``hidden_prune`` folds
    the proof that the derived-bound election itself is exact: the
    candidate set _interval_split elects from the derived day bound
    equals the files whose day lies inside the interval, and is
    strictly smaller than the table — the flag flips FALSE if
    derived-bound pruning ever breaks; content is pinned to the
    oracle filtering raw timestamps directly.

    Scale: this is why real lakes partition by day(ts) — users query
    the timestamp they have, the layout prunes on the day they never
    see, and timestamp footer stats (which parquet/JSON can't carry
    portably) are never needed."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        _resolve_bounds,
        _schema_mapping,
        _stat_encode,
        table_partitioning,
        versioned_read_where,
        versioned_write,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    path = tempfile.mkdtemp(prefix="skopje_hidden_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(e, path, partition_by=["day=date(ts)"])
    import datetime as dt

    lo = dt.datetime(2024, 1, 8, 0, 0, 0)
    hi = dt.datetime(2024, 1, 9, 23, 59, 59)
    ent = _read_manifest(path, 0)["files"]
    inside = {
        x["path"] for x in ent
        if "2024-01-08" <= x["partition"]["day"] <= "2024-01-09"
    }
    # the actual derived-bound election: resolve the raw-ts bound into
    # its prune-only day unit and run the same _interval_split the
    # read path runs — elected files must be EXACTLY those inside the
    # derived interval, and strictly fewer than the table holds
    derived = [
        u for u in _resolve_bounds(
            {"ts": (lo, hi)}, e.schema, _schema_mapping(e.schema),
            table_partitioning(path),
        )
        if u["key"] == "day"
    ]
    cand, _ = _interval_split(
        ent, "day",
        _stat_encode(derived[0]["lo"]), _stat_encode(derived[0]["hi"]),
    ) if len(derived) == 1 else ([], [])
    pruned_ok = (
        {x["path"] for x in cand} == inside and 0 < len(inside) < len(ent)
    )
    return (
        versioned_read_where(spark, path, {"ts": (lo, hi)})
        .groupBy(
            F.to_date("ts").cast("string").alias("day"), "event_type"
        )
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("hidden_prune", F.lit(bool(pruned_ok)))
        .orderBy("day", "event_type")
    )


@register(
    "q_versioned_spec_evolution",
    oracle="""
    SELECT event_type,
           COUNT(*) AS n_events,
           TRUE AS spec_evolution_ok
    FROM events
    WHERE CAST(ts AS DATE) = DATE '2024-01-08'
    GROUP BY event_type
    ORDER BY event_type
    """,
    tags=("versioned", "partitioning", "spec-evolution", "lakeops"),
)
def q_versioned_spec_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only PARTITION SPEC EVOLUTION under the driver gate
    (sinks/versioned.py:versioned_set_partition_spec — Iceberg's
    spec-evolution model): half of events is committed partitioned by
    ``event_type``, the spec is EVOLVED to ``day=date(ts)`` as a
    kilobyte commit, the other half is appended under the new layout,
    and a one-day read across BOTH epochs must equal the oracle
    filtering raw timestamps. ``spec_evolution_ok`` folds the proofs:
    the evolution touched no data file (old entries carried
    verbatim), appended files follow the new spec with one day value
    per file, and the day bound's election is EXACT on the new epoch
    while old-epoch files stay conservative scan candidates (their
    exact residual re-filters).

    Scale: "switch a 100 TB table from by-type to by-day" is one
    metadata commit, never a rewrite — old files keep pruning by
    their recorded layout, new files by the new one, per file from
    stats the manifest already carries."""
    import atexit
    import datetime as dt
    import json
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        versioned_append,
        versioned_read_where,
        versioned_set_partition_spec,
        versioned_write,
    )

    e = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", "event_type"
    )
    path = tempfile.mkdtemp(prefix="skopje_specevo_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    half_a = e.filter(F.col("event_id") % 2 == 0)
    half_b = e.filter(F.col("event_id") % 2 == 1)
    versioned_write(half_a, path, partition_by=["event_type"])  # v0
    old_entries = {
        x["path"]: json.dumps(x, sort_keys=True)
        for x in _read_manifest(path, 0)["files"]
    }
    v1 = versioned_set_partition_spec(path, ["day=date(ts)"])
    after_evolve = {
        x["path"]: json.dumps(x, sort_keys=True)
        for x in _read_manifest(path, v1)["files"]
    }
    metadata_only = after_evolve == old_entries
    v2 = versioned_append(spark, path, half_b)
    ent = _read_manifest(path, v2)["files"]
    new_ent = [x for x in ent if x["path"] not in old_entries]
    new_layout_ok = bool(new_ent) and all(
        set(x.get("partition") or {}) == {"day"}
        and x["stats"]["day"]["min"] == x["stats"]["day"]["max"]
        for x in new_ent
    )
    day = dt.date(2024, 1, 8)
    # day-bound election: EXACT on the new epoch (only that day's new
    # files), conservative on the old (no day stats -> candidates)
    cand, _ = _interval_split(ent, "day", "2024-01-08", "2024-01-08")
    cand_paths = {x["path"] for x in cand}
    exact_new = cand_paths == set(old_entries) | {
        x["path"] for x in new_ent if x["partition"]["day"] == "2024-01-08"
    }
    ok = metadata_only and new_layout_ok and exact_new
    return (
        versioned_read_where(spark, path, {"day": day})
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .withColumn("spec_evolution_ok", F.lit(bool(ok)))
        .orderBy("event_type")
    )


@register(
    "q_versioned_bucketed",
    oracle="""
    WITH k AS (SELECT o_orderkey FROM orders ORDER BY o_orderkey LIMIT 3)
    SELECT o.o_orderkey,
           CAST(CASE WHEN o.o_orderkey IN (SELECT o_orderkey FROM k)
                     THEN CAST(o.o_totalprice AS DECIMAL(18,2)) * 2
                     ELSE CAST(o.o_totalprice AS DECIMAL(18,2)) END
                AS DOUBLE) AS price,
           TRUE AS bucket_prune
    FROM orders o
    ORDER BY o.o_orderkey
    """,
    tags=("versioned", "partitioning", "bucket", "merge", "lakeops"),
)
def q_versioned_bucketed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """bucket(N, key) hidden partitioning under the driver gate
    (sinks/versioned.py:_bucket_expr/_bucket_prune_candidates —
    Iceberg's bucket transform, CRC32-canonical so the bucket is
    computable on both the Spark and driver side): orders is
    committed bucketed 16 ways on ``o_orderkey``, a 3-key MERGE
    doubles those orders' prices, and the content must equal the
    oracle applying the same update relationally. ``bucket_prune``
    folds the storage-partitioned-merge proof: the MERGE rewrote
    EXACTLY the update keys' bucket files (≤3 of 16) — interval
    pruning can never close a file for hash-scattered keys, only the
    bucket set can.

    Scale: an m-key MERGE on a bucket(N)-partitioned 100 TB table
    rewrites at most m buckets at any table size, decided by one
    ≤N-row distinct over the update keys — the shuffle-free merge
    economics bucketed layouts exist for."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _bucket_of,
        _read_manifest,
        snapshot_meta,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="skopje_bucket_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o, path, partition_by=["b=bucket(16,o_orderkey)"])
    n_files = len(_read_manifest(path, 0)["files"])
    keys = [
        r["o_orderkey"]
        for r in o.orderBy("o_orderkey").limit(3).collect()
    ]
    upd = o.filter(F.col("o_orderkey").isin(keys)).select(
        "o_orderkey",
        (F.col("o_totalprice").cast("decimal(18,2)") * 2)
        .cast(dict(o.dtypes)["o_totalprice"])
        .alias("o_totalprice"),
    )
    v = versioned_upsert(spark, path, upd, ["o_orderkey"])
    rewrote = int(snapshot_meta(path, "n_files_rewritten", version=v))
    expected_buckets = len({_bucket_of(k, 16) for k in keys})
    prune_ok = n_files == 16 and rewrote == expected_buckets <= 3
    return (
        versioned_read(spark, path)
        .select(
            "o_orderkey",
            F.col("o_totalprice")
            .cast("decimal(18,2)")
            .cast("double")
            .alias("price"),
        )
        .withColumn("bucket_prune", F.lit(bool(prune_ok)))
        .orderBy("o_orderkey")
    )


@register(
    "q_lake_write_partitioned",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           TRUE AS fanout_layout_ok
    FROM (SELECT o_orderkey, o_orderpriority FROM orders
          UNION ALL
          SELECT o_orderkey, o_orderpriority FROM orders
          WHERE o_orderkey <= 100) u
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("versioned", "datasource", "writer", "partitioning", "lakeops"),
)
def q_lake_write_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partitioned writes THROUGH the connector under the driver gate
    (sources/lakesource.py:VersionedTableWriter — Iceberg's fanout
    writer): ``df.write.format("skopje_versioned").option(
    "partitionBy", "o_orderpriority")`` creates the table with the
    layout, a second connector append lands through the same fanout
    path (each task splits its Arrow batches by partition tuple, one
    pool file per tuple — no layout shuffle needed), and the content
    matches the oracle's union. ``fanout_layout_ok`` folds the
    layout proofs: every entry carries its partition tuple with
    EXACT min==max injected stats, and a one-partition connector
    scan plans exactly that partition's files.

    Scale: the connector writer now targets the very tables the
    engine recommends — partitioned appends from any Spark writer
    keep the one-value-per-file invariant that makes partition
    pruning exact, with per-task fanout instead of a shuffle."""
    import atexit
    import os
    import shutil
    import tempfile

    from pyspark.sql.datasource import EqualTo

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        latest_version,
    )
    from skopje_spark.sources.lakesource import VersionedTableReader
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="skopje_lakewp_") + "/t"
    atexit.register(shutil.rmtree, os.path.dirname(path), ignore_errors=True)
    (o.repartition(4)
      .write.format("skopje_versioned").option("path", path)
      .option("partitionBy", "o_orderpriority")
      .mode("append").save())
    (o.filter("o_orderkey <= 100")
      .write.format("skopje_versioned").option("path", path)
      .mode("append").save())
    ent = _read_manifest(path, latest_version(path))["files"]
    layout_ok = bool(ent) and all(
        set(e.get("partition") or {}) == {"o_orderpriority"}
        and e["stats"]["o_orderpriority"]["min"]
        == e["stats"]["o_orderpriority"]["max"]
        == e["partition"]["o_orderpriority"]
        for e in ent
    )
    target = "1-URGENT"
    rd = VersionedTableReader({"path": path})
    list(rd.pushFilters([EqualTo(("o_orderpriority",), target)]))
    planned = {p.rel_path for p in rd.partitions()}
    expect = {
        e["path"] for e in ent
        if e["partition"]["o_orderpriority"] == target
    }
    ok = layout_ok and planned == expect and 0 < len(expect) < len(ent)
    return (
        spark.read.format("skopje_versioned").option("path", path).load()
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("fanout_layout_ok", F.lit(bool(ok)))
        .orderBy("o_orderpriority")
    )


@register(
    "q_versioned_truncate_partition",
    oracle="""
    SELECT o_orderpriority,
           COUNT(*) AS n_orders,
           TRUE AS truncate_prune
    FROM orders
    WHERE o_orderpriority >= '1' AND o_orderpriority <= '2~'
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("versioned", "partitioning", "truncate", "lakeops"),
)
def q_versioned_truncate_partition(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """truncate(W, source) hidden partitioning under the driver gate
    (sinks/versioned.py:_truncate_expr — Iceberg's truncate
    transform): orders is committed partitioned by the FIRST
    CHARACTER of ``o_orderpriority`` ('1-URGENT' → '1'), and a raw
    range bound on the source column must prune through the derived
    prefix interval — truncate is monotone, so
    ``src ∈ [lo, hi] ⇒ prefix ∈ [trunc(lo), trunc(hi)]`` — while the
    exact residual re-filters. ``truncate_prune`` folds the election
    proof: the derived bound elects exactly the two covered prefix
    partitions of five.

    Scale: truncate is the workhorse for high-cardinality string
    routing (URL prefixes, id ranges) where identity partitioning
    would explode the partition count — ranges still prune because
    the transform preserves order."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _interval_split,
        _read_manifest,
        versioned_read_where,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="skopje_trunc_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o, path, partition_by=["pri=truncate(1,o_orderpriority)"]
    )
    ent = _read_manifest(path, 0)["files"]
    cand, _ = _interval_split(ent, "pri", "1", "2")
    expect = {
        e["path"] for e in ent if e["partition"]["pri"] in ("1", "2")
    }
    prune_ok = (
        {e["path"] for e in cand} == expect and 0 < len(expect) < len(ent)
    )
    return (
        versioned_read_where(
            spark, path, {"o_orderpriority": ("1", "2~")}
        )
        .groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("n_orders"))
        .withColumn("truncate_prune", F.lit(bool(prune_ok)))
        .orderBy("o_orderpriority")
    )


@register(
    "q_versioned_value_skipping",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS value_skip
    FROM documents
    WHERE lang = 'de'
    GROUP BY lang
    """,
    tags=("versioned", "data-skipping", "value-index", "lakeops"),
)
def q_versioned_value_skipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file EXACT value-set skipping under the driver gate
    (sinks/versioned.py:versioned_value_index — parquet dictionary
    skipping elevated to the manifest, Delta's data-skipping-index
    shape): documents is committed clustered loosely by language (a
    file can span 2+ languages, so footer min/max intervals CANNOT
    isolate one language), the value index records each file's exact
    language set in a guarded metadata commit, and a ``lang = 'de'``
    read must open only files that actually CONTAIN a German row.
    ``value_skip`` folds the election proof: the pruned candidate set
    equals exactly the files whose recorded set contains 'de', and is
    strictly smaller than the table. Content is pinned to the oracle
    filtering directly.

    Scale: THE routing predicate of a curation pipeline (language,
    source, license) usually isn't the partition column; the value
    index buys partition-grade point-lookup pruning for those
    columns at the cost of one distinct-pairs scan plus a manifest
    rewrite — no data movement, no re-layout."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        _value_set_disjoint,
        versioned_read_where,
        versioned_value_index,
        versioned_write,
    )

    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="skopje_validx_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    # loose language clustering: ~2 languages per file, so min/max
    # intervals span neighbors and only the exact sets can isolate one
    versioned_write(
        d.repartitionByRange(3, "lang", "doc_id")
        .sortWithinPartitions("lang", "doc_id"),
        path,
    )
    v = versioned_value_index(spark, path, ["lang"])
    ent = _read_manifest(path, v)["files"]
    indexed = [e for e in ent if "vals" in (e["stats"].get("lang") or {})]
    containing = {
        e["path"] for e in ent
        if "de" in (e["stats"].get("lang") or {}).get("vals", ())
    }
    elected = {
        e["path"] for e in ent
        if not _value_set_disjoint(e["stats"].get("lang"), {"de"})
    }
    ok = (
        len(indexed) == len(ent)
        and elected == containing
        and 0 < len(containing) < len(ent)
    )
    return (
        versioned_read_where(spark, path, {"lang": "de"})
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .withColumn("value_skip", F.lit(bool(ok)))
    )


@register(
    "q_versioned_nested",
    oracle="""
    WITH joined AS (
      SELECT d.doc_id, e.embedding, d.lang, d.source, d.n_chars
      FROM documents d JOIN embeddings e ON d.doc_id = e.vec_id
    ), merged AS (
      SELECT doc_id,
             CASE WHEN doc_id < 40
                  THEN list_transform(CAST(embedding AS DOUBLE[]), x -> x * 2)
                  ELSE CAST(embedding AS DOUBLE[]) END      AS emb,
             lang,
             CASE WHEN doc_id < 40 THEN 'merged' ELSE source END AS src,
             n_chars
      FROM joined
    )
    SELECT doc_id,
           len(emb) AS dim,
           (CASE WHEN (SQRT(list_sum(list_transform(emb, x -> x * x)))) < 0
                 THEN -(FLOOR((-(SQRT(list_sum(list_transform(emb, x -> x * x))))) * 10000.0 + 0.5) / 10000.0)
                 ELSE FLOOR((SQRT(list_sum(list_transform(emb, x -> x * x)))) * 10000.0 + 0.5) / 10000.0 END) AS l2_norm,
           lang     AS meta_lang,
           src      AS meta_source,
           n_chars  AS meta_chars,
           TRUE     AS paths_agree
    FROM merged
    WHERE doc_id % 7 <> 3
    ORDER BY doc_id
    """,
    tags=("versioned", "nested", "lakeops", "connector"),
)
def q_versioned_nested(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nested-type columns first-class through the versioned store
    AND the Arrow connector: an ``array<float>`` embedding column and
    a struct metadata column survive write → MERGE (both the array
    elements and a struct field rewritten for the matched keys) →
    DV-delete → read, and the native read and the
    ``spark.read.format("skopje_versioned")`` Arrow path return
    row-identical frames (pinned in-query as ``paths_agree``; the
    emitted rows come from the CONNECTOR read). The oracle recomputes
    the whole lifecycle relationally from the raw tables and flattens
    the nested values (per-doc L2 norm, struct fields) — value-level
    proof that no lake tier corrupted, reordered, or NULL-filled a
    nested payload.

    Scale: nested columns carry no footer stats (conservative
    candidates by design — versioned.py:_file_entry), so pruning and
    MERGE candidacy ride the top-level key exactly as for flat
    tables; the Arrow fanout/read path streams the nested batches
    without row materialization."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_read,
        versioned_upsert,
        versioned_write,
    )
    from skopje_spark.sources.pysource import register_all

    register_all(spark)
    d = load_table(spark, sf_dir, "documents")
    e = load_table(spark, sf_dir, "embeddings")
    base = (
        d.join(e, d["doc_id"] == e["vec_id"])
        .select(
            "doc_id",
            "embedding",
            F.struct("lang", "source", "n_chars").alias("meta"),
        )
    )
    path = tempfile.mkdtemp(prefix="skopje_nested_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        base.repartitionByRange(4, "doc_id").sortWithinPartitions("doc_id"),
        path,
    )
    # MERGE: for the matched keys rewrite BOTH nested payloads — the
    # array elements (doubled) and one struct field (source='merged')
    upd = base.filter("doc_id < 40").select(
        "doc_id",
        F.transform("embedding", lambda x: x * F.lit(2.0)).alias(
            "embedding"
        ),
        F.struct(
            F.col("meta.lang").alias("lang"),
            F.lit("merged").alias("source"),
            F.col("meta.n_chars").alias("n_chars"),
        ).alias("meta"),
    )
    versioned_upsert(spark, path, upd, ["doc_id"])
    # DV-delete a scattered slice: positions recorded, no rewrite
    versioned_delete(spark, path, "doc_id % 7 = 3")
    native = versioned_read(spark, path)
    conn = (
        spark.read.format("skopje_versioned").option("path", path).load()
    )
    agree = (
        native.exceptAll(conn).isEmpty() and conn.exceptAll(native).isEmpty()
    )
    dbl = F.transform(F.col("embedding"), lambda x: x.cast("double"))
    return (
        conn.select(
            "doc_id",
            F.size("embedding").alias("dim"),
            dround(
                F.sqrt(
                    F.aggregate(
                        dbl, F.lit(0.0), lambda acc, x: acc + x * x
                    )
                ),
                4,
            ).alias("l2_norm"),
            F.col("meta.lang").alias("meta_lang"),
            F.col("meta.source").alias("meta_source"),
            F.col("meta.n_chars").alias("meta_chars"),
            F.lit(bool(agree)).alias("paths_agree"),
        )
        .orderBy("doc_id")
    )


@register(
    "q_versioned_bloom_lookup",
    oracle="""
    SELECT o_orderkey, o_totalprice,
           TRUE AS bloom_sound, TRUE AS bloom_prunes
    FROM orders WHERE o_orderkey = 7
    """,
    tags=("versioned", "skipping", "bloom", "lakeops"),
)
def q_versioned_bloom_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-file BLOOM tier for high-cardinality point lookups
    (sinks/versioned.py:versioned_value_index bloom_cols=): orders
    lands in a RANDOM layout — every file's [min,max] interval spans
    the whole key domain, so interval skipping elects everything and
    the exact value-set tier refuses (per-file distinct count blows
    its cap). The per-file bitmap (sha256-probe, self-describing
    geometry, shared with sources/skipping.py via
    operators/bloom.py) answers "key 7 is definitely absent from
    this file": the query proves in-emission that the bloom election
    is SOUND (a superset of the files that actually contain the key
    — computed from the data itself) and USEFUL (strictly smaller
    than the interval span, i.e. fewer than all files), then returns
    the pruned read's rows, pinned by the oracle to the exact filter
    result.

    Scale: the probe is driver-side arithmetic over kilobyte manifest
    slots — a doc_id lookup on an unclustered 100 TB table opens
    O(containing + fpp) files instead of the interval span, no job
    launched to decide."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        _value_set_disjoint,
        latest_version,
        versioned_read,
        versioned_read_where,
        versioned_value_index,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="skopje_bloom_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.repartition(8), path)  # random layout: no span help
    versioned_value_index(
        spark, path, [], bloom_cols=["o_orderkey"], bloom_bits=1 << 17
    )
    key = 7
    ent = _read_manifest(path, latest_version(path))["files"]
    elected = {
        e["path"] for e in ent
        if not _value_set_disjoint(e["stats"].get("o_orderkey"), {key})
    }
    containing = {
        _os.path.relpath(r["__f"].removeprefix("file://"), path)
        for r in versioned_read(spark, path)
        .withColumn("__f", F.input_file_name())
        .filter(F.col("o_orderkey") == key)
        .select("__f").distinct().collect()
    }
    return versioned_read_where(spark, path, {"o_orderkey": key}).select(
        "o_orderkey",
        "o_totalprice",
        F.lit(bool(containing <= elected)).alias("bloom_sound"),
        F.lit(bool(len(elected) < len(ent))).alias("bloom_prunes"),
    )


@register(
    "q_versioned_sql_dml",
    oracle="""
    SELECT o_orderkey,
           CASE WHEN o_orderkey % 10 = 1 THEN o_totalprice * 2
                WHEN o_orderkey % 10 = 7 THEN o_totalprice + 1
                ELSE o_totalprice END AS o_totalprice
    FROM orders WHERE o_orderkey % 10 NOT IN (3, 9)
    UNION ALL
    SELECT o_orderkey + 100000000, o_totalprice
    FROM orders WHERE o_orderkey % 100 = 2
    ORDER BY o_orderkey
    """,
    tags=("versioned", "sql", "merge", "dml", "lakeops"),
)
def q_versioned_sql_dml(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL-string DML front end (sqlfront.py:versioned_sql):
    MERGE INTO / UPDATE / DELETE written as standard SQL text drive
    the native versioned operators — the q_versioned_merge_clauses
    semantics routed through the parser (alias rewriting to the
    src_-pair domain, clause conditions, INSERT *), then an UPDATE
    with an arithmetic SET over the pre-update row, then a predicate
    DELETE (deletion vectors, no rewrite). The oracle recomputes the
    final state closed-form from the raw table; hash equality proves
    the parser changed nothing about the operators' semantics.

    Scale: the strings compile to the same partial-rewrite /
    DV commits the Python API issues — a SQL user gets the identical
    economics (no full-table rewrite anywhere in this query)."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_read,
        versioned_write,
    )
    from skopje_spark.sqlfront import versioned_sql

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="skopje_sqldml_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        path,
    )
    src = (
        o.filter("o_orderkey % 10 = 1")
        .withColumn("o_totalprice", F.col("o_totalprice") * 2)
        .unionByName(o.filter("o_orderkey % 10 = 3"))
        .unionByName(
            o.filter("o_orderkey % 100 = 2").withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
            )
        )
    )
    src.createOrReplaceTempView("sqldml_updates")
    versioned_sql(
        spark,
        """
        MERGE INTO tgt AS t USING sqldml_updates AS s
        ON t.o_orderkey = s.o_orderkey
        WHEN MATCHED AND s.o_orderkey % 10 = 1
          THEN UPDATE SET o_totalprice = s.o_totalprice
        WHEN MATCHED AND s.o_orderkey % 10 = 3 THEN DELETE
        WHEN NOT MATCHED THEN INSERT *
        """,
        tables={"tgt": path},
    )
    versioned_sql(
        spark,
        "UPDATE tgt SET o_totalprice = o_totalprice + 1 "
        "WHERE o_orderkey % 10 = 7",
        tables={"tgt": path},
    )
    versioned_sql(
        spark,
        "DELETE FROM tgt WHERE o_orderkey % 10 = 9",
        tables={"tgt": path},
    )
    return versioned_read(spark, path).orderBy("o_orderkey")


@register(
    "q_versioned_wap",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_totalprice,
             CAST(o_orderkey % 10 AS INTEGER) AS bucket
      FROM orders
    ), post_state AS (
      SELECT o_orderkey,
             CASE WHEN bucket = 4 THEN -1.0 ELSE o_totalprice END AS p,
             bucket
      FROM base WHERE bucket <> 6
      UNION ALL
      SELECT o_orderkey + 100000000, o_totalprice, bucket
      FROM base WHERE bucket = 2
    ), raw_agg AS (
      SELECT bucket, COUNT(*) AS n,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CASE WHEN o_totalprice < 0 THEN 1 ELSE 0 END)
                  AS BIGINT) AS neg
      FROM base GROUP BY bucket
    ), post_agg AS (
      SELECT bucket, COUNT(*) AS n,
             CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
             CAST(SUM(CASE WHEN p < 0 THEN 1 ELSE 0 END) AS BIGINT) AS neg
      FROM post_state GROUP BY bucket
    )
    SELECT 'post' AS src, bucket, n, key_sum, neg FROM post_agg
    UNION ALL SELECT 'pre' AS src, bucket, n, key_sum, neg FROM raw_agg
    UNION ALL SELECT 'tag' AS src, bucket, n, key_sum, neg FROM raw_agg
    ORDER BY src, bucket
    """,
    tags=("versioned", "refs", "wap", "lakeops"),
)
def q_versioned_wap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write-audit-publish through named refs (sinks/versioned.py refs
    tier): TAG the ingested snapshot, fork a zero-copy BRANCH, stage a
    DV-delete + a MERGE-style upsert (updates and inserts) on the
    branch, then fast-forward PUBLISH main to the audited state. The
    result aggregates three reads — the tag (must equal ingest), the
    pre-publish main snapshot (proves branch writes never leaked), and
    post-publish main (proves publish adopted exactly the staged
    state) — and the oracle recomputes all three closed-form from raw
    ``orders``. Hash equality therefore proves isolation AND the
    atomic flip in one query.

    Scale: the fork is a hard-linked shallow clone and the publish is
    O(new files) link syscalls + one kilobyte CAS commit — staging and
    shipping an audited 100 TB drop costs the audit queries, not a
    rewrite. Tags pin training snapshots against vacuum for free."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_branch,
        versioned_delete,
        versioned_publish,
        versioned_read,
        versioned_tag,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_totalprice"
    )
    path = tempfile.mkdtemp(prefix="skopje_wap_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        path,
    )
    versioned_tag(path, "baseline")
    bdir = versioned_branch(path, "audit")
    # stage on the branch: a DV delete plus MERGE-style updates+inserts
    versioned_delete(spark, bdir, "o_orderkey % 10 = 6")
    staged = (
        o.filter("o_orderkey % 10 = 4")
        .withColumn("o_totalprice", F.lit(-1.0))
        .unionByName(
            o.filter("o_orderkey % 10 = 2").withColumn(
                "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
            )
        )
    )
    versioned_upsert(spark, bdir, staged, ["o_orderkey"])
    pre = versioned_read(spark, path)  # pinned pre-publish file set
    versioned_publish(path, "audit", drop=True)
    post = versioned_read(spark, path)
    tag = versioned_read(spark, path, ref="baseline")

    def agg(df: DataFrame, label: str) -> DataFrame:
        return (
            df.groupBy(
                (F.col("o_orderkey") % 10).cast("int").alias("bucket")
            )
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
                F.sum(
                    F.when(F.col("o_totalprice") < 0, 1).otherwise(0)
                ).cast("long").alias("neg"),
            )
            .select(F.lit(label).alias("src"), "bucket", "n", "key_sum", "neg")
        )

    return (
        agg(post, "post")
        .unionByName(agg(pre, "pre"))
        .unionByName(agg(tag, "tag"))
        .orderBy("src", "bucket")
    )


@register(
    "q_catalog_snapshot",
    oracle="""
    WITH base AS (
      SELECT CAST(o_orderkey % 10 AS INTEGER) AS bucket FROM orders
    ), cnt AS (
      SELECT bucket, COUNT(*) AS n FROM base GROUP BY bucket
    )
    SELECT 0 AS cat_version, bucket,
           CAST(n AS BIGINT) AS n_a, CAST(n AS BIGINT) AS n_b,
           TRUE AS consistent
    FROM cnt
    UNION ALL
    SELECT 1 AS cat_version, bucket,
           CAST(CASE WHEN bucket = 6 THEN 0 ELSE n END AS BIGINT) AS n_a,
           CAST(CASE WHEN bucket = 6 THEN 0 ELSE n END AS BIGINT) AS n_b,
           TRUE AS consistent
    FROM cnt
    ORDER BY cat_version, bucket
    """,
    tags=("versioned", "catalog", "refs", "wap", "lakeops"),
)
def q_catalog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-table consistent snapshots (sinks/catalog.py — the Nessie
    idea over per-table commits): a fact table and its derived rollup
    are pinned by ONE catalog version; a coordinated change (delete
    bucket 6 from the facts, zero its rollup row) stages on branches
    of BOTH tables and flips through catalog_publish in one catalog
    commit. The result recomputes fact-vs-rollup agreement at BOTH
    catalog versions — hash equality against the closed-form oracle
    proves a catalog reader can never observe the torn state (new
    facts with the old rollup), while both pinned states time-travel.

    Scale: catalog commits are kilobyte mappings and publishes are
    per-table fast-forwards (hard links + CAS) — the multi-table flip
    never touches table data."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.catalog import (
        catalog_commit,
        catalog_publish,
        catalog_read,
    )
    from skopje_spark.sinks.versioned import (
        versioned_branch,
        versioned_delete,
        versioned_upsert,
        versioned_write,
    )

    root = tempfile.mkdtemp(prefix="skopje_cat_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    a_path, b_path, cat = (
        f"{root}/facts", f"{root}/rollup", f"{root}/catalog"
    )
    facts = (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_orderkey",
            (F.col("o_orderkey") % 10).cast("int").alias("bucket"),
        )
    )
    versioned_write(
        facts.repartitionByRange(8, "o_orderkey"), a_path
    )
    rollup = facts.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
    versioned_write(rollup, b_path)
    v0 = catalog_commit(
        cat, {"facts": (a_path, None), "rollup": (b_path, None)}
    )
    # coordinated change staged on branches of BOTH tables
    ab = versioned_branch(a_path, "wap")
    bb = versioned_branch(b_path, "wap")
    versioned_delete(spark, ab, "bucket = 6")
    versioned_upsert(
        spark, bb,
        spark.createDataFrame([(6, 0)], "bucket int, n long"),
        ["bucket"],
    )
    v1 = catalog_publish(cat, {"facts": "wap", "rollup": "wap"}, drop=True)

    def check(cat_version: int) -> DataFrame:
        a_cnt = (
            catalog_read(spark, cat, "facts", version=cat_version)
            .groupBy("bucket")
            .agg(F.count(F.lit(1)).alias("n_a"))
        )
        b = catalog_read(spark, cat, "rollup", version=cat_version)
        return (
            b.join(a_cnt, "bucket", "left")
            .select(
                F.lit(cat_version).alias("cat_version"),
                "bucket",
                F.coalesce("n_a", F.lit(0)).cast("long").alias("n_a"),
                F.col("n").cast("long").alias("n_b"),
            )
            .withColumn("consistent", F.col("n_a") == F.col("n_b"))
        )

    return check(v0).unionByName(check(v1)).orderBy("cat_version", "bucket")


@register(
    "q_versioned_agg_pushdown",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT)           AS n_rows,
           CAST(MIN(l_orderkey) AS BIGINT)    AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT)    AS max_key,
           CAST(COUNT(l_orderkey) AS BIGINT)  AS n_key,
           MIN(l_quantity)                    AS min_qty,
           MAX(l_quantity)                    AS max_qty,
           CAST(MIN(CAST(l_shipdate AS DATE)) AS VARCHAR) AS min_ship,
           CAST(MAX(CAST(l_shipdate AS DATE)) AS VARCHAR) AS max_ship,
           MIN(l_returnflag)                  AS min_flag,
           MAX(l_returnflag)                  AS max_flag,
           TRUE                               AS stats_only
    FROM lineitem
    """,
    tags=("versioned", "aggpushdown", "lakeops", "metadata"),
)
def q_versioned_agg_pushdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Metadata-only aggregates under the driver gate
    (sinks/versioned.py:versioned_agg_stats — Iceberg's scan-planning
    aggregate pushdown / Delta's stats-answered SELECTs): lineitem is
    committed as a multi-file versioned table, and COUNT(*), MIN/MAX/
    COUNT over an int key, a double measure, a DATE, and a short
    string column are all answered by folding the manifest's per-file
    footer stats — ``stats_only`` proves the fold opened ZERO data
    files, and the oracle recomputes every number from the rows
    directly, so a hash match proves the fold exact, not just plausible.

    Scale: the common dashboard probe ("how many rows, what date
    range?") on a 100 TB table costs kilobytes of manifest — the same
    O(files) driver-side planning cost every read already pays, with
    no Spark job at all on the pristine path. Files whose stats
    cannot answer exactly (deletion vectors, all-null chunks,
    truncation-suspect strings) are scanned — only those — so the
    answer is exact for every table shape."""
    import atexit
    import shutil
    import tempfile

    from pyspark.sql.types import (
        BooleanType,
        DoubleType,
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from skopje_spark.sinks.versioned import (
        versioned_agg_stats,
        versioned_write,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_quantity",
        F.to_date("l_shipdate").alias("l_shipdate"),
        "l_returnflag",
    )
    path = tempfile.mkdtemp(prefix="skopje_aggstats_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        li.repartitionByRange(4, "l_orderkey")
        .sortWithinPartitions("l_orderkey"),
        path,
    )
    res = versioned_agg_stats(
        spark, path,
        ["l_orderkey", "l_quantity", "l_shipdate", "l_returnflag"],
    )
    c = res["columns"]
    stats_only = res["files_opened"] == 0 and res["files_total"] >= 2
    schema = StructType(
        [
            StructField("n_rows", LongType()),
            StructField("min_key", LongType()),
            StructField("max_key", LongType()),
            StructField("n_key", LongType()),
            StructField("min_qty", DoubleType()),
            StructField("max_qty", DoubleType()),
            StructField("min_ship", StringType()),
            StructField("max_ship", StringType()),
            StructField("min_flag", StringType()),
            StructField("max_flag", StringType()),
            StructField("stats_only", BooleanType()),
        ]
    )
    return spark.createDataFrame(
        [
            (
                res["count_rows"],
                c["l_orderkey"]["min"],
                c["l_orderkey"]["max"],
                c["l_orderkey"]["count"],
                float(c["l_quantity"]["min"]),
                float(c["l_quantity"]["max"]),
                c["l_shipdate"]["min"],
                c["l_shipdate"]["max"],
                c["l_returnflag"]["min"],
                c["l_returnflag"]["max"],
                bool(stats_only),
            )
        ],
        schema,
    )


@register(
    "q_versioned_expectations",
    oracle="""
    SELECT lang,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS sum_chars,
           TRUE AS metrics_ok,
           TRUE AS quarantine_ok
    FROM documents
    WHERE n_chars >= 300 AND lang IN ('en', 'de', 'es', 'fr')
    GROUP BY lang
    ORDER BY lang
    """,
    tags=("versioned", "expectations", "quality", "lakeops"),
)
def q_versioned_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The write-side expectations ladder under the driver gate
    (sinks/expect.py — Delta Live Tables' expectations contract over
    the versioned store): documents are committed through TWO
    quarantine-mode expectations (minimum length, allowed-language
    set), violating rows land in the side quarantine table with a
    ``_violations`` column naming every failed expectation, and the
    per-expectation violation counts ride the main commit's metadata.

    The proofs fold the whole ladder into the result:
    ``metrics_ok`` — admitted + quarantined == rows in, AND each
    recorded per-expectation count equals an independent recount of
    the quarantine table's ``_violations`` arrays; ``quarantine_ok``
    — every quarantined row genuinely violates each expectation its
    array names (recomputed from the row's own values), and no
    admitted row violates anything. The oracle recomputes the clean
    aggregate from the raw rows, so a hash match proves the gate
    split the batch exactly.

    Scale: the metrics pass is one whole-stage-codegen aggregate over
    the batch however many expectations; admit/quarantine are
    filtered writes of the same plan — the quality gate costs two
    scans of the BATCH (never the table) at any corpus size."""
    import atexit
    import json as _json
    import shutil
    import tempfile

    from skopje_spark.sinks.expect import expectations_write
    from skopje_spark.sinks.versioned import snapshot_meta, versioned_read

    EXPECT = {
        "long_enough": "n_chars >= 300",
        "lang_allowed": "lang IN ('en', 'de', 'es', 'fr')",
    }
    docs = load_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars"
    )
    path = tempfile.mkdtemp(prefix="skopje_expect_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    atexit.register(
        shutil.rmtree, path + "_quarantine", ignore_errors=True
    )
    shutil.rmtree(path)  # expectations_write creates the table
    res = expectations_write(docs, path, EXPECT, on_violation="quarantine")
    admitted = versioned_read(spark, path)
    quar = versioned_read(spark, path + "_quarantine")

    recorded = _json.loads(
        snapshot_meta(path, "expectations", version=res["version"])
    )
    recount = {
        name: quar.filter(F.array_contains("_violations", name)).count()
        for name in EXPECT
    }
    metrics_ok = (
        admitted.count() + quar.count() == res["rows_in"]
        and all(
            recorded[n]["violations"] == recount[n] for n in EXPECT
        )
        and res["rows_quarantined"] == quar.count()
    )
    # every quarantined row violates exactly what its array names
    # (membership == recomputed violation, with NULL = violation —
    # the ladder's three-valued contract), and no admitted row
    # violates anything
    def _viol(n):
        return ~F.coalesce(F.expr(EXPECT[n]).cast("boolean"), F.lit(False))

    exact = [
        F.array_contains("_violations", n) == _viol(n) for n in EXPECT
    ]
    q_bad = quar.filter(~(exact[0] & exact[1])).count()
    a_bad = admitted.filter(_viol("long_enough") | _viol("lang_allowed")).count()
    quarantine_ok = q_bad == 0 and a_bad == 0
    return (
        admitted.groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("n_chars").cast("long").alias("sum_chars"),
        )
        .withColumn("metrics_ok", F.lit(bool(metrics_ok)))
        .withColumn("quarantine_ok", F.lit(bool(quarantine_ok)))
        .orderBy("lang")
    )


@register(
    "q_versioned_branch_merge",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, CAST(o_orderkey % 10 AS INTEGER) AS bucket
      FROM orders
    ), merged AS (
      SELECT o_orderkey, bucket FROM base WHERE bucket <> 7
      UNION ALL
      SELECT o_orderkey + 200000000, bucket FROM base WHERE bucket = 2
      UNION ALL
      SELECT o_orderkey + 100000000, bucket FROM base WHERE bucket = 3
    )
    SELECT bucket, COUNT(*) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS ff_refused, TRUE AS merge_commit_ok,
           TRUE AS carried_verbatim
    FROM merged GROUP BY bucket ORDER BY bucket
    """,
    tags=("versioned", "refs", "merge", "lakeops"),
)
def q_versioned_branch_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Three-way branch merge under the driver gate
    (sinks/versioned.py:versioned_merge_branch — the diverged case
    versioned_publish's fast-forward contract refuses; lakeFS-merge /
    Nessie-conflict semantics at file granularity). Main ingests
    orders, a branch stages a DV-delete (bucket 7) plus an append
    (bucket-2 clones), and main DIVERGES with its own append (bucket-3
    clones). The publish refusal is captured in-band (``ff_refused``),
    then the merge replays the branch's file-level delta onto main's
    current manifest as ONE kilobyte CAS commit. The oracle recomputes
    the merged state closed-form from raw orders, so hash equality
    proves the merge produced exactly (main ∪ branch-delta) with the
    DV-delete applied; ``merge_commit_ok`` pins the commit markers and
    ``carried_verbatim`` proves the merge was pure manifest arithmetic
    — every file main held that the branch never touched carries
    byte-identically (entry equality), every branch-changed entry
    lands byte-identically, and zero data files were rewritten.

    Scale: merging an audited branch into a 100 TB main that kept
    ingesting costs O(branch-delta files) hard links + one manifest
    CAS — no Spark job, no rewrite, any table size."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        CommitConflict,
        _read_manifest,
        latest_version,
        snapshot_meta,
        versioned_append,
        versioned_branch,
        versioned_delete,
        versioned_merge_branch,
        versioned_publish,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    path = tempfile.mkdtemp(prefix="skopje_bmerge_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        o.repartitionByRange(8, "o_orderkey").sortWithinPartitions(
            "o_orderkey"
        ),
        path,
    )  # v0
    bdir = versioned_branch(path, "audit")  # v1 (refs commit)
    # branch delta: DV-delete one bucket, append shifted bucket-2 clones
    versioned_delete(spark, bdir, "o_orderkey % 10 = 7")
    versioned_append(
        spark, bdir,
        o.filter("o_orderkey % 10 = 2").withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(200000000)
        ).coalesce(4),
    )
    # main diverges: its own append of shifted bucket-3 clones
    versioned_append(
        spark, path,
        o.filter("o_orderkey % 10 = 3").withColumn(
            "o_orderkey", F.col("o_orderkey") + F.lit(100000000)
        ).coalesce(4),
    )
    try:
        versioned_publish(path, "audit")
        ff_refused = False
    except CommitConflict:
        ff_refused = True
    pre_v = latest_version(path)
    fork_by = {e["path"]: e for e in _read_manifest(path, 0)["files"]}
    pre_by = {e["path"]: e for e in _read_manifest(path, pre_v)["files"]}
    b_by = {
        e["path"]: e
        for e in _read_manifest(bdir, latest_version(bdir))["files"]
    }
    n = versioned_merge_branch(path, "audit")
    post_by = {e["path"]: e for e in _read_manifest(path, n)["files"]}
    merge_commit_ok = (
        n == pre_v + 1
        and snapshot_meta(path, "op", version=n) == "merge_branch"
        and snapshot_meta(path, "merge_base_version", version=n) == "0"
    )
    b_touched = {
        p for p, e in b_by.items() if fork_by.get(p) != e
    } | (set(fork_by) - set(b_by))
    carried_verbatim = (
        all(
            post_by.get(p) == e
            for p, e in pre_by.items()
            if p not in b_touched
        )
        and all(
            post_by.get(p) == b_by[p]
            for p in b_touched
            if p in b_by  # removed-on-branch paths are gone from post
        )
        and all(p not in post_by for p in b_touched if p not in b_by)
    )
    merged = versioned_read(spark, path, version=n)
    return (
        merged.groupBy(
            (F.col("o_orderkey") % 10).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn("ff_refused", F.lit(bool(ff_refused)))
        .withColumn("merge_commit_ok", F.lit(bool(merge_commit_ok)))
        .withColumn("carried_verbatim", F.lit(bool(carried_verbatim)))
        .orderBy("bucket")
    )


@register(
    "q_versioned_meta_tables",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           TRUE AS meta_consistent,
           TRUE AS history_ok
    FROM lineitem
    WHERE NOT (l_quantity < 5)
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("versioned", "metadata", "lakeops"),
)
def q_versioned_meta_tables(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Queryable metadata tables under the driver gate
    (sinks/versioned.py:versioned_meta — Iceberg's ``t$files``/
    ``t$partitions`` idea). Lineitem is committed partitioned by
    l_returnflag, a DV-delete knocks out the ``l_quantity < 5`` slice,
    and the per-partition row counts are answered from the PARTITIONS
    metadata table — kilobyte manifest folds, zero data files opened —
    while the oracle recounts the surviving rows from raw data. Hash
    equality proves the manifest's DV-adjusted aggregates exact.
    ``meta_consistent`` cross-checks the three metadata surfaces
    against each other (files-tier live_rows fold == partitions-tier
    n_rows per partition, total == versioned_count); ``history_ok``
    pins the commit chain (write then delete) in the HISTORY table.

    Scale: "how many live rows per partition after deletes" on a
    100 TB table is a metadata read — the exact query a retention
    dashboard polls every minute."""
    import atexit
    import json as _json
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_count,
        versioned_delete,
        versioned_meta,
        versioned_write,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = tempfile.mkdtemp(prefix="skopje_meta_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(li, path, partition_by=["l_returnflag"])
    versioned_delete(spark, path, "l_quantity < 5")
    parts = versioned_meta(spark, path, "partitions").collect()
    files = versioned_meta(spark, path, "files").collect()
    by_part: dict[str, int] = {}
    for r in files:
        g = _json.loads(r["partition"])["l_returnflag"]
        by_part[g] = by_part.get(g, 0) + r["live_rows"]
    meta_consistent = (
        {r["l_returnflag"]: r["n_rows"] for r in parts} == by_part
        and sum(by_part.values()) == versioned_count(path)
        and all(r["n_files"] >= 1 for r in parts)
    )
    hist = versioned_meta(spark, path, "history").collect()
    ops = [_json.loads(r["meta"]).get("op") for r in hist]
    history_ok = (
        [r["version"] for r in hist] == [0, 1]
        and ops[1] == "delete"
        and hist[1]["is_latest"]
    )
    return spark.createDataFrame(
        [
            (r["l_returnflag"], int(r["n_rows"]), bool(meta_consistent),
             bool(history_ok))
            for r in sorted(parts, key=lambda r: r["l_returnflag"])
        ],
        "l_returnflag string, n_rows long, meta_consistent boolean, "
        "history_ok boolean",
    ).orderBy("l_returnflag")


@register(
    "q_versioned_dv_purge",
    oracle="""
    WITH bound AS (
      SELECT CAST(MAX(l_orderkey) / 2 AS BIGINT) AS b FROM lineitem
    )
    SELECT l_linestatus,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
           TRUE AS purge_exact
    FROM lineitem, bound
    WHERE NOT (l_orderkey % 2 = 1 AND l_orderkey <= bound.b)
    GROUP BY l_linestatus
    ORDER BY l_linestatus
    """,
    tags=("versioned", "purge", "maintenance", "lakeops"),
)
def q_versioned_dv_purge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DV-debt purge under the driver gate
    (sinks/versioned.py:versioned_purge — Iceberg's
    rewrite_data_files delete-threshold / Delta's REORG ... APPLY
    (PURGE)). Lineitem is committed range-clustered on l_orderkey, a
    scattered DV-delete (odd keys in the lower half) loads ~50% debt
    onto the low-key files while high-key files stay pristine, then
    the purge rewrites EXACTLY the loaded files. The oracle recounts
    the surviving rows from raw data — hash equality proves the
    rewrite content-exact — and ``purge_exact`` proves the targeting
    in-band: the removed entries are precisely the ≥-threshold set,
    every carried entry is byte-identical, and every replacement file
    carries zero deletion vectors.

    Scale: merge-on-read deletes are O(vectors) at write time; this
    is the read-amortization flip side priced right — a 100 TB table
    that deleted 1% of rows scattered over 2% of files rewrites those
    files only, decided from the top-level manifest and the segments
    that hold deletion vectors."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        latest_version,
        versioned_delete,
        versioned_purge,
        versioned_read,
        versioned_write,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_linestatus"
    )
    path = tempfile.mkdtemp(prefix="skopje_purge_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        li.repartitionByRange(6, "l_orderkey").sortWithinPartitions(
            "l_orderkey"
        ),
        path,
    )
    bound = li.agg((F.max("l_orderkey") / 2).cast("long")).first()[0]
    versioned_delete(
        spark, path,
        f"pmod(l_orderkey, 2) = 1 AND l_orderkey <= {bound}",
    )
    v = latest_version(path)
    pre = {e["path"]: e for e in _read_manifest(path, v)["files"]}
    n = versioned_purge(spark, path, min_dv_ratio=0.1)
    post = {e["path"]: e for e in _read_manifest(path, n)["files"]}
    hot = {
        p for p, e in pre.items()
        if e.get("dv_rows", 0) and e["dv_rows"] / e["rows"] >= 0.1
    }
    new = {p: e for p, e in post.items() if p not in pre}
    purge_exact = (
        len(hot) >= 1
        and all(p not in post for p in hot)
        and all(post[p] == pre[p] for p in pre if p not in hot)
        and all(not e.get("dv_files") for e in new.values())
        and sum(e["rows"] for e in new.values())
        == sum(e["rows"] - e.get("dv_rows", 0) for p, e in pre.items()
               if p in hot)
    )
    return (
        versioned_read(spark, path, version=n)
        .groupBy("l_linestatus")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("l_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn("purge_exact", F.lit(bool(purge_exact)))
        .orderBy("l_linestatus")
    )


@register(
    "q_versioned_export_reads",
    oracle="""
    SELECT CAST(o_orderkey % 5 AS INTEGER) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS dv_refused, TRUE AS export_exact
    FROM orders
    WHERE NOT (o_orderkey % 10 = 3)
    GROUP BY CAST(o_orderkey % 5 AS INTEGER)
    ORDER BY bucket
    """,
    tags=("versioned", "export", "interop", "lakeops"),
)
def q_versioned_export_reads(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot export for external engines under the driver gate
    (sinks/versioned.py:versioned_export_manifest — Delta's
    symlink-format-manifest idea). Orders are committed, a DV-delete
    knocks out one bucket, the export correctly REFUSES the DV'd
    snapshot (``dv_refused`` — external readers would resurrect the
    deleted rows), the debt is purged, and the export of the clean
    version is then read back through the PLAIN FILE LIST with a
    stock parquet scan — no store code in the read path. The oracle
    recomputes the same aggregate from raw orders, so hash equality
    proves the exported list IS the snapshot; ``export_exact`` pins
    list == manifest election file-for-file. (The pytest suite
    additionally reads the same export with DuckDB — a real second
    engine.)

    Scale: the export is O(files) driver-side text; handing a 100 TB
    training snapshot to a reader with no lake client costs a
    manifest walk, not a copy."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        versioned_delete,
        versioned_export_manifest,
        versioned_purge,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    path = tempfile.mkdtemp(prefix="skopje_export_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.repartition(4), path)
    versioned_delete(spark, path, "pmod(o_orderkey, 10) = 3")
    try:
        versioned_export_manifest(path)
        dv_refused = False
    except ValueError:
        dv_refused = True
    v = versioned_purge(spark, path, min_dv_ratio=1e-9)
    res = versioned_export_manifest(path, version=v)
    with open(res["manifest_path"]) as f:
        files = [ln for ln in f.read().splitlines() if ln]
    man_files = sorted(
        _os.path.abspath(_os.path.join(path, e["path"]))
        for e in _read_manifest(path, v)["files"]
    )
    export_exact = files == man_files and res["n_files"] == len(man_files)
    # stock parquet scan over the exported list — no store code
    ext = spark.read.parquet(*files)
    return (
        ext.groupBy(
            (F.col("o_orderkey") % 5).cast("int").alias("bucket")
        )
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn("dv_refused", F.lit(bool(dv_refused)))
        .withColumn("export_exact", F.lit(bool(export_exact)))
        .orderBy("bucket")
    )


@register(
    "q_live_pipeline",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS delta_only, TRUE AS noop_ok, TRUE AS quarantine_ok
    FROM orders
    WHERE o_totalprice >= 5000.0
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("pipeline", "incremental", "expectations", "lakeops"),
)
def q_live_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative incremental pipeline under the driver gate
    (pipeline_live.py — the Delta-Live-Tables shape over this store's
    change feeds + expectation ladder + CAS commits). A two-node DAG —
    an append streaming table gated by an expectation (quarantining
    cheap orders) feeding a replace materialized view — runs after an
    initial ingest, again after an incremental ingest, and a third
    time with nothing new. The oracle recomputes the final aggregate
    closed-form from raw orders, so hash equality proves the
    incremental path produced exactly the full-recompute answer.
    In-band: ``delta_only`` proves the second run's append processed
    exactly the second wave's admitted rows (cursor-in-commit
    incremental reads, not a rescan), ``noop_ok`` proves the idle run
    committed nothing, and ``quarantine_ok`` proves the quarantine
    table holds exactly the violating rows with their violation
    names.

    Scale: each poll of a 100 TB curation DAG costs O(changes since
    last run) native CDC scans per append node — the cursor rides the
    node's own commit, so crash-replay is exactly-once with no side
    checkpoint."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.pipeline_live import LiveNode, LivePipeline
    from skopje_spark.sinks.versioned import (
        latest_version,
        versioned_append,
        versioned_read,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority", "o_totalprice"
    )
    root = tempfile.mkdtemp(prefix="skopje_live_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src, clean, agg = f"{root}/src", f"{root}/clean", f"{root}/agg"
    versioned_write(o.filter("pmod(o_orderkey, 3) != 0"), src)
    pipe = LivePipeline([
        LiveNode(
            name="clean",
            target=clean,
            inputs=[src],
            transform=lambda s, f: f[src].withColumn(
                "bucket", (F.col("o_orderkey") % 7).cast("int")
            ),
            expectations={"price_ok": "o_totalprice >= 5000.0"},
            on_violation="quarantine",
        ),
        LiveNode(
            name="agg",
            target=agg,
            inputs=["clean"],
            transform=lambda s, f: f["clean"]
            .groupBy("o_orderpriority")
            .agg(
                F.count(F.lit(1)).alias("n"),
                F.sum("o_orderkey").cast("long").alias("key_sum"),
            ),
            mode="replace",
        ),
    ])
    pipe.run(spark)
    wave2 = o.filter("pmod(o_orderkey, 3) = 0")
    versioned_append(spark, src, wave2, change_feed=True)
    r2 = pipe.run(spark)
    admitted2 = wave2.filter("o_totalprice >= 5000.0").count()
    delta_only = (
        r2["clean"]["action"] == "append"
        and r2["clean"]["rows"] == admitted2
    )
    v_clean, v_agg = latest_version(clean), latest_version(agg)
    r3 = pipe.run(spark)
    noop_ok = (
        r3["clean"]["action"] == "noop"
        and latest_version(clean) == v_clean
        and versioned_read(spark, agg).agg(F.sum("n")).first()[0]
        == versioned_read(spark, clean).count()
    )
    quar = versioned_read(spark, f"{clean}_quarantine")
    n_bad_expected = o.filter("o_totalprice < 5000.0").count()
    quarantine_ok = (
        quar.count() == n_bad_expected
        and quar.filter(
            ~F.array_contains("_violations", "price_ok")
        ).count() == 0
        and quar.filter("o_totalprice >= 5000.0").count() == 0
    )
    return (
        versioned_read(spark, agg)
        .select("o_orderpriority", "n", "key_sum")
        .withColumn("delta_only", F.lit(bool(delta_only)))
        .withColumn("noop_ok", F.lit(bool(noop_ok)))
        .withColumn("quarantine_ok", F.lit(bool(quarantine_ok)))
        .orderBy("o_orderpriority")
    )


@register(
    "q_live_apply_changes",
    oracle="""
    WITH final AS (
      SELECT o_orderkey,
             CASE WHEN o_orderkey % 7 = 2
                  THEN o_totalprice + 100.0 ELSE o_totalprice END AS p,
             o_orderpriority
      FROM orders
      WHERE NOT (o_orderkey % 7 = 3)
    )
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS sum_p,
           TRUE AS incremental_ok
    FROM final GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
    tags=("pipeline", "incremental", "cdc", "lakeops"),
)
def q_live_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APPLY CHANGES live node under the driver gate (pipeline_live.py
    mode='upsert' — DLT's apply_changes / SCD-1 over the store's change
    feed). A mirror node builds from orders, then the source takes an
    UPDATE wave (price +100 on one residue class) and a DELETE wave
    (another class), both recorded in the change feed; one pipeline run
    nets the feed to the final action per key, MERGEs the updates, and
    key-frame-deletes the removals. The oracle computes the final state
    closed-form from raw orders — hash equality proves the incremental
    apply ≡ full recompute. ``incremental_ok`` pins in-band that the
    run was the apply_changes path (not a rebuild) and that the idle
    rerun no-ops.

    Scale: the run's cost is O(|changes|) feed reduction + a partial-
    rewrite MERGE + a vectors-only delete — the source is never
    rescanned, the replicate economics inside a declarative DAG."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.pipeline_live import LiveNode, LivePipeline
    from skopje_spark.sinks.versioned import (
        latest_version,
        versioned_delete,
        versioned_upsert,
        versioned_write,
    )

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderpriority",
        F.col("o_totalprice").cast("decimal(18,2)").alias("o_totalprice"),
    )
    root = tempfile.mkdtemp(prefix="skopje_applych_")
    atexit.register(shutil.rmtree, root, ignore_errors=True)
    src, tgt = f"{root}/src", f"{root}/mirror"
    versioned_write(o, src)
    pipe = LivePipeline([
        LiveNode(
            name="mirror", target=tgt, inputs=[src], mode="upsert",
            keys=["o_orderkey"],
            transform=lambda s, f: f[src],
        )
    ])
    pipe.run(spark)
    versioned_upsert(
        spark, src,
        o.filter("pmod(o_orderkey, 7) = 2").withColumn(
            "o_totalprice",
            (F.col("o_totalprice") + F.lit(100.0)).cast("decimal(18,2)"),
        ),
        ["o_orderkey"], change_feed=True,
    )
    versioned_delete(
        spark, src, "pmod(o_orderkey, 7) = 3", change_feed=True
    )
    r2 = pipe.run(spark)
    v = latest_version(tgt)
    r3 = pipe.run(spark)
    incremental_ok = (
        r2["mirror"]["action"] == "apply_changes"
        and r3["mirror"]["action"] == "noop"
        and latest_version(tgt) == v
    )
    from skopje_spark.sinks.versioned import versioned_read

    return (
        versioned_read(spark, tgt)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("o_totalprice").cast("double").alias("sum_p"),
        )
        .withColumn("incremental_ok", F.lit(bool(incremental_ok)))
        .orderBy("o_orderpriority")
    )


@register(
    "q_versioned_codec_roundtrip",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(l_orderkey) AS BIGINT) AS key_sum,
           TRUE AS all_zstd, TRUE AS inherited
    FROM lineitem
    WHERE l_quantity >= 10.0
    GROUP BY l_returnflag
    ORDER BY l_returnflag
    """,
    tags=("versioned", "codec", "storage", "lakeops"),
)
def q_versioned_codec_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-table parquet codec under the driver gate
    (sinks/versioned.py:versioned_write(codec=) — one creation-time
    knob carried as the ``parquet_codec`` property): lineitem is
    created zstd-compressed, a DV-delete plus a blind append land
    WITHOUT re-stating the codec, and the final content is read back
    and aggregated against a raw-data oracle — proving zstd encode/
    decode is content-transparent across the write paths. In-band:
    ``all_zstd`` verifies from the parquet FOOTERS that every live
    data file (creation and append alike) is actually ZSTD, and
    ``inherited`` pins the property riding the append commit with no
    explicit codec argument.

    Scale: at 100 TB the zstd-vs-snappy delta is double-digit percent
    of footprint AND scan IO; making it a carried table property means
    nobody re-states (or forgets) it per writer."""
    import atexit
    import os as _os
    import shutil
    import tempfile

    import pyarrow.parquet as pq

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        latest_version,
        snapshot_meta,
        versioned_append,
        versioned_delete,
        versioned_read,
        versioned_write,
    )

    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_quantity", "l_returnflag"
    )
    path = tempfile.mkdtemp(prefix="skopje_codec_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(
        li.filter("l_orderkey % 2 = 0").repartition(4), path, codec="zstd"
    )
    versioned_delete(spark, path, "l_quantity < 10.0")
    versioned_append(
        spark, path, li.filter("pmod(l_orderkey, 2) = 1 AND l_quantity >= 10.0").coalesce(2)
    )
    v = latest_version(path)
    codecs = set()
    for e in _read_manifest(path, v)["files"]:
        md = pq.read_metadata(_os.path.join(path, e["path"]))
        if md.num_row_groups == 0:
            continue  # empty file: no row groups, no codec to check
        codecs.add(md.row_group(0).column(0).compression)
    all_zstd = codecs == {"ZSTD"}
    inherited = snapshot_meta(path, "parquet_codec", version=v) == "zstd"
    return (
        versioned_read(spark, path, version=v)
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("l_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn("all_zstd", F.lit(bool(all_zstd)))
        .withColumn("inherited", F.lit(bool(inherited)))
        .orderBy("l_returnflag")
    )


@register(
    "q_versioned_time_travel_sql",
    oracle="""
    WITH cur AS (
      SELECT o_orderkey FROM orders WHERE NOT (o_orderkey % 5 = 2)
    )
    SELECT 'current' AS src, CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum
    FROM cur
    UNION ALL
    SELECT 'v0' AS src, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'gone' AS src, CAST(COUNT(*) AS BIGINT),
           CAST(SUM(o_orderkey) AS BIGINT)
    FROM orders WHERE o_orderkey % 5 = 2
    ORDER BY src
    """,
    tags=("versioned", "timetravel", "sql", "lakeops"),
)
def q_versioned_time_travel_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SQL time travel under the driver gate (sqlfront.py SELECT —
    ``VERSION AS OF`` / ``@ref`` / cross-version joins as statement
    text): orders are committed (v0), tagged, and a DV-delete removes
    one residue class; THREE versioned_sql SELECTs then serve the
    current state, the ``@baseline`` tag, and — in one statement — the
    anti-join diff between ``VERSION AS OF 0`` and the current
    snapshot (exactly the rows the delete removed). The oracle
    recomputes all three closed-form from raw orders; hash equality
    proves the SQL surface pins, travels, and diffs snapshots
    correctly, with zero function-API calls in the read path.

    Scale: each pinned attach is kilobyte manifest planning through
    the connector; the cross-version diff reads two snapshots that
    share every unchanged file."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        versioned_delete,
        versioned_tag,
        versioned_write,
    )
    from skopje_spark.sqlfront import versioned_sql

    o = load_table(spark, sf_dir, "orders").select("o_orderkey")
    path = tempfile.mkdtemp(prefix="skopje_ttsql_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.repartition(4), path)           # v0
    versioned_tag(path, "baseline")                   # v1 (refs)
    versioned_delete(spark, path, "pmod(o_orderkey, 5) = 2")  # v2
    t = {"t": path}
    cur = versioned_sql(
        spark,
        "SELECT 'current' AS src, COUNT(*) AS n, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM t",
        tables=t,
    )
    v0 = versioned_sql(
        spark,
        "SELECT 'v0' AS src, COUNT(*) AS n, "
        "CAST(SUM(o_orderkey) AS BIGINT) AS key_sum FROM t@baseline",
        tables=t,
    )
    gone = versioned_sql(
        spark,
        "SELECT 'gone' AS src, COUNT(*) AS n, "
        "CAST(SUM(a.o_orderkey) AS BIGINT) AS key_sum "
        "FROM t VERSION AS OF 0 a LEFT ANTI JOIN t b "
        "ON a.o_orderkey = b.o_orderkey",
        tables=t,
    )
    return cur.unionByName(v0).unionByName(gone).orderBy("src")


@register(
    "q_versioned_optimize_sql",
    oracle="""
    SELECT o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(o_orderkey) AS BIGINT) AS key_sum,
           TRUE AS optimize_exact, TRUE AS analyze_ok, TRUE AS vacuum_ok
    FROM orders
    GROUP BY o_orderpriority
    ORDER BY o_orderpriority
    """,
    tags=("versioned", "maintenance", "sqlfront", "optimize", "vacuum",
          "analyze"),
)
def q_versioned_optimize_sql(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The maintenance tier as SQL TEXT, end-to-end
    (sqlfront.py → versioned_compact / versioned_analyze / vacuum):
    orders lands as three small-file appends, then

    - ``OPTIMIZE '<t>' ZORDER BY (o_orderkey, o_custkey)`` rewrites
      to 2 interleaved-clustered files — ``optimize_exact`` pins
      op=compact, the exact file count, and zero row drift in-band
      while the oracle's hash equality proves content-exactness;
    - ``ANALYZE TABLE '<t>' COMPUTE STATISTICS FOR COLUMNS …`` —
      ``analyze_ok`` pins the column_stats property: exact row count,
      both columns present, stamped with the snapshot it described;
    - ``VACUUM '<t>' RETAIN 2 VERSIONS DRY RUN`` then the real
      ``VACUUM`` — ``vacuum_ok`` pins dry-run == actual removal set,
      old versions gone, current content untouched.

    Scale: OPTIMIZE is the nightly small-file compaction (narrow
    coalesce copy); ANALYZE is one aggregation pass recorded as
    kilobyte metadata; VACUUM is ref-counted pool GC — all three
    routed from the exact SQL spellings users type."""
    import atexit
    import json as _json
    import shutil
    import tempfile

    from skopje_spark.sinks.versioned import (
        _read_manifest,
        _versions,
        latest_version,
        snapshot_meta,
        versioned_append,
        versioned_read,
        versioned_write,
    )
    from skopje_spark.sqlfront import versioned_sql

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderpriority"
    )
    path = tempfile.mkdtemp(prefix="skopje_optsql_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    versioned_write(o.filter("o_orderkey % 3 = 0").coalesce(3), path)
    versioned_append(spark, path, o.filter("o_orderkey % 3 = 1").coalesce(3))
    versioned_append(spark, path, o.filter("o_orderkey % 3 = 2").coalesce(3))
    n_before = o.count()
    v = versioned_sql(
        spark, f"OPTIMIZE '{path}' ZORDER BY (o_orderkey, o_custkey)",
        target_files=2,
    )
    man = _read_manifest(path, v)
    optimize_exact = (
        snapshot_meta(path, "op", version=v) == "compact"
        and len(man["files"]) == 2
        and sum(e["rows"] for e in man["files"]) == n_before
    )
    va = versioned_sql(
        spark,
        f"ANALYZE TABLE '{path}' COMPUTE STATISTICS "
        "FOR COLUMNS o_orderkey, o_orderpriority",
    )
    stats = _json.loads(snapshot_meta(path, "column_stats", version=va))
    analyze_ok = (
        set(stats["columns"]) == {"o_orderkey", "o_orderpriority"}
        and int(stats["n_rows"]) == n_before
        and int(stats["as_of_version"]) == va
    )
    dry = versioned_sql(spark, f"VACUUM '{path}' RETAIN 2 VERSIONS DRY RUN")
    gone = versioned_sql(spark, f"VACUUM '{path}' RETAIN 2 VERSIONS")
    vacuum_ok = (
        sorted(dry) == sorted(gone)
        and len(gone) >= 1
        and all(x not in _versions(path) for x in gone)
        and latest_version(path) in _versions(path)
    )
    return (
        versioned_read(spark, path)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.sum("o_orderkey").cast("long").alias("key_sum"),
        )
        .withColumn("optimize_exact", F.lit(bool(optimize_exact)))
        .withColumn("analyze_ok", F.lit(bool(analyze_ok)))
        .withColumn("vacuum_ok", F.lit(bool(vacuum_ok)))
        .orderBy("o_orderpriority")
    )
