"""Deduplication operators for training-data pipelines.

Five tiers (SURVEY.md §2C D1/D2):

- exact          — content-hash groupBy (sha256)
- ngram-jaccard  — exact set-similarity on word shingles
- minhash (+LSH) — probabilistic Jaccard, banded for candidate pruning
- simhash        — bitwise near-dup fingerprint
- embedding      — cosine near-dup (see operators.similarity)

Determinism contract: a hash is derived from **sha256** (identical
across engines/platforms) wherever the DuckDB oracle must reproduce
the HASH VALUES themselves — minhash signatures (`_token_hash`: the
oracle recomputes sig_i = min (a·H+b) mod P), exact content hashes,
span keeper election. Hash spaces that are engine-internal — the
jaccard/contamination gram space (:func:`shingle_hashes`), where every
consumer emits only set-cardinality-derived counts and ratios — use
Spark's codegen-native ``xxhash64`` instead: injective in practice is
the only property those results depend on, and the cryptographic hash
plus hex/base-conversion string passes were the dominant per-gram CPU.
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import DataFrame, Observation, Window
from pyspark.sql import functions as F
from pyspark.sql.types import StructField, StructType

from skopje_spark.operators._checkpoint import checkpoint_generation
from skopje_spark.queries.rounding import dround
from skopje_spark.tables import ensure_parallelism

# Prime > 2^32 for universal hashing; (a, b) pairs are fixed so runs
# are reproducible. 16 hashes = 4 bands x 4 rows.
MINHASH_PRIME = 4294967311
MINHASH_COEFFS = [
    (3, 1), (5, 7), (11, 13), (17, 19),
    (23, 29), (31, 37), (41, 43), (47, 53),
    (59, 61), (67, 71), (73, 79), (83, 89),
    (97, 101), (103, 107), (109, 113), (127, 131),
]
LSH_BANDS = 4  # 4 rows per band


def _token_hash(col):
    """Deterministic 32-bit token hash from sha256 (cross-engine
    reproducible; swap for xxhash64 when only Spark must agree)."""
    return F.conv(F.substring(F.sha2(col, 256), 1, 8), 16, 10).cast("bigint")


def normalize_text(col):
    """Canonical text form shared by all dedup tiers: lowercase,
    collapse whitespace, trim."""
    return F.trim(F.regexp_replace(F.lower(col), r"\s+", " "))


def tokens(
    df: DataFrame, id_col: str, text_col: str, *, unique_ids: bool = False
) -> DataFrame:
    """(id, token) distinct token set per id.

    Per-row dedup runs in the ARRAY domain (``array_distinct`` before
    the explode — zero shuffles), the same shape as
    :func:`shingle_hashes`. With ``unique_ids=True`` the caller asserts
    ``id_col`` is unique per input row (the doc-id case): per-row
    dedup IS the per-id token set, so the row-level ``distinct`` — a
    full global shuffle of the exploded token table — is skipped
    outright (guide §2.4). The default keeps the safe semantics for
    ids repeating across rows."""
    df = ensure_parallelism(df)
    out = df.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.split(normalize_text(F.col(text_col)), " "))
        ).alias("token"),
    ).filter(F.col("token") != "")
    if not unique_ids:
        out = out.distinct()
    return out


def shingles(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) distinct word n-gram set per document."""
    return _shingles_raw(df, id_col, text_col, n).distinct()


def shingle_hashes(
    df: DataFrame,
    id_col: str,
    text_col: str,
    n: int = 3,
    *,
    unique_ids: bool = False,
) -> DataFrame:
    """(id, h) distinct shingle-hash set per id, h = xxhash64 of the
    gram text (64 bits — collision-free in practice).

    The hash space is ENGINE-INTERNAL: every consumer (jaccard
    plain/prefix/dfcut, contamination, source overlap) emits only
    counts and ratios derived from set cardinalities, never the hash
    values, so any injective-in-practice hash yields identical
    results. xxhash64 is whole-stage-codegen native — no hex string
    materialization, no base conversion — where the previous
    sha2+substring+conv chain paid a cryptographic hash plus two
    string passes per gram (guide §1.2 step 2: per-task work). Paths
    whose ORACLE reproduces hash values cross-engine (minhash
    signatures, exact content hashes) keep sha256 — see
    :func:`_token_hash`.

    Hashing BEFORE the distinct keeps every downstream shuffle key
    (distinct, set-size groupBy, the self-join) an 8-byte long instead
    of a ~25-byte string — at 100 TB that is the difference between
    shuffling shingle text and shuffling fixed-width ints.

    Per-row dedup runs in the ARRAY domain (array_distinct over the
    hashed gram array) BEFORE the explode, so it costs zero shuffles.
    When ``unique_ids=True`` the caller asserts ``id_col`` is unique
    per input row (the doc-id case) — per-row dedup IS the per-id set
    and the row-level distinct (a full shuffle of the shingle table)
    is skipped entirely (guide §2.4: remove shuffles outright). The
    default keeps the safe semantics for grouping ids that repeat
    across rows (e.g. id_col="source"): the array_distinct still
    shrinks the exploded rows map-side, then a dropDuplicates merges
    shingle sets across rows of the same id.
    """
    df = ensure_parallelism(df).withColumn(
        "__toks", F.split(normalize_text(F.col(text_col)), " ")
    )
    hashed = F.transform(
        _gram_array_col(F.col("__toks"), n), lambda g: F.xxhash64(g)
    )
    out = df.select(
        F.col(id_col), F.explode(F.array_distinct(hashed)).alias("h")
    )
    if not unique_ids:
        out = out.dropDuplicates([id_col, "h"])
    return out


def _gram_array_col(toks, n: int):
    """Word-``n``-gram array expression over a MATERIALIZED token-array
    column (expressions referenced inside transform() lambdas are NOT
    common-subexpression-eliminated, so callers must bind the split()
    to a real column first — an inline split would be re-evaluated for
    every element_at call, O(len·n_shingles) per document instead of
    O(len)). Stays in whole-stage codegen, no UDF."""
    # guard: sequence(1, 0) would generate a *descending* range, so
    # short documents (< n tokens) must yield an empty shingle set
    idxs = F.when(
        F.size(toks) >= n, F.sequence(F.lit(1), F.size(toks) - (n - 1))
    ).otherwise(F.array().cast("array<int>"))
    return F.transform(
        idxs,
        lambda i: F.concat_ws(
            " ", *[F.element_at(toks, (i + j).cast("int")) for j in range(n)]
        ),
    )


def _shingles_raw(df: DataFrame, id_col: str, text_col: str, n: int = 3) -> DataFrame:
    """(id, shingle) with per-document duplicates — callers pick the
    dedup representation (string or hash space)."""
    df = ensure_parallelism(df).withColumn(
        "__toks", F.split(normalize_text(F.col(text_col)), " ")
    )
    grams = _gram_array_col(F.col("__toks"), n)
    return df.select(F.col(id_col), F.explode(grams).alias("shingle"))


def exact_duplicates(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """D1 exact dedup: sha256 over normalized content → groups with
    count > 1, canonical = min id. Map-side partial agg; the shuffle
    carries (hash → partial count/min), i.e. bytes ∝ distinct hashes.
    """
    h = F.sha2(normalize_text(F.col(text_col)), 256).alias("content_hash")
    return (
        df.select(F.col(id_col), h)
        .groupBy("content_hash")
        .agg(
            F.count(F.lit(1)).alias("n_copies"),
            F.min(id_col).alias("canonical_id"),
        )
        .filter(F.col("n_copies") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Keep one deterministic representative (min id) per distinct
    normalized content — the engine's `copy`-contract dedup stage
    (``/root/reference/src/load/pg.rs:19-20``)."""
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    w = Window.partitionBy(h).orderBy(F.col(id_col).asc())
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def jaccard_pairs(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.2,
    max_df: int | None = None,
    unique_ids: bool = False,
) -> DataFrame:
    """D2a exact n-gram Jaccard near-dup pairs.

    Plan shape: shingle-hash sets (64-bit longs, not strings — see
    :func:`shingle_hashes`) → self equi-join **on the hash** (the
    crucial bit: candidate pairs only materialize where sets overlap —
    never an all-pairs product) → per-pair intersection count →
    Jaccard.

    ``max_df`` is the 100 TB fan-out bound: drop shingles appearing in
    more than ``max_df`` documents before the join. The join cost is
    Σ df(h)² over shingle hashes — boilerplate "stop-shingles" with
    df in the millions dominate it quadratically while carrying no
    dedup signal. Jaccard is then computed over the cut shingle
    universe (set sizes included), a standard and well-defined
    approximation; ``None`` keeps exact semantics.
    """
    sh = shingle_hashes(df, id_col, text_col, n, unique_ids=unique_ids)
    if max_df is not None:
        sh = (
            sh.withColumn(
                "__df", F.count(F.lit(1)).over(Window.partitionBy("h"))
            )
            .filter(F.col("__df") <= max_df)
            .drop("__df")
        )
    # set size rides along every shingle row via a window instead of a
    # separate aggregate + two join-backs: that version evaluated the
    # whole shingle pipeline once per branch (4-5 scans); this one has
    # two branches whose shared window-exchange is ReusedExchange'd —
    # the expensive sha256+distinct runs once
    sh = sh.withColumn(
        "set_size", F.count(F.lit(1)).over(Window.partitionBy(id_col))
    )
    a = sh.select(
        F.col(id_col).alias("id_a"), "h", F.col("set_size").alias("size_a")
    )
    b = sh.select(
        F.col(id_col).alias("id_b"), "h", F.col("set_size").alias("size_b")
    )
    return (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        # size_a/size_b are functionally dependent on the ids — adding
        # them as group keys avoids any post-agg join-back
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.count(F.lit(1)).alias("n_common"))
        .withColumn(
            "jaccard",
            dround(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 3,
    threshold: float = 0.5,
    unique_ids: bool = False,
) -> DataFrame:
    """Exact n-gram Jaccard pairs at ``threshold`` via PREFIX
    FILTERING — same output as :func:`jaccard_pairs`, asymptotically
    smaller candidate space.

    :func:`jaccard_pairs` joins on EVERY shared shingle, so its
    candidate cost is Σ df(h)² over the whole shingle universe. The
    prefix filter (Chaudhuri et al., "A Primitive Operator for
    Similarity Joins", ICDE'06; Bayardo et al., WWW'07) shrinks that
    to the rarest few shingles per document: order the universe
    globally by document frequency ascending (rarest first, hash as
    tiebreak) and keep only each document's first

        L = |S| - ceil(threshold * |S|) + 1

    shingles as its *prefix*. Completeness: J(A,B) >= t implies
    |A∩B| >= ceil(t·max(|A|,|B|)) =: α, and two sets with overlap
    >= α must collide within their (|S| - α + 1)-prefixes of any
    shared total order — if all common elements sat above A's prefix
    boundary they would have to fit in A's (α-1)-element suffix.
    Candidates additionally satisfy the length filter
    ceil(t·|large|) <= |small| (necessary for J >= t). Each candidate
    pair is then VERIFIED against the full shingle sets, so the
    result is exact — bit-identical to :func:`jaccard_pairs` at the
    same (n, threshold), which is how the unit test pins it.

    At 100 TB this is the difference between joining on boilerplate
    stop-shingles (df in the millions, quadratic fan-out, zero
    signal) and joining on near-unique content: candidate volume is
    Σ over PREFIX shingles of df_prefix(h)², with prefixes ~(1-t) of
    each set and skewed toward df≈1 hashes. Unlike ``max_df`` cuts
    this loses nothing: the high-df shingles still participate in
    verification, just never in pair generation.
    """
    # ONE pass over the shingle table: df (h-partitioned window) then
    # a single groupBy(id) that builds each document's rarity-sorted
    # shingle array — 2 shuffles of the shingle table total. The old
    # shape additionally paid an id-partitioned row_number window for
    # the prefix AND recomputed the whole shingle base for the
    # verification branch (the optimizer prunes the unused window
    # columns out of that branch, which also breaks exchange reuse —
    # measured as two full duplicate dedup+window chains in the stage
    # profile). Here prefix selection is an array slice and
    # verification reads the same per-document arrays, so the shingle
    # table is scanned, deduped and shuffled exactly once, and the
    # tiny per-document table is checkpointed for its three readers
    # (prefix branch + both verify sides).
    base = shingle_hashes(df, id_col, text_col, n, unique_ids=unique_ids)
    sh = base.withColumn(
        "df", F.count(F.lit(1)).over(Window.partitionBy("h"))
    )
    # sort_array over (df, h) structs = the global rarity-ascending,
    # hash-tiebreak total order the prefix filter needs; hs is the
    # plain sorted shingle array for exact intersection.
    sets = (
        sh.groupBy(id_col)
        .agg(
            F.sort_array(
                F.collect_list(F.struct(F.col("df"), F.col("h")))
            ).alias("dhs"),
            F.sort_array(F.collect_list("h")).alias("hs"),
            F.count(F.lit(1)).alias("set_size"),
        )
        .localCheckpoint(eager=True)
    )
    prefix_len = F.col("set_size") - F.ceil(
        F.lit(float(threshold)) * F.col("set_size")
    ) + F.lit(1)
    # posexplode: the element's 1-based position in the GLOBAL
    # rarity-ascending order rides along (the prefix is the first L
    # elements of that order, so prefix position == full-order
    # position) — it feeds the PPJoin positional filter below.
    prefix = sets.select(
        id_col,
        F.posexplode(
            F.slice(F.col("dhs"), F.lit(1), prefix_len.cast("int"))
        ).alias("pos", "dh"),
        "set_size",
    ).select(
        id_col,
        F.col("dh.h").alias("h"),
        "set_size",
        (F.col("pos") + 1).alias("p"),
    )
    a = prefix.select(
        F.col(id_col).alias("id_a"), "h",
        F.col("set_size").alias("size_a"), F.col("p").alias("pa"),
    )
    b = prefix.select(
        F.col(id_col).alias("id_b"), "h",
        F.col("set_size").alias("size_b"), F.col("p").alias("pb"),
    )
    # PPJoin positional filter (Xiao et al., WWW'08): let c be the pair's
    # FIRST matched prefix element (the match minimizing pa — by order
    # consistency the same element minimizes pb). No common element can
    # precede c: it would sit before c in BOTH rarity orders, i.e.
    # inside both prefixes (positions < pa* <= L_A, < pb* <= L_B), and
    # would have been the earlier match. Hence
    #     overlap <= 1 + min(|A| - pa*, |B| - pb*).
    # J >= t is equivalent to overlap >= t/(1+t)·(|A|+|B|); candidates
    # whose bound cannot reach that are pruned BEFORE the verify join
    # ships their full shingle arrays (measured at sf0.1: 309,983 →
    # 124,839 candidates, −60%). The comparison is epsilon-relaxed so
    # float noise can only ADMIT an extra candidate (verification is
    # exact), never drop a true pair; the old `.distinct()` became the
    # equivalent groupBy (same exchange), now also carrying min(pa/pb).
    cands = (
        a.join(b, "h")
        .filter(F.col("id_a") < F.col("id_b"))
        # length filter: J >= t forces ceil(t*max) <= min
        .filter(
            F.ceil(
                F.lit(float(threshold))
                * F.greatest(F.col("size_a"), F.col("size_b"))
            )
            <= F.least(F.col("size_a"), F.col("size_b"))
        )
        .groupBy("id_a", "id_b", "size_a", "size_b")
        .agg(F.min("pa").alias("__pa"), F.min("pb").alias("__pb"))
        .filter(
            (
                F.lit(1)
                + F.least(
                    F.col("size_a") - F.col("__pa"),
                    F.col("size_b") - F.col("__pb"),
                )
            )
            * F.lit(1.0 + float(threshold))
            >= F.lit(float(threshold)) * (F.col("size_a") + F.col("size_b"))
            - F.lit(1e-9)
        )
        .select("id_a", "id_b", "size_a", "size_b")
    )
    # verification: exact intersection over the FULL sets, computed as
    # size(array_intersect(hs_a, hs_b)) over the per-document shingle
    # arrays instead of the old double row-level join + pair groupBy
    # (which exploded every candidate pair into |A| joined rows and
    # re-aggregated them — measured 52 CPU-seconds, the single
    # hottest stage of the entry). The candidate side is small by
    # prefix-filter construction, so AQE broadcasts it — the arrays
    # are never shuffled (guide §2.3/§2.4).
    inter = (
        cands.join(
            sets.select(F.col(id_col).alias("id_a"), F.col("hs").alias("hs_a")),
            "id_a",
        )
        .join(
            sets.select(F.col(id_col).alias("id_b"), F.col("hs").alias("hs_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            "size_a",
            "size_b",
            F.size(F.array_intersect("hs_a", "hs_b")).alias("n_common"),
        )
        .filter(F.col("n_common") > 0)
    )
    return (
        inter.withColumn(
            "jaccard",
            dround(
                F.col("n_common")
                / (F.col("size_a") + F.col("size_b") - F.col("n_common")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "n_common", "jaccard")
    )


def minhash_signatures(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """MinHash signature matrix: one column per hash function.

    sig_i(doc) = min over 3-gram shingles of (a_i·H(shingle) + b_i)
    mod P — shingles (not unigram tokens) so the sketch approximates
    the same Jaccard space as :func:`jaccard_pairs`; unigram sets are
    degenerate on small vocabularies (every doc resembles every other,
    collapsing LSH bands into O(n²) candidates).

    Computed as 16 min-aggregates over the exploded shingle set — one
    shuffle on doc id, partial mins map-side. An array-domain variant
    (one ``aggregate`` fold carrying all 16 running mins per row, then
    a 16-long-per-row groupBy merge) was measured 2.5-3x SLOWER here:
    higher-order array functions are interpreted expressions, while
    the explode + hash-aggregate path stays in whole-stage codegen
    end to end, and the map-side partial mins already shrink the
    shuffle to one row per (map task, id). Guide §1.1: the measured
    plan wins over the "fewer shuffled rows" first-principles shape.
    """
    # no distinct at all: MIN over a multiset equals MIN over its set,
    # so the per-document shingle dedup shuffle is pure waste here —
    # the signature aggregate is the only shuffle this operator needs
    t = _shingles_raw(df, id_col, text_col, 3).select(
        F.col(id_col), _token_hash(F.col("shingle")).alias("h")
    )
    aggs = [
        F.min((F.lit(a) * F.col("h") + F.lit(b)) % F.lit(MINHASH_PRIME)).alias(
            f"mh{i}"
        )
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    ]
    return t.groupBy(id_col).agg(*aggs)


def band_rows(sig: DataFrame, id_col: str) -> DataFrame:
    """Banded view of a signature frame: ``(id, band_id, band_sig)``,
    LSH_BANDS rows per document. ONE pass over the signature — the
    bands explode from an array of structs rather than unioning
    LSH_BANDS projections of the signature subtree (which would
    recompute it per band). Shared by the in-memory pair generator
    (:func:`minhash_lsh_pairs`) and the persisted index
    (:func:`lsh_index_write`), so the band layout cannot diverge
    between the two paths."""
    rows_per_band = len(MINHASH_COEFFS) // LSH_BANDS
    band_structs = F.array(
        *[
            F.struct(
                F.lit(band).alias("band_id"),
                F.concat_ws(
                    ",",
                    *[
                        F.col(f"mh{band * rows_per_band + j}").cast("string")
                        for j in range(rows_per_band)
                    ],
                ).alias("band_sig"),
            )
            for band in range(LSH_BANDS)
        ]
    )
    return sig.select(F.col(id_col), F.explode(band_structs).alias("b")).select(
        F.col(id_col), F.col("b.band_id"), F.col("b.band_sig")
    )


def minhash_lsh_pairs(
    df: DataFrame, id_col: str, text_col: str
) -> DataFrame:
    """D2b MinHash-LSH candidate pairs: band the 16-hash signature into
    4 bands of 4; docs sharing any full band become candidates.

    Scale: the band-bucket join is an equi-join on (band_id, band_sig)
    — collision buckets are tiny for honest data, and a skewed bucket
    (boilerplate shingles) is handled by AQE skew-join splitting.
    """
    sig = minhash_signatures(df, id_col, text_col)
    all_bands = band_rows(sig, id_col)
    # bucket-local pair generation: one shuffle on the bucket key, no
    # self-join (which would re-evaluate the whole signature pipeline
    # for each side). Buckets are small by construction; a giant
    # bucket means degenerate near-identical content and is the
    # pathological case LSH banding exists to avoid.
    buckets = all_bands.groupBy("band_id", "band_sig").agg(
        F.sort_array(F.collect_list(F.col(id_col))).alias("ids")
    ).filter(F.size("ids") > 1)
    pairs = buckets.select(
        F.explode(
            F.filter(
                F.flatten(
                    F.transform(
                        F.col("ids"),
                        lambda x: F.transform(
                            F.col("ids"),
                            lambda y: F.struct(x.alias("id_a"), y.alias("id_b")),
                        ),
                    )
                ),
                lambda s: s.getField("id_a") < s.getField("id_b"),
            )
        ).alias("p")
    )
    return pairs.select(F.col("p.id_a"), F.col("p.id_b")).distinct()


def simhash(
    df: DataFrame,
    id_col: str,
    text_col: str,
    bits: int = 32,
    *,
    unique_ids: bool = False,
) -> DataFrame:
    """D2c SimHash fingerprint: per token-hash bit j, vote +1/-1; the
    fingerprint sets bit j iff the vote is positive.

    One aggregate pass: 32 conditional sums over the exploded token
    set, then a single arithmetic recombination — all codegen'd.
    ``unique_ids=True`` (id unique per row, the doc-id case) keeps the
    per-document token-set dedup in the array domain and removes the
    global distinct exchange — the fingerprint is a pure function of
    each document's token SET, so results are bit-identical.
    """
    t = tokens(df, id_col, text_col, unique_ids=unique_ids).withColumn(
        "h", _token_hash(F.col("token"))
    )
    votes = [
        F.sum(
            F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1, 1).otherwise(
                -1
            )
        ).alias(f"v{j}")
        for j in range(bits)
    ]
    voted = t.groupBy(id_col).agg(*votes)
    fingerprint = None
    for j in range(bits):
        bit = F.when(F.col(f"v{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        fingerprint = bit if fingerprint is None else fingerprint + bit
    return voted.select(
        F.col(id_col), fingerprint.cast("bigint").alias("simhash")
    )


# Edge rows up to which connected components run as ONE executor task
# (union-find over the streamed edge batches) instead of star rounds.
# Measured on a 4-core VM, near-dup-shaped graphs (components of ~8,
# ~1 node per edge), union-find vs star wall time, union-find worker
# peak RSS:
#   10k edges     0.9 s vs 11 s     123 MB
#   100k edges    1.0 s vs 13 s     133 MB
#   1M edges      3.7 s vs 44 s     238 MB
#   4M edges     16 s   vs 126 s    457 MB
# Star's per-round job overhead loses at every size on 4 cores, so the
# gate is the one task's cost, not a time crossover: ~85 MB and ~4 s
# per 1M edges, on one core. Past 4M that single task holds GBs while
# star spreads the same work over every executor of a cluster.
_ONE_TASK_EDGES_MAX = 4_000_000


def neardup_clusters(
    pairs: DataFrame, *, id_a: str = "id_a", id_b: str = "id_b",
    max_iterations: int = 20,
) -> DataFrame:
    """Connected components over a near-dup pair list → (doc_id,
    cluster_id) with cluster_id = min doc id in the component — the
    canonical-representative assignment that turns pairwise candidates
    into dedup groups.

    The ``(src, dst)`` projection is checkpointed once (the upstream
    pair generator runs a single time) and its row count rides that
    materialization. Then ONE size decision picks the solve:

    - at most ``_ONE_TASK_EDGES_MAX`` edges: union-find in one executor
      task (``coalesce(1).mapInPandas``) — one job, nothing collected
      to the driver, the result stays a DataFrame;
    - above it: large-star/small-star (:func:`_neardup_clusters_star`),
      O(log² n) checkpointed rounds on any graph.

    Both give the component minimum, so the output does not depend on
    the path. ``max_iterations`` bounds the star rounds only.

    Ids keep the type of ``id_a ∪ id_b`` (e.g. int ∪ bigint → bigint),
    nullable. A pair with a null id is not an edge and is dropped, so
    an id seen only in such pairs gets no row.
    """
    id_type = pairs.select(id_a).union(pairs.select(id_b)).schema[0].dataType
    n_obs = Observation()
    edges, edge_ids = checkpoint_generation(
        pairs.select(
            F.col(id_a).cast(id_type).alias("src"),
            F.col(id_b).cast(id_type).alias("dst"),
        )
        .dropna()
        .observe(n_obs, F.count(F.lit(1)).alias("n")),
        set(),
    )
    if (n_obs.get["n"] or 0) > _ONE_TASK_EDGES_MAX:
        return _neardup_clusters_star(
            edges, max_iterations=max_iterations, edge_ids=edge_ids
        )

    out_rows = 1 << 16  # rows per yielded output batch

    def union_find(batches):
        # union by MIN id: each root IS its component minimum, the same
        # label star converges to. Memory is one dict entry per node;
        # the edge batches stream through.
        import pandas as pd

        parent: dict = {}

        def find(x):
            r = x
            while parent[r] != r:
                r = parent[r]
            while parent[x] != r:  # path compression
                parent[x], x = r, parent[x]
            return r

        for b in batches:
            for u, v in zip(b["src"].tolist(), b["dst"].tolist()):
                parent.setdefault(u, u)
                parent.setdefault(v, v)
                ru, rv = find(u), find(v)
                if ru != rv:
                    lo, hi = (ru, rv) if ru < rv else (rv, ru)
                    parent[hi] = lo
        nodes = list(parent)
        for i in range(0, len(nodes), out_rows):
            chunk = nodes[i:i + out_rows]
            yield pd.DataFrame(
                {"doc_id": chunk, "cluster_id": [find(x) for x in chunk]}
            )

    return edges.coalesce(1).mapInPandas(
        union_find,
        StructType([
            StructField("doc_id", id_type),
            StructField("cluster_id", id_type),
        ]),
    )


def _neardup_clusters_star(
    edges: DataFrame, *, max_iterations: int = 20, edge_ids: Iterable[int] = (),
) -> DataFrame:
    """Large-star/small-star connected components (Kiveris et al.,
    "Connected Components in MapReduce and Beyond") over a ``(src,
    dst)`` edge frame → (doc_id, cluster_id = component minimum).

    Each round rewires edges toward component minimums:

    - **large-star** (per node u): every neighbor v > u is re-pointed
      at m = min(N(u) ∪ {u}) — long tails collapse toward small ids;
    - **small-star** (per node u over its ≤-neighbors): u and every
      smaller neighbor are re-pointed at the local minimum.

    The edge set converges to a star forest — every non-root node holds
    exactly the edge (node, component-min). Both steps are one
    groupBy-min + one join (no ``collect_set``, so high-degree hubs
    never materialize an adjacency list on one task). Rounds needed:
    O(log² n) on any graph, at most ``max_iterations``.

    Every round ends in an eager ``localCheckpoint`` that truncates
    lineage (otherwise the logical plan doubles per round), and the
    previous generation — starting with the caller's ``edge_ids`` — is
    freed, so peak footprint is two edge generations regardless of
    round count. The final label generation stays checkpointed until
    the session drops it. On a multi-executor cluster prefer reliable
    ``checkpoint()`` (HDFS) if executor loss mid-loop must be
    survivable.

    Convergence caveat: cluster ids are canonical only when the loop
    reaches a fixpoint within ``max_iterations``. If the cap cuts it
    short, every node still gets exactly one row, but a deep component
    may surface as several cluster ids; one label-compression join
    after the loop collapses one remaining level.
    """
    nodes = (
        edges.select(F.col("src").alias("id"))
        .union(edges.select(F.col("dst").alias("id")))
        .distinct()
    )
    nodes, node_ids = checkpoint_generation(nodes, set())
    # canonical orientation big→small, self-loops dropped
    canon = edges.select(
        F.greatest(F.col("src"), F.col("dst")).alias("u"),
        F.least(F.col("src"), F.col("dst")).alias("v"),
    ).filter(F.col("u") != F.col("v")).distinct()
    edges, gen_ids = checkpoint_generation(canon, set(edge_ids))
    prev_sig = None
    for _ in range(max_iterations):
        # --- large-star: over the symmetric adjacency ---
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mn"))
        m = F.least(F.col("mn"), F.col("u"))
        large = (
            sym.join(mins, "u")
            .filter(F.col("v") > F.col("u"))
            .select(F.col("v").alias("u"), m.alias("v"))
            .filter(F.col("u") != F.col("v"))
        )
        # --- small-star: over the big→small orientation ---
        o_mins = large.groupBy("u").agg(F.min("v").alias("mn"))
        sm = F.least(F.col("mn"), F.col("u"))
        small = (
            large.join(o_mins, "u")
            .select(
                F.array(
                    F.struct(F.col("v").alias("a"), sm.alias("b")),
                    F.struct(F.col("u").alias("a"), sm.alias("b")),
                ).alias("pairs2")
            )
            .select(F.explode("pairs2").alias("p"))
            .select(F.col("p.a").alias("u"), F.col("p.b").alias("v"))
            .filter(F.col("u") != F.col("v"))
            .select(
                F.greatest(F.col("u"), F.col("v")).alias("u"),
                F.least(F.col("u"), F.col("v")).alias("v"),
            )
            .distinct()
        )
        # convergence signature (count + order-free hash) rides the
        # checkpoint materialization via observe() — no separate
        # aggregate job per round
        obs = Observation()
        small = small.observe(
            obs,
            F.count(F.lit(1)).alias("n"),
            F.sum(F.hash("u", "v").cast("bigint")).alias("h"),
        )
        edges, gen_ids = checkpoint_generation(small, gen_ids)
        sig_row = obs.get
        sig = (sig_row["n"], sig_row["h"])
        if sig == prev_sig:
            break
        prev_sig = sig
    # collapse to one edge per node before labeling: if the loop hit
    # max_iterations (or the cheap signature collided and stopped early)
    # a node may still hold several edges — min(v) degrades to one
    # (possibly non-minimal) label per node instead of emitting
    # duplicate doc_id rows
    roots = edges.groupBy("u").agg(F.min("v").alias("v"))
    # one extra label-compression join: after an early cut a label can
    # itself be a relabeled node — follow one parent hop (u→v→gv) so a
    # one-level-deep residue still collapses to its component minimum
    grand = roots.select(F.col("u").alias("v"), F.col("v").alias("gv"))
    roots = roots.join(grand, "v", "left").select(
        "u", F.least(F.col("v"), F.coalesce(F.col("gv"), F.col("v"))).alias("v")
    )
    labels = (
        nodes.join(roots, nodes.id == roots.u, "left")
        .select(
            F.col("id").alias("doc_id"),
            F.coalesce(F.col("v"), F.col("id")).alias("cluster_id"),
        )
    )
    # materialize the answer, then free everything intermediate; the
    # one final (doc_id, cluster_id) generation is what the caller reads
    labels, _ = checkpoint_generation(labels, node_ids | gen_ids)
    return labels


def dedup_canonical(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    rank_cols: list[Column] | None = None,
) -> DataFrame:
    """Keep-BEST dedup: one representative per distinct normalized
    content, chosen by a quality ordering instead of min-id — the
    policy real curation uses (keep the longest / highest-quality
    copy, drop mirrors and truncations of it). ``rank_cols`` is the
    descending-priority ordering; default: longest text first, then
    min id as the deterministic tiebreak.

    Same plan shape as :func:`dedup_exact` (hash-partitioned window,
    one shuffle, bytes ∝ rows); only the ORDER BY differs."""
    h = F.sha2(normalize_text(F.col(text_col)), 256)
    order = (
        list(rank_cols)
        if rank_cols is not None
        else [F.length(F.col(text_col)).desc()]
    ) + [F.col(id_col).asc()]
    w = Window.partitionBy(h).orderBy(*order)
    return df.withColumn("__rn", F.row_number().over(w)).filter(
        F.col("__rn") == 1
    ).drop("__rn")


def dup_span_coverage(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
) -> DataFrame:
    """Per-document coverage by CROSS-DOCUMENT duplicated n-gram spans
    — the "how much of this page exists elsewhere in the corpus"
    signal (the inter-document complement of
    text.repetition_features' intra-document ratios; the span-level
    view that pair-level Jaccard aggregates away).

    Returns ``(id, n_tokens, covered_tokens, dup_coverage)`` where a
    token is covered iff it lies inside at least one n-token window
    whose normalized text also appears in ANOTHER document.

    Plan shape: positioned n-gram hashes come from a narrow
    transform+posexplode over the token array (no join against the
    text); cross-doc df is one groupBy(h) carrying count_distinct(id)
    — shuffle keyed on the 60-bit hash; coverage is the classic
    interval-union window (sort spans by start within doc, running
    max end, add only the unseen tail of each span), one shuffle by
    document id. Nothing ever pairs documents, so cost is linear in
    corpus tokens however many duplicates exist.
    """
    base, grams = _positioned_gram_hashes(df, id_col, text_col, n)
    docs_per_h = grams.groupBy("h").agg(
        F.count_distinct(F.col(id_col)).alias("__docs")
    )
    dup_spans = (
        grams.join(docs_per_h, "h")
        .filter(F.col("__docs") >= 2)
        .select(id_col, "pos", "end")
    )
    w = (
        Window.partitionBy(id_col)
        .orderBy("pos", "end")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    covered = (
        dup_spans.withColumn("__prev_end", F.max("end").over(w))
        .withColumn(
            "__new",
            F.greatest(
                F.lit(0),
                F.col("end")
                - F.greatest(F.col("pos") - 1, F.coalesce(F.col("__prev_end"), F.lit(0))),
            ),
        )
        .groupBy(id_col)
        .agg(F.sum("__new").alias("covered_tokens"))
    )
    return (
        base.select(id_col, "__n_tokens")
        .join(covered, id_col, "left")
        .select(
            id_col,
            F.col("__n_tokens").alias("n_tokens"),
            F.coalesce(F.col("covered_tokens"), F.lit(0)).alias("covered_tokens"),
            dround(
                F.coalesce(F.col("covered_tokens"), F.lit(0))
                / F.greatest(F.col("__n_tokens"), F.lit(1)),
                6,
            ).alias("dup_coverage"),
        )
    )


def _positioned_gram_hashes(
    df: DataFrame, id_col: str, text_col: str, n: int
) -> tuple[DataFrame, DataFrame]:
    """Shared span machinery: ``base(id, __ts, __n_tokens)`` over
    normalized tokens plus ``grams(id, pos, end, h)`` — 60-bit sha
    hash of each positioned n-gram window (1-based inclusive span).
    Narrow transform+posexplode; text is never joined."""
    toks = F.split(normalize_text(F.col(text_col)), " ")
    base = df.select(F.col(id_col), toks.alias("__ts")).withColumn(
        "__n_tokens", F.size("__ts")
    )
    grams = (
        base.filter(F.size("__ts") >= n)
        .select(
            id_col,
            F.posexplode(
                F.transform(
                    F.sequence(F.lit(1), F.size("__ts") - (n - 1)),
                    lambda i: F.conv(
                        F.substring(
                            F.sha2(
                                F.concat_ws(
                                    " ", F.slice(F.col("__ts"), i, n)
                                ),
                                256,
                            ),
                            1,
                            15,
                        ),
                        16,
                        10,
                    ).cast("bigint"),
                )
            ).alias("__p0", "h"),
        )
        .select(
            id_col,
            (F.col("__p0") + 1).alias("pos"),
            (F.col("__p0") + n).alias("end"),
            "h",
        )
    )
    return base, grams


def dup_span_trim(
    df: DataFrame,
    id_col: str,
    text_col: str,
    *,
    n: int = 8,
    scope: str = "cross",
) -> DataFrame:
    """Exact-substring duplicate REMOVAL — the rewrite step on top of
    :func:`dup_span_coverage`'s measurement (the published
    exact-substring-dedup treatment: excise every cross-document
    duplicated span, keeping its first occurrence corpus-wide).

    Policy, at token granularity over the NORMALIZED token stream
    (trimming composes with the dedup family, which all operate
    post-normalization):

    - an n-gram window is *duplicated* iff its normalized text occurs
      in >= 2 distinct documents (``scope="cross"``, the default —
      same predicate as coverage) or >= 2 times ANYWHERE including
      within one document (``scope="all"`` — the full published
      exact-substring-dedup predicate, which also collapses
      internal boilerplate repeats);
    - for each duplicated gram, the KEEPER is the corpus-first
      occurrence — minimum (doc_id, pos), a total order, so the
      result is deterministic under any partitioning;
    - every non-keeper occurrence becomes a removal span; a token is
      dropped iff it lies inside >= 1 removal span (keeper spans are
      not shielded from overlapping removals — the policy is
      per-occurrence, exactly "delete every duplicated occurrence
      but the first").

    Returns ``(id, n_tokens, kept_tokens, trimmed_text)`` — one row
    per input document (fully-duplicated documents survive with
    ``trimmed_text = ''``), so re-running coverage on the output is
    the natural residual check (property-tested ~ 0).

    Plan shape: keeper election is ONE map-side-combined groupBy(h)
    (min of a (doc, pos) struct + distinct-doc count) — no window
    over h, so a boilerplate gram shared by millions of documents
    costs one combiner row per partition, not a sorted mega-group.
    Removal application is the classic delta-encoding trick: +1 at
    span start, -1 past span end, running sum per document over
    token positions; a token is kept iff its coverage depth is 0.
    Everything shuffles on bounded keys (h, then (doc, pos), then
    doc); nothing ever pairs documents — linear in corpus tokens.
    """
    if scope not in ("cross", "all"):
        raise ValueError(f"scope must be 'cross' or 'all', got {scope!r}")
    base, grams = _positioned_gram_hashes(df, id_col, text_col, n)
    dup_measure = (
        F.count_distinct(F.col(id_col))
        if scope == "cross"
        else F.count(F.lit(1))
    )
    stats = grams.groupBy("h").agg(
        dup_measure.alias("__docs"),
        F.min(F.struct(F.col(id_col).alias("kid"), F.col("pos").alias("kpos"))).alias(
            "__keep"
        ),
    )
    removes = (
        grams.join(stats.filter(F.col("__docs") >= 2), "h")
        .filter(
            ~(
                (F.col(id_col) == F.col("__keep.kid"))
                & (F.col("pos") == F.col("__keep.kpos"))
            )
        )
        .select(id_col, "pos", "end")
    )
    deltas = (
        removes.select(id_col, F.col("pos").alias("tpos"), F.lit(1).alias("__d"))
        .unionByName(
            removes.select(
                id_col, (F.col("end") + 1).alias("tpos"), F.lit(-1).alias("__d")
            )
        )
        .groupBy(id_col, "tpos")
        .agg(F.sum("__d").alias("__delta"))
    )
    tokens = base.select(
        id_col,
        "__n_tokens",
        F.posexplode("__ts").alias("__p0", "__tok"),
    ).select(id_col, "__n_tokens", (F.col("__p0") + 1).alias("tpos"), "__tok")
    wc = (
        Window.partitionBy(id_col)
        .orderBy("tpos")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    marked = tokens.join(deltas, [id_col, "tpos"], "left").withColumn(
        "__depth", F.sum(F.coalesce(F.col("__delta"), F.lit(0))).over(wc)
    )
    rebuilt = (
        marked.groupBy(id_col)
        .agg(
            F.max("__n_tokens").alias("__n_tokens"),
            F.sum(F.when(F.col("__depth") == 0, 1).otherwise(0)).alias(
                "kept_tokens"
            ),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("__depth") == 0,
                                F.struct(F.col("tpos"), F.col("__tok")),
                            )
                        )
                    ),
                    lambda x: x["__tok"],
                ),
                " ",
            ).alias("trimmed_text"),
        )
    )
    # empty documents produce no token rows; restore them with 0/''
    return (
        base.select(id_col, "__n_tokens")
        .join(rebuilt.drop("__n_tokens"), id_col, "left")
        .select(
            id_col,
            F.col("__n_tokens").cast("bigint").alias("n_tokens"),
            F.coalesce(F.col("kept_tokens"), F.lit(0))
            .cast("bigint")
            .alias("kept_tokens"),
            F.coalesce(F.col("trimmed_text"), F.lit("")).alias("trimmed_text"),
        )
    )


def semantic_dedup(
    embeddings: DataFrame,
    *,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    k: int = 8,
    iters: int = 3,
    rank_col: str | None = None,
    n_probe: int = 1,
    centroids: list[list[float]] | None = None,
) -> DataFrame:
    """Semantic (embedding-space) dedup — the composed
    cluster-then-prune operator (SemDeDup-style): k-means cells
    partition the corpus by vector geometry, each cell's pairwise
    cosine matrix is scored with one BLAS matmul
    (similarity.blocked_neardup_pairs — O(n) shuffle, never a
    self-join), and within every near-dup pair the worse side is
    dropped.

    Survivor policy: keeper = higher ``rank_col`` (ties and the
    default policy: LOWER id — deterministic total order). A dropped
    row's ``dup_of`` is its best (minimum-id) direct keeper, which
    may itself have been dropped by a still-better row — the
    standard star-chain approximation of greedy ε-ball pruning;
    exact transitive grouping is what dedup_clusters provides when
    needed.

    Approximation contract (inherent to the published method): only
    SAME-CELL pairs are scored, so at the default ``n_probe=1`` a
    near-dup pair straddling a cell boundary survives. Identical
    vectors always share a cell (assignment is a pure function of
    the vector), so exact duplicates are always caught.
    ``n_probe>1`` closes the boundary gap for the PAIRING pass only:
    each vector additionally enters its 2nd..n-th nearest cells
    (numpy top-n against the trained centroids, Arrow-batched), and
    pairs are scored over the union of same-cell co-occurrences —
    ≤ n_probe× the pairing work, the multi-probe IVF idea applied to
    SemDeDup. The stored ``cell`` column and keep/drop semantics are
    unchanged; duplicate co-occurrences of a pair collapse by max
    cosine (scores are identical — same two vectors).

    ``centroids`` (optional) skips quantizer training and assigns
    against the given list — reuse a trained quantizer across corpora
    or pin cells deterministically in tests.

    Returns every input row + accounting columns: ``cell`` (k-means
    cell), ``kept`` (1/0), ``dup_of`` (keeper id or NULL),
    ``dup_cos`` (highest similarity to any keeper, NULL when kept).

    Scale: one centroid-assignment narrow map + one O(n) shuffle on
    cell + per-cell BLAS + one groupBy on the dropped id + one left
    join — no pairing outside cells, no driver state beyond the k
    centroids."""
    from skopje_spark.operators.similarity import (
        blocked_neardup_pairs,
        kmeans_assign,
        kmeans_cells,
    )

    if centroids is not None:
        _cents = [list(map(float, c)) for c in centroids]
        assigned = kmeans_assign(embeddings, _cents, vec_col=vec_col)
    else:
        assigned, _cents = kmeans_cells(
            embeddings, id_col=id_col, vec_col=vec_col, k=k, iters=iters
        )
    # materialize the assignment once: it feeds BOTH the pair scoring
    # and the final accounting join, and re-deriving it would repeat
    # the k×dim literal-cosine assignment map (the most expensive
    # codegen in the plan) plus the source scan
    assigned = assigned.localCheckpoint(eager=True)
    pair_input = assigned.select(id_col, vec_col, "cell")
    # n_extra is capped by the number of cells: with k=1 (or a 1-row
    # corpus collapsing training to one centroid) there is no 2nd cell
    # to probe, so the extra-probe branch must be skipped entirely —
    # otherwise the executor task concatenates zero frames and dies.
    if n_probe > 1 and min(int(n_probe), len(_cents)) - 1 >= 1:
        # extra probe memberships: 2nd..n-th nearest cells, numpy
        # top-n per Arrow batch — narrow map, no shuffle, no codegen
        import numpy as np
        import pandas as pd

        C = np.asarray(_cents, dtype=np.float64)
        Cn = C / np.maximum(np.linalg.norm(C, axis=1, keepdims=True), 1e-300)
        n_extra = min(int(n_probe), len(_cents)) - 1
        dts = dict(embeddings.dtypes)
        probe_schema = (
            f"{id_col} {dts[id_col]}, {vec_col} {dts[vec_col]}, cell int"
        )

        def extra_probes(it, _Cn=Cn, _p=n_extra):
            for pdf in it:
                if not len(pdf):
                    continue
                X = np.asarray(pdf[vec_col].tolist(), dtype=np.float64)
                Xn = X / np.maximum(
                    np.linalg.norm(X, axis=1, keepdims=True), 1e-300
                )
                S = Xn @ _Cn.T
                # stable descending order (ties to lowest cell, the
                # kmeans_assign convention); ranks 1.._p after the top
                order = np.argsort(-S, axis=1, kind="stable")[:, 1 : _p + 1]
                out = []
                for j in range(order.shape[1]):
                    out.append(
                        pd.DataFrame(
                            {
                                id_col: pdf[id_col].to_numpy(),
                                vec_col: pdf[vec_col],
                                "cell": order[:, j].astype("int32"),
                            }
                        )
                    )
                yield pd.concat(out, ignore_index=True)

        pair_input = pair_input.unionByName(
            embeddings.select(id_col, vec_col).mapInPandas(
                extra_probes, probe_schema
            )
        )
    pairs = blocked_neardup_pairs(
        pair_input,
        id_col=id_col,
        vec_col=vec_col,
        block_col="cell",
        threshold=threshold,
    )
    if n_probe > 1:
        # a pair co-occurring in several probed cells appears once per
        # cell — collapse (scores identical; max is deterministic)
        pairs = pairs.groupBy("id_a", "id_b").agg(
            F.max("cos_sim").alias("cos_sim")
        )
    if rank_col is None:
        # blocked_neardup_pairs emits id_a < id_b
        oriented = pairs.select(
            F.col("id_a").alias("__keep"),
            F.col("id_b").alias("__drop"),
            "cos_sim",
        )
    else:
        ranks = embeddings.select(
            F.col(id_col).alias("__rid"), F.col(rank_col).alias("__rank")
        )
        p = (
            pairs.join(
                ranks.select(
                    F.col("__rid").alias("id_a"), F.col("__rank").alias("__ra")
                ),
                "id_a",
            )
            .join(
                ranks.select(
                    F.col("__rid").alias("id_b"), F.col("__rank").alias("__rb")
                ),
                "id_b",
            )
        )
        a_wins = (F.col("__ra") > F.col("__rb")) | (
            (F.col("__ra") == F.col("__rb")) & (F.col("id_a") < F.col("id_b"))
        )
        oriented = p.select(
            F.when(a_wins, F.col("id_a")).otherwise(F.col("id_b")).alias("__keep"),
            F.when(a_wins, F.col("id_b")).otherwise(F.col("id_a")).alias("__drop"),
            "cos_sim",
        )
    drops = oriented.groupBy("__drop").agg(
        F.min("__keep").alias("dup_of"),
        F.max("cos_sim").alias("dup_cos"),
    )
    return (
        assigned.join(
            drops, assigned[id_col] == drops["__drop"], "left"
        )
        .drop("__drop")
        .withColumn("kept", F.col("dup_of").isNull().cast("int"))
    )


def contamination_report(
    train: DataFrame,
    bench: DataFrame,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 8,
    min_shared: int = 1,
    unique_ids: bool = False,
) -> DataFrame:
    """Benchmark decontamination screen: for every TRAIN document, how
    many of its distinct n-gram shingles also occur anywhere in the
    BENCHMARK corpus — the published eval-contamination check run
    before training (a train doc containing benchmark n-grams leaks
    the eval into the model). Returns one row per train document:
    ``(id, n_grams, n_shared, contamination, flagged)`` where
    contamination = shared / distinct grams (0 for short docs) and
    ``flagged`` = n_shared >= min_shared.

    Plan shape: both sides reduce to 64-bit shingle-hash sets
    (shingle_hashes — hashed before distinct, so every shuffle key is
    an 8-byte long); the benchmark side collapses to its DISTINCT
    gram set (tiny next to train — benchmarks are MBs, corpora TBs);
    the check is one left-semi hash join train-grams ⋉ bench-grams +
    two map-side-combined groupBys. Train text never pairs with
    benchmark text; cost is linear in train tokens + bench tokens.
    """
    tg = shingle_hashes(train, id_col, text_col, n, unique_ids=unique_ids)
    sizes = tg.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_grams"))
    # bench side collapses to its distinct gram set regardless, so the
    # per-id dedup shuffle is never needed there
    bg = (
        shingle_hashes(bench, id_col, text_col, n, unique_ids=True)
        .select("h")
        .distinct()
    )
    shared = (
        tg.join(bg, "h", "left_semi")
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).alias("n_shared"))
    )
    return (
        train.select(id_col)
        .join(sizes, id_col, "left")
        .join(shared, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_grams"), F.lit(0)).cast("bigint").alias("n_grams"),
            F.coalesce(F.col("n_shared"), F.lit(0)).cast("bigint").alias("n_shared"),
            dround(
                F.coalesce(F.col("n_shared"), F.lit(0))
                / F.greatest(F.coalesce(F.col("n_grams"), F.lit(0)), F.lit(1)),
                6,
            ).alias("contamination"),
            (F.coalesce(F.col("n_shared"), F.lit(0)) >= min_shared)
            .cast("int")
            .alias("flagged"),
        )
    )


# ---------------------------------------------------------------------------
# Persisted MinHash-LSH index: build-once / probe-per-ingest near-dup
# detection against an existing corpus. The recurring crawl shape at
# 100 TB is NOT "pair every document with every document" (the
# in-memory minhash_lsh_pairs sweep) but "is anything in TODAY'S batch
# a near-duplicate of the corpus we already hold" — which must not
# re-shingle the corpus per batch. The index stores the corpus's
# signatures once; each probe re-shingles only the new batch.
# (Same build/append/probe lifecycle as the IVF ANN index,
# operators/similarity.py:ivf_index_write — this is its Jaccard-space
# twin. Reference analog: the unique-index-backed `ON CONFLICT` dedup
# at /root/reference/src/load/pg.rs:76, which likewise amortizes the
# seen-set into a persistent structure.)
# ---------------------------------------------------------------------------

def _lsh_geometry_digest() -> str:
    """Digest of the hash family (coefficients, prime, band layout).
    Persisted in the index meta and validated on append/probe, so an
    index built under one geometry can never be silently probed with
    another (the CMS state sinks follow the same self-description
    contract, operators/freq.py)."""
    import hashlib

    blob = repr((MINHASH_COEFFS, MINHASH_PRIME, LSH_BANDS)).encode()
    return hashlib.sha256(blob).hexdigest()[:16]


def _read_geometry_local(path: str) -> set | None:
    """Driver-local fast path for the per-probe geometry check: the
    meta table is one tiny parquet file, and reading it through a
    Spark job costs a full job submission (~100 ms of driver latency
    on every probe). When the path is a plain local directory, read
    it with pyarrow directly; any miss (non-local path, layout
    surprise) falls back to the Spark read."""
    import glob as _glob
    import os as _os

    d = path[7:] if path.startswith("file://") else path
    if "://" in d:
        return None
    try:
        files = _glob.glob(_os.path.join(d, "meta", "*.parquet"))
        if not files:
            return None
        import pyarrow.parquet as _pq

        vals: set = set()
        for f in files:
            vals.update(_pq.read_table(f, columns=["geometry"]) ["geometry"].to_pylist())
        return vals or None
    except Exception:
        return None


def _lsh_check_geometry(spark, path: str) -> None:
    got = _read_geometry_local(path)
    if got is None:
        meta = spark.read.parquet(f"{path}/meta").collect()
        got = {r["geometry"] for r in meta}
    want = _lsh_geometry_digest()
    if got != {want}:
        raise ValueError(
            f"LSH index at {path} was built with hash geometry {sorted(got)}, "
            f"current library geometry is {want} — rebuild the index or pin "
            "the MINHASH_COEFFS/LSH_BANDS the index was created with"
        )


def lsh_index_write(
    df: DataFrame, path: str, *, id_col: str = "doc_id", text_col: str = "text"
) -> None:
    """Build a persisted near-dup index of the corpus: MinHash
    signatures (``path/sigs``: id, mh0..mh15) plus their banded view
    (``path/bands``: id, band_id, band_sig, partitioned by band_id),
    plus a one-row geometry meta. One shingle pass over the corpus —
    every later :func:`lsh_index_probe` touches only these narrow
    tables (~LSH_BANDS rows × ~30 B per document, independent of
    document length), never the corpus text again."""
    sig = minhash_signatures(df, id_col, text_col).withColumnRenamed(id_col, "id")
    sig.write.mode("overwrite").parquet(f"{path}/sigs")
    bands = band_rows(sig, "id")
    bands.write.mode("overwrite").partitionBy("band_id").parquet(f"{path}/bands")
    df.sparkSession.createDataFrame(
        [(_lsh_geometry_digest(), len(MINHASH_COEFFS), LSH_BANDS)],
        "geometry string, n_hashes int, n_bands int",
    ).write.mode("overwrite").parquet(f"{path}/meta")


def lsh_index_append(
    df: DataFrame, path: str, *, id_col: str = "doc_id", text_col: str = "text"
) -> int:
    """Add new documents to a persisted LSH index without touching the
    existing entries — unlike the IVF index there is no trained state
    to go stale: MinHash signatures are per-document, so an append is
    EXACTLY as good as having built the index on the union (no drift
    metric needed). Geometry is validated against the index meta
    first. Returns the number of documents appended.

    Delivery contract: at-least-once. A replayed append duplicates
    rows for the same id; :func:`lsh_index_probe` collapses them
    (signatures are deterministic per id, so duplicates are identical
    and dropDuplicates/distinct restores exactly-once semantics at
    read time — the same read-side idempotence the sketch state sinks
    use)."""
    spark = df.sparkSession
    _lsh_check_geometry(spark, path)
    sig = minhash_signatures(df, id_col, text_col).withColumnRenamed(id_col, "id")
    sig.write.mode("append").parquet(f"{path}/sigs")
    band_rows(sig, "id").write.mode("append").partitionBy("band_id").parquet(
        f"{path}/bands"
    )
    return df.select(id_col).distinct().count()


def lsh_index_probe(
    batch: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    exclude_same_id: bool = True,
) -> DataFrame:
    """Near-duplicates of the NEW batch against the indexed corpus:
    ``(id_col, index_id, n_match, est_jaccard)`` for every
    (batch doc, corpus doc) pair that shares an LSH band and whose
    signature agreement ``n_match/n_hashes`` (the unbiased MinHash
    Jaccard estimate) reaches ``threshold``.

    Plan: the batch is shingled ONCE (one shuffle on batch id); the
    candidate join is an equi-join on (band_id, band_sig) — the index
    side ships only its narrow band rows, the corpus text is never
    read. Candidates then join both signature tables (co-keyed
    shuffles; AQE broadcasts the batch side when small). A skewed
    band bucket (boilerplate content) is AQE skew-split like every
    bucket join in this module. ``exclude_same_id`` drops pairs whose
    ids are equal — the re-ingest case where the batch overlaps the
    corpus itself; disable when batch and corpus ids are from
    different namespaces."""
    spark = batch.sparkSession
    _lsh_check_geometry(spark, path)
    n_hashes = len(MINHASH_COEFFS)

    # eager checkpoint: the signature frame feeds BOTH the band
    # branch and the agreement join, and Spark does not reliably
    # reuse the aggregate's exchange across them (measured 0
    # ReusedExchange) — without this the batch text is shingled
    # twice. The materialized state is 17 narrow columns per batch
    # document, negligible beside one redundant corpus-text pass.
    sig_b = minhash_signatures(batch, id_col, text_col).localCheckpoint(
        eager=True
    )
    bands_b = band_rows(sig_b, id_col)
    # explicit schema, derived from the sigs table (which persists a
    # schema-bearing file even when empty): an index built on an empty
    # corpus — the streaming-from-zero shape — has a bands directory
    # with no data files, where schema inference would fail
    from pyspark.sql.types import IntegerType, StringType, StructField, StructType

    sigs_raw = spark.read.parquet(f"{path}/sigs")
    bands_schema = StructType(
        [
            sigs_raw.schema["id"],
            StructField("band_id", IntegerType()),
            StructField("band_sig", StringType()),
        ]
    )
    # NO index-side pre-dedup: at-least-once append replays duplicate
    # whole rows in bands/sigs, but the candidate-level .distinct()
    # below collapses duplicate band hits, and replayed sig rows are
    # full-row duplicates whose joined outputs the final pair-level
    # dropDuplicates collapses — so the per-probe full shuffles of the
    # index bands (.distinct()) and the sigs (.dropDuplicates) the old
    # plan paid on EVERY probe are dropped (guide §2.4: a distinct on
    # data that is already unique in the common case). The replay
    # guarantee is unchanged, it is just enforced at the (tiny)
    # candidate/output granularity instead of the index tables.
    bands_i = (
        spark.read.schema(bands_schema).parquet(f"{path}/bands")
        .withColumnRenamed("id", "index_id")
    )
    # the probe batch is the ingest increment — tiny next to the
    # indexed corpus by contract. When the planner's own size estimate
    # of the batch input confirms that, broadcast the batch-derived
    # band rows and signatures explicitly: the index side then never
    # shuffles AND the AQE join-strategy discovery rounds (one
    # materialization barrier each) are skipped. Above the gate the
    # joins fall back to planner strategies — the correct shape for a
    # corpus-sized "batch".
    small_batch = False
    try:
        est = int(
            batch._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
        )
        small_batch = est <= 256 * 1024 * 1024
    except Exception:  # pragma: no cover - estimate unavailable
        pass

    def _b(df_):
        return F.broadcast(df_) if small_batch else df_

    cand = (
        _b(bands_b).join(bands_i, ["band_id", "band_sig"])
        .select(id_col, "index_id")
        .distinct()
    )
    if exclude_same_id:
        cand = cand.filter(F.col(id_col) != F.col("index_id"))

    sigs_i = sigs_raw.select(
        F.col("id").alias("index_id"),
        *[F.col(f"mh{i}").alias(f"imh{i}") for i in range(n_hashes)],
    )
    n_match = sum(
        F.when(F.col(f"mh{i}") == F.col(f"imh{i}"), 1).otherwise(0)
        for i in range(n_hashes)
    ).cast("int")
    return (
        cand.join(_b(sig_b), id_col)
        .join(sigs_i, "index_id")
        .withColumn("n_match", n_match)
        # k/n_hashes is a dyadic rational for the 16-hash family —
        # exact in binary, deterministic across engines unrounded
        .withColumn(
            "est_jaccard", F.col("n_match") / F.lit(float(n_hashes))
        )
        .filter(F.col("n_match") >= int(threshold * n_hashes))
        .select(id_col, "index_id", "n_match", "est_jaccard")
        # collapses the duplicate joined rows an at-least-once append
        # replay would produce (duplicate sig rows are identical, so
        # the duplicate outputs are identical too)
        .dropDuplicates([id_col, "index_id"])
    )


def lsh_index_stream_sink(
    stream_df,
    path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    available_now: bool = True,
):
    """Continuous index maintenance: every micro-batch of new
    documents is appended to the persisted LSH index
    (:func:`lsh_index_append`), so the crawl-ingest near-dup gate
    (:func:`lsh_index_probe`) always screens against everything
    ingested so far — the streaming twin of the sketch state sinks
    (operators/sketches.py:hll_stream_sink).

    Exactly-once story: appends are at-least-once under micro-batch
    retries, but signatures are DETERMINISTIC per document, so a
    replayed batch writes byte-identical rows and the probe's
    read-side distinct collapses them — no retry can change any probe
    verdict (unit-pinned). A torn append (sigs landed, bands didn't)
    leaves the document temporarily invisible to candidates, never
    wrong; the retry completes it. The index (with its geometry meta)
    must already exist — build it once with :func:`lsh_index_write`,
    possibly on an empty frame."""
    from skopje_spark.streaming.streams import foreach_batch_sink

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        batch = batch_df.select(id_col, text_col)
        if batch.isEmpty():
            return
        lsh_index_append(batch, path, id_col=id_col, text_col=text_col)

    return foreach_batch_sink(
        stream_df, checkpoint, write_batch, available_now=available_now
    )


def lsh_tuning_report(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    *,
    geometries: tuple[tuple[int, int], ...] = ((16, 1), (8, 2), (4, 4), (2, 8)),
    jaccards: tuple[float, ...] = (0.3, 0.5, 0.7, 0.9),
) -> DataFrame:
    """Band-geometry tuning for MinHash-LSH as a queryable DataFrame —
    the Jaccard-space twin of the IVF index's
    :func:`~skopje_spark.operators.similarity.ann_probe_report`:
    instead of guessing the (bands × rows) split of the 16-hash
    signature, read the knee off one report.

    One row per ``(bands, rows_per_band)`` geometry with:

    - ``catch_at_jXX`` — the ANALYTIC probability 1 − (1 − j^r)^b
      that a pair at Jaccard j shares ≥1 band (the S-curve every LSH
      paper plots), for each requested j;
    - ``n_candidate_pairs`` — the EMPIRICAL cost on THIS corpus:
      Σ_buckets C(size, 2), i.e. exactly how many pairs the verify
      stage would receive under that geometry;
    - ``n_buckets`` / ``max_bucket`` — skew diagnostics (a giant
      bucket means boilerplate content and AQE skew-split territory).

    Pick the cheapest geometry whose catch probability at the target
    similarity is acceptable. Signatures are computed ONCE (eager
    localCheckpoint) and each geometry adds only one small aggregate
    over the 16-column signature frame — the corpus text is read a
    single time however many geometries are swept.

    Every geometry must tile the signature: bands × rows_per_band
    must equal ``len(MINHASH_COEFFS)`` (validated)."""
    n_hashes = len(MINHASH_COEFFS)
    for bands, rows in geometries:
        if bands * rows != n_hashes:
            raise ValueError(
                f"geometry ({bands}, {rows}) does not tile {n_hashes} hashes"
            )

    sig = minhash_signatures(df, id_col, text_col).localCheckpoint(eager=True)
    spark = df.sparkSession
    reports = []
    for bands, rows in geometries:
        band_structs = F.array(
            *[
                F.struct(
                    F.lit(band).alias("band_id"),
                    F.concat_ws(
                        ",",
                        *[
                            F.col(f"mh{band * rows + j}").cast("string")
                            for j in range(rows)
                        ],
                    ).alias("band_sig"),
                )
                for band in range(bands)
            ]
        )
        buckets = (
            sig.select(F.explode(band_structs).alias("b"))
            .groupBy("b.band_id", "b.band_sig")
            .agg(F.count(F.lit(1)).alias("n"))
        )
        rep = buckets.agg(
            F.lit(bands).alias("bands"),
            F.lit(rows).alias("rows_per_band"),
            F.sum(F.col("n") * (F.col("n") - 1) / 2)
            .cast("bigint")
            .alias("n_candidate_pairs"),
            F.count(F.lit(1)).alias("n_buckets"),
            F.max("n").alias("max_bucket"),
        ).select("bands", "rows_per_band", "n_candidate_pairs",
                 "n_buckets", "max_bucket")
        for j in jaccards:
            catch = 1.0 - (1.0 - j**rows) ** bands
            rep = rep.withColumn(
                f"catch_at_j{int(round(j * 100))}", F.lit(float(catch))
            )
        reports.append(rep)
    out = reports[0]
    for r in reports[1:]:
        out = out.unionByName(r)
    return out.orderBy("rows_per_band")


def crawl_ingest_stream(
    stream_df,
    index_path: str,
    out_path: str,
    checkpoint: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.5,
    available_now: bool = True,
):
    """The full deduplicating crawl-ingest loop as one streaming sink:
    per micro-batch, (1) probe the batch against the persisted corpus
    index, (2) keep only NOVEL documents (no near-dup in anything
    ingested before them), (3) append the novel documents to the
    output table AND to the index — so every later batch is screened
    against them too. This is the composition the persisted LSH index
    exists for: a crawl that never re-reads its own history yet never
    stores the same content twice (near-dup-wise).

    Exactly-once: the novel-document output is NOT read-side
    dedupable (unlike index rows), so batches are LEDGERED —
    ``out_path/_batch_ledger`` records (incarnation, batch_id) AFTER
    both writes; a replayed ledgered batch is skipped whole. The
    ledger-last ordering means a crash mid-batch replays it: the
    index append is read-side idempotent, and the output append is
    guarded by the ledger... with one torn window (output landed,
    ledger didn't) resolved by writing the output idempotently — the
    batch's output files are staged under a per-batch subdirectory
    ``batch=<incarnation>-<id>`` and rewritten with mode=overwrite on
    replay, so the retry replaces rather than duplicates.

    Scope notes: batch-INTERNAL near-dups both pass (they arrive
    together; run a normal pair sweep inside the batch first if that
    matters). Protection is per-incarnation, like every ledgered sink
    here: keep the checkpoint with the output.

    Read the output with ``spark.read.parquet(out_path + "/data")``
    (hive-partitioned by the batch subdirectory)."""
    from skopje_spark.sinks.versioned import stream_incarnation_id
    from skopje_spark.streaming.streams import (
        batch_ledger_has,
        batch_ledger_record,
        foreach_batch_sink,
    )

    stream_id = stream_incarnation_id(checkpoint)
    ledger = f"{out_path}/_batch_ledger"

    def write_batch(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        if batch_ledger_has(spark, ledger, stream_id, batch_id):
            return
        batch = batch_df.select(id_col, text_col)
        if batch.isEmpty():
            return
        hits = lsh_index_probe(
            batch, index_path, id_col=id_col, text_col=text_col,
            threshold=threshold,
        )
        # torn-window replay safety: if the previous attempt crashed
        # AFTER the index append but BEFORE the ledger write, the
        # replayed probe sees the batch's OWN documents in the index —
        # batch-internal near-dup pairs (documented to "both pass")
        # would flag each other and the overwrite would silently drop
        # previously committed rows. Dropping hits whose index side is
        # in this batch's id set makes the replay reproduce the
        # original novel set exactly.
        hits = hits.join(
            batch.select(F.col(id_col).alias("index_id")).distinct(),
            "index_id",
            "left_anti",
        )
        novel = batch.join(
            hits.select(id_col).distinct(), id_col, "left_anti"
        )
        # per-batch overwrite directory: a replay of a torn batch
        # REPLACES its own output instead of appending a duplicate
        novel.write.mode("overwrite").parquet(
            f"{out_path}/data/batch={stream_id}-{batch_id}"
        )
        lsh_index_append(novel, index_path, id_col=id_col, text_col=text_col)
        batch_ledger_record(spark, ledger, stream_id, batch_id)

    return foreach_batch_sink(
        stream_df, checkpoint, write_batch, available_now=available_now
    )
