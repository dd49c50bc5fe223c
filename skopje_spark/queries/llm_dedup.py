"""Dedup queries over the documents fixture (SURVEY.md §2C D1/D2).

The MinHash and SimHash oracle SQL is *generated* from the same
(a, b) coefficient table the Spark operators use, so both engines
compute the identical deterministic sketch (sha256-derived token
hashes — see operators.dedup docstring for the scale/hash tradeoff).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from skopje_spark.operators.dedup import (
    LSH_BANDS,
    MINHASH_COEFFS,
    MINHASH_PRIME,
    exact_duplicates,
    jaccard_pairs,
    minhash_lsh_pairs,
    simhash,
)
from skopje_spark.queries import register
from skopje_spark.tables import load_table

# shared normalized-token CTE (DuckDB dialect; 'g' flag = global replace,
# matching Spark regexp_replace's replace-all default)
_TOKS_CTE = r"""
toks AS (
  SELECT DISTINCT doc_id, token FROM (
    SELECT doc_id,
           unnest(string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ')) AS token
    FROM documents
  ) WHERE token <> ''
),
hashed AS (
  SELECT doc_id, ('0x' || substr(sha256(token), 1, 8))::BIGINT AS h FROM toks
)
"""

# 3-gram shingle CTE + sha256 hash (minhash operates in shingle space)
_SHINGLE_HASH_CTE = r"""
tokarr AS (
  SELECT doc_id,
         string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
  FROM documents
),
sh AS (
  SELECT DISTINCT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
  FROM tokarr,
       UNNEST(CASE WHEN len(ts) >= 3 THEN range(1, len(ts) - 1)
                   ELSE []::BIGINT[] END) AS t(i)
),
hashed AS (
  SELECT doc_id, ('0x' || substr(sha256(shingle), 1, 8))::BIGINT AS h FROM sh
)
"""


@register(
    "q_dedup_exact_hash",
    oracle=r"""
    SELECT
      sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS content_hash,
      COUNT(*)    AS n_copies,
      MIN(doc_id) AS canonical_id
    FROM documents
    GROUP BY 1
    """,
    tags=("dedup", "exact"),
)
def q_dedup_exact_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D1 exact dedup accounting: every normalized-content hash with
    its copy count and deterministic canonical id (min doc_id)."""
    d = load_table(spark, sf_dir, "documents")
    # same aggregation as operators.dedup.exact_duplicates but keeping
    # singleton groups so the result is non-trivial on dup-free data
    return _exact_all(d)


def _exact_all(d: DataFrame) -> DataFrame:
    from skopje_spark.operators.dedup import normalize_text

    return (
        d.select("doc_id", F.sha2(normalize_text(F.col("text")), 256).alias("content_hash"))
        .groupBy("content_hash")
        .agg(F.count(F.lit(1)).alias("n_copies"), F.min("doc_id").alias("canonical_id"))
    )


@register(
    "q_dedup_ngram_jaccard",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(sha256(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS h
      FROM toks,
           UNNEST(CASE WHEN len(ts) >= 3 THEN range(1, len(ts) - 1)
                       ELSE []::BIGINT[] END) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           (CASE WHEN (n_common / (sa.sz + sb.sz - n_common)) < 0 THEN -(FLOOR((-(n_common / (sa.sz + sb.sz - n_common))) * 1000000.0 + 0.5) / 1000000.0) ELSE FLOOR((n_common / (sa.sz + sb.sz - n_common)) * 1000000.0 + 0.5) / 1000000.0 END) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
    """,
    tags=("dedup", "jaccard", "ngram"),
)
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2a exact 3-gram Jaccard near-dup pairs (threshold 0.5 — the
    fixture plants pairs at ~0.98). Join fans out on shared shingles
    only, never all-pairs."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(d, "doc_id", "text", n=3, threshold=0.5, unique_ids=True)


def _minhash_oracle() -> str:
    mins = ",\n    ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    rows = len(MINHASH_COEFFS) // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows + j}" for j in range(rows)]
        sig = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band_id, {sig} AS band_sig FROM sig"
        )
    bands = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
    WITH {_SHINGLE_HASH_CTE},
    sig AS (
      SELECT doc_id,
      {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {bands}
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band_id, band_sig)
    WHERE a.doc_id < b.doc_id
    """


@register("q_dedup_minhash_lsh", oracle=_minhash_oracle(), tags=("dedup", "minhash", "lsh"))
def q_dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2b MinHash-LSH candidate pairs (16 sha256-derived hashes over
    3-gram shingles, 4 bands × 4 rows). Oracle-exact because both
    engines use identical universal-hash coefficients over identical
    sha256 shingle hashes."""
    d = load_table(spark, sf_dir, "documents")
    return minhash_lsh_pairs(d, "doc_id", "text")


def _simhash_oracle(bits: int = 32) -> str:
    votes = ",\n      ".join(
        f"SUM(CASE WHEN (h >> {j}) & 1 = 1 THEN 1 ELSE -1 END) AS v{j}"
        for j in range(bits)
    )
    fp = " + ".join(f"(CASE WHEN v{j} > 0 THEN {2 ** j} ELSE 0 END)" for j in range(bits))
    return f"""
    WITH {_TOKS_CTE},
    votes AS (
      SELECT doc_id,
      {votes}
      FROM hashed GROUP BY doc_id
    )
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM votes
    """


@register("q_dedup_simhash", oracle=_simhash_oracle(), tags=("dedup", "simhash"))
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2c SimHash 32-bit fingerprints per document (near-dup docs
    land at small Hamming distance; see q_dedup_clusters for the
    transitive clustering pass over candidate pairs)."""
    d = load_table(spark, sf_dir, "documents")
    # doc_id is unique per row -> the token-set dedup stays in the
    # array domain and the global distinct exchange disappears
    return simhash(d, "doc_id", "text", bits=32, unique_ids=True)


@register(
    "q_dedup_embedding",
    oracle="""
    WITH e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE (CASE WHEN (list_cosine_similarity(a.v, b.v)) < 0
             THEN -(FLOOR((-(list_cosine_similarity(a.v, b.v))) * 1000000.0 + 0.5) / 1000000.0)
             ELSE FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000.0 + 0.5) / 1000000.0 END) >= 0.4
    )
    SELECT DISTINCT id_b AS dropped_id FROM pairs ORDER BY dropped_id
    """,
    tags=("dedup", "embedding", "cosine"),
)
def q_dedup_embedding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """D2d embedding-cosine near-dup drop list: any vector whose cosine
    to a lower-id vector in the same block exceeds the threshold is
    dropped (keep-lowest-id policy — deterministic and SQL-expressible,
    unlike greedy transitive clustering which is round-2 work).

    Scale: inherits :func:`blocked_neardup_pairs`'s one-shuffle
    applyInPandas plan; the drop-list aggregate is a distinct over the
    (already small) above-threshold pair set."""
    from skopje_spark.operators.similarity import blocked_neardup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = blocked_neardup_pairs(
        e, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.4
    )
    return (
        pairs.select(F.col("id_b").alias("dropped_id"))
        .distinct()
        .orderBy("dropped_id")
    )


@register(
    "q_dedup_clusters",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE (CASE WHEN (list_cosine_similarity(a.v, b.v)) < 0
             THEN -(FLOOR((-(list_cosine_similarity(a.v, b.v))) * 1000000.0 + 0.5) / 1000000.0)
             ELSE FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000.0 + 0.5) / 1000000.0 END) >= 0.4
    ),
    adj AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM adj),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT a.src, re.r FROM adj a JOIN reach re ON a.dst = re.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
    tags=("dedup", "clusters", "iterative"),
)
def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive near-dup clusters: embedding-cosine candidate pairs →
    connected components → (doc_id, cluster_id = min id in component).

    Spark side: :func:`skopje_spark.operators.dedup.neardup_clusters`,
    whose graph is small enough here for its one-task union-find;
    oracle side: a recursive CTE computing min reachable id —
    genuinely different algorithms, same fixpoint, hash-compared.
    """
    from skopje_spark.operators.dedup import neardup_clusters
    from skopje_spark.operators.similarity import blocked_neardup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = blocked_neardup_pairs(
        e, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.4
    )
    return neardup_clusters(pairs).orderBy("doc_id")


@register(
    "q_dedup_clusters_star",
    oracle="""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE (CASE WHEN (list_cosine_similarity(a.v, b.v)) < 0
             THEN -(FLOOR((-(list_cosine_similarity(a.v, b.v))) * 1000000.0 + 0.5) / 1000000.0)
             ELSE FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000.0 + 0.5) / 1000000.0 END) >= 0.4
    ),
    adj AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM adj),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT a.src, re.r FROM adj a JOIN reach re ON a.dst = re.id
    )
    SELECT id AS doc_id, MIN(r) AS cluster_id
    FROM reach GROUP BY id ORDER BY doc_id
    """,
    tags=("dedup", "clusters", "iterative", "star"),
)
def q_dedup_clusters_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Same fixpoint as q_dedup_clusters, computed with the
    large-star/small-star alternation (Kiveris et al.) — the O(log² n)
    path ``neardup_clusters`` takes above its edge-count gate, called
    directly so the oracle covers it at fixture scale — against the
    identical recursive-CTE oracle. Three genuinely different
    algorithms (union-find, star, recursive CTE) must all agree."""
    from skopje_spark.operators.dedup import _neardup_clusters_star
    from skopje_spark.operators.similarity import blocked_neardup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = blocked_neardup_pairs(
        e, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.4
    )
    edges = pairs.select(F.col("id_a").alias("src"), F.col("id_b").alias("dst"))
    return _neardup_clusters_star(edges).orderBy("doc_id")


@register(
    "q_dedup_jaccard_dfcut",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      FROM documents
    ),
    sh0 AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(sha256(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS h
      FROM toks,
           UNNEST(CASE WHEN len(ts) >= 3 THEN range(1, len(ts) - 1)
                       ELSE []::BIGINT[] END) AS t(i)
    ),
    sh AS (
      SELECT doc_id, h FROM (
        SELECT doc_id, h, COUNT(*) OVER (PARTITION BY h) AS dfreq FROM sh0
      ) WHERE dfreq <= 20
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           (CASE WHEN (n_common / (sa.sz + sb.sz - n_common)) < 0 THEN -(FLOOR((-(n_common / (sa.sz + sb.sz - n_common))) * 1000000.0 + 0.5) / 1000000.0) ELSE FLOOR((n_common / (sa.sz + sb.sz - n_common)) * 1000000.0 + 0.5) / 1000000.0 END) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.5
    """,
    tags=("dedup", "jaccard", "dfcut", "scale"),
)
def q_dedup_jaccard_dfcut(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jaccard near-dup pairs with the document-frequency cut (drop
    shingles in > 20 docs) — the fan-out bound that makes exact
    set-similarity tractable at corpus scale. Same pipeline as
    q_dedup_ngram_jaccard, max_df=20."""
    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs(
        d, "doc_id", "text", n=3, threshold=0.5, max_df=20, unique_ids=True
    )


@register(
    "q_dedup_bloom_anti",
    oracle=r"""
    WITH keyed AS (
      SELECT doc_id,
             sha256(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS k
      FROM documents
    ),
    seen AS (SELECT k FROM keyed WHERE doc_id % 5 = 0)
    SELECT doc_id FROM keyed t
    WHERE NOT EXISTS (SELECT 1 FROM seen s WHERE s.k = t.k)
    ORDER BY doc_id
    """,
    tags=("dedup", "bloom", "membership"),
)
def q_dedup_bloom_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-against-a-corpus via Bloom pre-filter: drop every document
    whose normalized-text hash appears in the 'seen' corpus (here: the
    doc_id %% 5 == 0 slice). Bit-identical to a plain left_anti join —
    the bloom bitmap only routes definite-novel rows around the join
    (operators/bloom.py) — so the DuckDB NOT EXISTS oracle matches
    exactly, false positives and all."""
    from skopje_spark.operators.bloom import bloom_anti_join
    from skopje_spark.operators.dedup import normalize_text

    d = load_table(spark, sf_dir, "documents")
    keyed = d.select(
        "doc_id", F.sha2(normalize_text(F.col("text")), 256).alias("__key")
    )
    seen = keyed.filter(F.pmod(F.col("doc_id"), F.lit(5)) == 0).select("__key")
    return (
        bloom_anti_join(keyed, seen, train_key="__key")
        .select("doc_id")
        .orderBy("doc_id")
    )


@register(
    "q_dedup_jaccard_prefix",
    oracle=r"""
    WITH toks AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(sha256(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS h
      FROM toks,
           UNNEST(CASE WHEN len(ts) >= 3 THEN range(1, len(ts) - 1)
                       ELSE []::BIGINT[] END) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS sz FROM sh GROUP BY doc_id),
    inter AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (h)
      WHERE a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b, n_common,
           (CASE WHEN (n_common / (sa.sz + sb.sz - n_common)) < 0 THEN -(FLOOR((-(n_common / (sa.sz + sb.sz - n_common))) * 1000000.0 + 0.5) / 1000000.0) ELSE FLOOR((n_common / (sa.sz + sb.sz - n_common)) * 1000000.0 + 0.5) / 1000000.0 END) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = id_a
    JOIN sizes sb ON sb.doc_id = id_b
    WHERE n_common / (sa.sz + sb.sz - n_common) >= 0.6
    """,
    tags=("dedup", "jaccard", "prefix-filter", "scale"),
)
def q_dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Jaccard pairs at 0.6 via PREFIX FILTERING
    (operators/dedup.py:jaccard_pairs_prefix): pair generation joins
    only each document's rarest L = |S| - ceil(0.6|S|) + 1 shingles
    (global rarity order), then full-set verification restores exact
    semantics. The oracle is the plain all-shared-shingles Jaccard SQL
    — the prefix filter is provably lossless, and this query proves it
    cross-engine. Unlike q_dedup_jaccard_dfcut, nothing is dropped:
    same answers as the naive join with a candidate space scaled down
    to the rare end of the df distribution."""
    from skopje_spark.operators.dedup import jaccard_pairs_prefix

    d = load_table(spark, sf_dir, "documents")
    return jaccard_pairs_prefix(
        d, "doc_id", "text", n=3, threshold=0.6, unique_ids=True
    )


@register(
    "q_dedup_span_coverage",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos, i + 7 AS "end",
             ('0x' || substr(sha256(
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7]
             ), 1, 15))::BIGINT AS h
      FROM base,
           UNNEST(CASE WHEN len(ts) >= 8 THEN range(1, len(ts) - 6)
                       ELSE []::BIGINT[] END) AS t(i)
    ),
    dup AS (
      SELECT doc_id, pos, "end"
      FROM grams
      WHERE h IN (
        SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
      )
    ),
    isl AS (
      SELECT doc_id, pos, "end",
             MAX("end") OVER (PARTITION BY doc_id ORDER BY pos, "end"
                              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
               AS prev_end
      FROM dup
    ),
    cov AS (
      SELECT doc_id,
             SUM(GREATEST(0, "end" - GREATEST(pos - 1, COALESCE(prev_end, 0))))
               AS covered_tokens
      FROM isl GROUP BY doc_id
    )
    SELECT b.doc_id,
           len(b.ts) AS n_tokens,
           CAST(COALESCE(cov.covered_tokens, 0) AS BIGINT) AS covered_tokens,
           (CASE WHEN (COALESCE(cov.covered_tokens, 0) / GREATEST(len(b.ts), 1)) < 0
                 THEN -(FLOOR((-(COALESCE(cov.covered_tokens, 0) / GREATEST(len(b.ts), 1))) * 1000000.0 + 0.5) / 1000000.0)
                 ELSE FLOOR((COALESCE(cov.covered_tokens, 0) / GREATEST(len(b.ts), 1)) * 1000000.0 + 0.5) / 1000000.0 END)
             AS dup_coverage
    FROM base b LEFT JOIN cov ON cov.doc_id = b.doc_id
    ORDER BY b.doc_id
    """,
    tags=("dedup", "spans", "coverage", "llm-pipeline"),
)
def q_dedup_span_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document duplicated-span coverage
    (operators/dedup.py:dup_span_coverage): for every document, the
    fraction of its tokens lying inside an 8-gram window that also
    appears in ANOTHER document — the span-level "how much of this
    page exists elsewhere" curation signal (the inter-document
    complement of q_text_repetition's intra-document ratios).
    Positioned hashes are a narrow array map, cross-doc df one
    hash-keyed groupBy, coverage the interval-union window — no
    document pairing anywhere, cost linear in corpus tokens."""
    from skopje_spark.operators.dedup import dup_span_coverage

    d = load_table(spark, sf_dir, "documents")
    return dup_span_coverage(d, "doc_id", "text", n=8).orderBy("doc_id")


@register(
    "q_corpus_source_overlap",
    oracle=r"""
    WITH toks AS (
      SELECT source,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      FROM documents
    ),
    sh AS (
      SELECT DISTINCT source,
             ('0x' || substr(sha256(ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]), 1, 15))::BIGINT AS h
      FROM toks,
           UNNEST(CASE WHEN len(ts) >= 3 THEN range(1, len(ts) - 1)
                       ELSE []::BIGINT[] END) AS t(i)
    ),
    sizes AS (SELECT source, COUNT(*) AS sz FROM sh GROUP BY source),
    inter AS (
      SELECT a.source AS source_a, b.source AS source_b, COUNT(*) AS n_common
      FROM sh a JOIN sh b USING (h)
      WHERE a.source < b.source
      GROUP BY 1, 2
    )
    SELECT source_a, source_b, n_common,
           (CASE WHEN (n_common / (sa.sz + sb.sz - n_common)) < 0 THEN -(FLOOR((-(n_common / (sa.sz + sb.sz - n_common))) * 1000000.0 + 0.5) / 1000000.0) ELSE FLOOR((n_common / (sa.sz + sb.sz - n_common)) * 1000000.0 + 0.5) / 1000000.0 END) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.source = source_a
    JOIN sizes sb ON sb.source = source_b
    ORDER BY source_a, source_b
    """,
    tags=("dedup", "corpus", "overlap", "llm-pipeline"),
)
def q_corpus_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Source-level content-overlap matrix: exact 3-gram Jaccard
    between every pair of ingestion sources — the "which feeds are
    re-crawling each other" report that decides dedup ordering and
    mixture weights before any doc-level pass runs. Pure composition:
    the doc-level shingle machinery at source granularity
    (operators/dedup.py:jaccard_pairs with id_col="source" — the
    shingle set per source is the union over its documents, and the
    pair space is |sources|², trivially bounded). The KMV sketch path
    (q_sketch_kmv_overlap) is the approximate scale-out twin; this
    one is exact and oracle-pinned."""
    d = load_table(spark, sf_dir, "documents")
    return (
        jaccard_pairs(d, "source", "text", n=3, threshold=0.0)
        .withColumnRenamed("id_a", "source_a")
        .withColumnRenamed("id_b", "source_b")
        .orderBy("source_a", "source_b")
    )


@register(
    "q_dedup_span_trim",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      FROM documents
    ),
    grams AS (
      SELECT doc_id, i AS pos, i + 7 AS "end",
             ('0x' || substr(sha256(
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7]
             ), 1, 15))::BIGINT AS h
      FROM base,
           UNNEST(CASE WHEN len(ts) >= 8 THEN range(1, len(ts) - 6)
                       ELSE []::BIGINT[] END) AS t(i)
    ),
    duph AS (
      SELECT h FROM grams GROUP BY h HAVING COUNT(DISTINCT doc_id) >= 2
    ),
    keepers AS (
      SELECT h, doc_id AS kid, pos AS kpos FROM (
        SELECT g.h, g.doc_id, g.pos,
               ROW_NUMBER() OVER (PARTITION BY g.h ORDER BY g.doc_id, g.pos) AS rn
        FROM grams g JOIN duph USING (h)
      ) WHERE rn = 1
    ),
    removes AS (
      SELECT g.doc_id, g.pos, g."end"
      FROM grams g JOIN keepers k USING (h)
      WHERE NOT (g.doc_id = k.kid AND g.pos = k.kpos)
    ),
    deltas AS (
      SELECT doc_id, pos AS tpos, 1 AS d FROM removes
      UNION ALL
      SELECT doc_id, "end" + 1 AS tpos, -1 AS d FROM removes
    ),
    dsum AS (
      SELECT doc_id, tpos, SUM(d) AS delta FROM deltas GROUP BY doc_id, tpos
    ),
    tokens AS (
      SELECT doc_id, i AS tpos, ts[i] AS tok, len(ts) AS n
      FROM base, UNNEST(range(1, len(ts) + 1)) AS t(i)
    ),
    marked AS (
      SELECT t.doc_id, t.tpos, t.tok, t.n,
             SUM(COALESCE(d.delta, 0)) OVER (
               PARTITION BY t.doc_id ORDER BY t.tpos
             ) AS depth
      FROM tokens t LEFT JOIN dsum d
        ON d.doc_id = t.doc_id AND d.tpos = t.tpos
    ),
    rebuilt AS (
      SELECT doc_id,
             SUM(CASE WHEN depth = 0 THEN 1 ELSE 0 END) AS kept_tokens,
             string_agg(CASE WHEN depth = 0 THEN tok END, ' ' ORDER BY tpos)
               AS trimmed
      FROM marked GROUP BY doc_id
    )
    SELECT b.doc_id,
           CAST(len(b.ts) AS BIGINT) AS n_tokens,
           CAST(COALESCE(r.kept_tokens, 0) AS BIGINT) AS kept_tokens,
           COALESCE(r.trimmed, '') AS trimmed_text
    FROM base b LEFT JOIN rebuilt r USING (doc_id)
    ORDER BY b.doc_id
    """,
    tags=("dedup", "spans", "trim", "llm-pipeline"),
)
def q_dedup_span_trim(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-substring duplicate REMOVAL
    (operators/dedup.py:dup_span_trim) — the rewrite step on top of
    q_dedup_span_coverage's measurement: every cross-document
    duplicated 8-gram span is excised except its corpus-first
    occurrence (min (doc_id, pos) — a total order, so both engines
    elect identical keepers), and documents are reassembled from
    their surviving tokens. The oracle re-derives keeper election,
    the +1/-1 span-delta depth sums, and the full TRIMMED TEXT of
    every document in DuckDB — a hash mismatch on any single kept or
    dropped token anywhere in the corpus fails the query.

    Scale: keeper election is one map-side-combined groupBy(h) (no
    per-h window on the Spark side); span application is delta
    encoding + one running sum per document; nothing pairs documents
    — linear in corpus tokens like the coverage query."""
    from skopje_spark.operators.dedup import dup_span_trim

    d = load_table(spark, sf_dir, "documents")
    return dup_span_trim(d, "doc_id", "text", n=8).orderBy("doc_id")


@register(
    "q_dedup_semantic",
    oracle="""
    SELECT vec_id,
           CAST(0 AS INTEGER) AS is_twin,
           CAST(1 AS INTEGER) AS verdict_ok,
           CAST(0.0 AS DOUBLE) AS dup_cos
    FROM embeddings
    UNION ALL
    SELECT vec_id + 1000000 AS vec_id,
           CAST(1 AS INTEGER) AS is_twin,
           CAST(1 AS INTEGER) AS verdict_ok,
           CAST(1.0 AS DOUBLE) AS dup_cos
    FROM embeddings WHERE vec_id % 50 = 0
    ORDER BY vec_id
    """,
    tags=("dedup", "semantic", "embeddings", "llm-pipeline"),
)
def q_dedup_semantic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed semantic dedup (operators/dedup.py:semantic_dedup =
    kmeans_cells → per-cell BLAS cosine pairs → keep-best pruning)
    with a planted-twin verdict oracle: every 50th vector gets an
    IDENTICAL twin at id+1000000; the operator must (a) drop every
    twin with ``dup_of`` pointing at its original and cos 1.0, and
    (b) keep every base vector — the fixture's natural max pairwise
    cosine is ~0.51, far under the 0.95 threshold (verified
    cross-engine when this oracle was authored), so any base drop or
    surviving twin flips a verdict and fails the hash.

    ``verdict_ok`` folds both directions: for twins, dropped AND
    correctly attributed; for base rows, kept with no keeper.
    ``dup_cos`` pins the similarity accounting (1.0 for identical
    twins, 0.0 sentinel for kept rows) through the hash compare.

    Scale: one narrow centroid assignment + one O(n) shuffle on the
    k-means cell + per-cell matmul + one groupBy — the SemDeDup
    query shape; no self-join, no cross-cell pairing."""
    from skopje_spark.operators.dedup import semantic_dedup

    e = load_table(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    twins = e.filter(F.col("vec_id") % 50 == 0).select(
        (F.col("vec_id") + 1000000).alias("vec_id"), "embedding"
    )
    out = semantic_dedup(
        e.unionByName(twins),
        id_col="vec_id",
        vec_col="embedding",
        threshold=0.95,
        k=8,
        # 2 Lloyd rounds: the verdicts are invariant to cell-boundary
        # detail (identical twins co-locate at ANY centroids; the base
        # corpus has no 0.95-pairs in or out of cells), and each extra
        # round costs one full assignment codegen + job
        iters=2,
    )
    is_twin = (F.col("vec_id") >= 1000000).cast("int")
    twin_ok = (
        (F.col("kept") == 0)
        & (F.col("dup_of") == F.col("vec_id") - 1000000)
        & (F.abs(F.col("dup_cos") - 1.0) < 1e-9)
    )
    base_ok = (F.col("kept") == 1) & F.col("dup_of").isNull()
    return out.select(
        "vec_id",
        is_twin.alias("is_twin"),
        F.when(is_twin == 1, twin_ok.cast("int"))
        .otherwise(base_ok.cast("int"))
        .alias("verdict_ok"),
        F.when(is_twin == 1, F.round(F.col("dup_cos"), 6))
        .otherwise(F.lit(0.0))
        .cast("double")
        .alias("dup_cos"),
    ).orderBy("vec_id")


@register(
    "q_decontaminate",
    oracle=r"""
    WITH base AS (
      SELECT doc_id,
             string_split(trim(regexp_replace(lower(text), '\s+', ' ', 'g')), ' ') AS ts
      FROM documents
    ),
    tr AS (SELECT * FROM base WHERE doc_id % 20 <> 0),
    be AS (SELECT * FROM base WHERE doc_id % 20 = 0),
    tg AS (
      SELECT DISTINCT doc_id,
             ('0x' || substr(sha256(
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7]
             ), 1, 15))::BIGINT AS h
      FROM tr, UNNEST(CASE WHEN len(ts) >= 8 THEN range(1, len(ts) - 6)
                           ELSE []::BIGINT[] END) AS t(i)
    ),
    bg AS (
      SELECT DISTINCT
             ('0x' || substr(sha256(
               ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] || ' ' || ts[i+3] || ' ' ||
               ts[i+4] || ' ' || ts[i+5] || ' ' || ts[i+6] || ' ' || ts[i+7]
             ), 1, 15))::BIGINT AS h
      FROM be, UNNEST(CASE WHEN len(ts) >= 8 THEN range(1, len(ts) - 6)
                           ELSE []::BIGINT[] END) AS t(i)
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n_grams FROM tg GROUP BY doc_id),
    sh AS (
      SELECT doc_id, COUNT(*) AS n_shared
      FROM tg WHERE h IN (SELECT h FROM bg) GROUP BY doc_id
    )
    SELECT t.doc_id,
           CAST(COALESCE(s.n_grams, 0) AS BIGINT) AS n_grams,
           CAST(COALESCE(sh.n_shared, 0) AS BIGINT) AS n_shared,
           FLOOR((COALESCE(sh.n_shared, 0) /
                  GREATEST(COALESCE(s.n_grams, 0), 1)) * 1000000.0 + 0.5)
             / 1000000.0 AS contamination,
           CAST(COALESCE(sh.n_shared, 0) >= 1 AS INTEGER) AS flagged
    FROM tr t
    LEFT JOIN sizes s ON s.doc_id = t.doc_id
    LEFT JOIN sh ON sh.doc_id = t.doc_id
    ORDER BY t.doc_id
    """,
    tags=("dedup", "decontamination", "eval-leakage", "llm-pipeline"),
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination screen
    (operators/dedup.py:contamination_report): every 20th document
    plays the held-out benchmark; the remaining corpus is scored for
    8-gram overlap against it — the published eval-leakage check run
    before training. The oracle re-derives per-document shared-gram
    counts and contamination fractions, so a single missed or
    phantom overlap anywhere in the corpus hash-mismatches.

    Scale: both sides reduce to 64-bit shingle-hash sets; the check
    is one left-semi join (train grams ⋉ distinct bench grams — the
    bench side is tiny next to any real corpus) plus map-side-
    combined counts. Train and benchmark text never pair."""
    from skopje_spark.operators.dedup import contamination_report

    d = load_table(spark, sf_dir, "documents")
    train = d.filter(F.pmod(F.col("doc_id"), F.lit(20)) != 0)
    bench = d.filter(F.pmod(F.col("doc_id"), F.lit(20)) == 0)
    return contamination_report(
        train, bench, n=8, min_shared=1, unique_ids=True
    ).orderBy("doc_id")


def _split_case_sql(splits: dict[str, float], bucket_expr: str) -> str:
    """CASE expression reproducing sampling.split_assign's cumulative
    half-open hash ranges BIT-FOR-BIT: boundaries are computed with
    the same float accumulation + int() truncation the Spark side
    uses, so the two engines cannot disagree at range edges."""
    from skopje_spark.operators.sampling import MOD

    names = list(splits)
    lo = 0.0
    whens = []
    for name in names[:-1]:
        lo += splits[name]
        whens.append(f"WHEN {bucket_expr} < {int(lo * MOD)} THEN '{name}'")
    return "CASE " + " ".join(whens) + f" ELSE '{names[-1]}' END"


_LSS_SPLITS = {"train": 0.8, "val": 0.1, "test": 0.1}


@register(
    "q_split_leakage_safe",
    oracle=f"""
    WITH RECURSIVE e AS (
      SELECT vec_id, label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM e a JOIN e b ON a.label = b.label AND a.vec_id < b.vec_id
      WHERE (CASE WHEN (list_cosine_similarity(a.v, b.v)) < 0
             THEN -(FLOOR((-(list_cosine_similarity(a.v, b.v))) * 1000000.0 + 0.5) / 1000000.0)
             ELSE FLOOR((list_cosine_similarity(a.v, b.v)) * 1000000.0 + 0.5) / 1000000.0 END) >= 0.4
    ),
    adj AS (
      SELECT id_a AS src, id_b AS dst FROM pairs
      UNION ALL SELECT id_b, id_a FROM pairs
    ),
    nodes AS (SELECT DISTINCT src AS id FROM adj),
    reach(id, r) AS (
      SELECT id, id FROM nodes
      UNION
      SELECT a.src, re.r FROM adj a JOIN reach re ON a.dst = re.id
    ),
    cc AS (SELECT id, MIN(r) AS cluster_id FROM reach GROUP BY id),
    lab AS (
      SELECT emb.vec_id,
             COALESCE(cc.cluster_id, emb.vec_id) AS cluster_id
      FROM embeddings emb LEFT JOIN cc ON cc.id = emb.vec_id
    )
    SELECT vec_id, cluster_id,
           {_split_case_sql(_LSS_SPLITS, "(cluster_id * 2654435761) % 4294967296")} AS split
    FROM lab ORDER BY vec_id
    """,
    tags=("sampling", "split", "leakage", "dedup", "llm-pipeline"),
)
def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split
    (operators/sampling.py:leakage_safe_split): near-dup components
    (embedding-cosine pairs ≥ 0.4 within label → connected
    components) are assigned to splits AS A UNIT via the Knuth hash
    of the component representative — a document and its mirror can
    never straddle the train/test boundary. The oracle independently
    re-derives the components with a recursive CTE AND the split
    names with bit-identical boundary arithmetic, so both the
    grouping and every single assignment are hash-pinned.

    Scale: the leakage graph comes from the existing bucketed pair
    generators; connected components run as one union-find task on
    small graphs and as bounded star rounds on large ones; the final
    assignment is a narrow hash-range expression — the
    corpus never shuffles for the split itself."""
    from skopje_spark.operators.sampling import leakage_safe_split
    from skopje_spark.operators.similarity import blocked_neardup_pairs

    e = load_table(spark, sf_dir, "embeddings")
    pairs = blocked_neardup_pairs(
        e, id_col="vec_id", vec_col="embedding", block_col="label", threshold=0.4
    )
    out = leakage_safe_split(
        e, _LSS_SPLITS, id_col="vec_id", pairs=pairs
    )
    return out.select("vec_id", "cluster_id", "split").orderBy("vec_id")


def _lsh_index_probe_oracle(threshold: float = 0.5) -> str:
    """Oracle twin of the persisted-index probe: recompute the batch
    × corpus LSH candidate join and signature agreement entirely in
    SQL over the SAME parity split. The index layout is invisible to
    semantics (append == build-on-union for per-document signatures),
    so the oracle needs no notion of the on-disk index at all."""
    mins = ",\n      ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    n_hashes = len(MINHASH_COEFFS)
    rows = n_hashes // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows + j}" for j in range(rows)]
        sig = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band_id, {sig} AS band_sig FROM sig"
        )
    bands = "\n  UNION ALL\n  ".join(band_selects)
    match = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    return f"""
    WITH {_SHINGLE_HASH_CTE},
    sig AS (
      SELECT doc_id,
      {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    cand AS (
      SELECT DISTINCT p.doc_id, c.doc_id AS index_id
      FROM bands p JOIN bands c USING (band_id, band_sig)
      WHERE p.doc_id % 2 = 1 AND c.doc_id % 2 = 0
    )
    SELECT cand.doc_id, cand.index_id,
           ({match}) AS n_match,
           ({match}) / {float(n_hashes)} AS est_jaccard
    FROM cand
    JOIN sig a ON a.doc_id = cand.doc_id
    JOIN sig b ON b.doc_id = cand.index_id
    WHERE ({match}) >= {int(threshold * n_hashes)}
    ORDER BY cand.doc_id, cand.index_id
    """


@register(
    "q_dedup_lsh_index_probe",
    oracle=_lsh_index_probe_oracle(),
    tags=("dedup", "minhash", "lsh", "index", "incremental", "llm-pipeline"),
)
def q_dedup_lsh_index_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup screening against a PERSISTED corpus index
    (operators/dedup.py:lsh_index_write/append/probe): even-id
    documents are the already-held corpus — written to the index in
    two installments so the append path is exercised — and odd-id
    documents are the incoming batch, probed without ever re-reading
    corpus text. Emits every (batch, corpus) pair sharing an LSH band
    with signature agreement ≥ 8/16 — the crawl-ingest "is today's
    batch already in the lake" gate.

    The oracle recomputes candidates and agreement from raw text in
    SQL: index persistence must be semantically invisible (signatures
    are per-document, so append == build-on-union exactly)."""
    import atexit
    import shutil
    import tempfile

    from skopje_spark.operators.dedup import (
        lsh_index_append,
        lsh_index_probe,
        lsh_index_write,
    )

    d = load_table(spark, sf_dir, "documents")
    path = tempfile.mkdtemp(prefix="skopje_lsh_index_")
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    lsh_index_write(d.filter("doc_id % 4 = 0"), path)
    lsh_index_append(d.filter("doc_id % 4 = 2"), path)
    out = lsh_index_probe(d.filter("doc_id % 2 = 1"), path, threshold=0.5)
    return out.orderBy("doc_id", "index_id")


def _lsh_tuning_oracle(
    geometries=((16, 1), (8, 2), (4, 4), (2, 8)),
    jaccards=(0.3, 0.5, 0.7, 0.9),
) -> str:
    """SQL twin of lsh_tuning_report: same signature CTE, one
    banded-bucket aggregate per geometry, analytic catch columns as
    repr'd double literals (bit-identical to Spark's F.lit(float))."""
    mins = ",\n      ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    geo_sqls = []
    for bands, rows in geometries:
        band_selects = []
        for band in range(bands):
            cols = [f"mh{band * rows + j}" for j in range(rows)]
            bsig = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
            band_selects.append(
                f"SELECT {band} AS band_id, {bsig} AS band_sig FROM sig"
            )
        bands_sql = "\n      UNION ALL\n      ".join(band_selects)
        catch_cols = ", ".join(
            f"{1.0 - (1.0 - j ** rows) ** bands!r} AS catch_at_j{int(round(j * 100))}"
            for j in jaccards
        )
        geo_sqls.append(f"""
    SELECT {bands} AS bands, {rows} AS rows_per_band,
           CAST(SUM(n * (n - 1) / 2) AS BIGINT) AS n_candidate_pairs,
           COUNT(*) AS n_buckets, MAX(n) AS max_bucket, {catch_cols}
    FROM (
      SELECT band_id, band_sig, COUNT(*) AS n FROM (
      {bands_sql}
      ) GROUP BY band_id, band_sig
    )""")
        unioned = "\n    UNION ALL\n    ".join(geo_sqls)
    return f"""
    WITH {_SHINGLE_HASH_CTE},
    sig AS (
      SELECT doc_id,
      {mins}
      FROM hashed GROUP BY doc_id
    )
    {unioned}
    ORDER BY rows_per_band
    """


@register(
    "q_dedup_lsh_tuning",
    oracle=_lsh_tuning_oracle(),
    tags=("dedup", "minhash", "lsh", "tuning", "llm-pipeline"),
)
def q_dedup_lsh_tuning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-geometry tuning report
    (operators/dedup.py:lsh_tuning_report): for each (bands × rows)
    tiling of the 16-hash signature, the analytic catch-probability
    S-curve at four Jaccard levels next to the EMPIRICAL candidate
    cost on this corpus (Σ C(bucket, 2), bucket count, max bucket) —
    the "pick the cheapest geometry that still catches your target
    similarity" table. Signatures computed once; each geometry is one
    small aggregate over the 16-column signature frame."""
    from skopje_spark.operators.dedup import lsh_tuning_report

    d = load_table(spark, sf_dir, "documents")
    return lsh_tuning_report(d, "doc_id", "text")


def _crawl_ingest_oracle(threshold: float = 0.5) -> str:
    """Sequential-novelty recursion, unrolled for 3 batches: doc d in
    batch i survives iff NO SURVIVOR of an earlier batch is an LSH hit
    (shares a band AND signature agreement ≥ threshold). Mirrors the
    streaming loop exactly: the index only ever receives novel docs,
    so novelty is defined against survivors, not against everything."""
    mins = ",\n      ".join(
        f"MIN(({a} * h + {b}) % {MINHASH_PRIME}) AS mh{i}"
        for i, (a, b) in enumerate(MINHASH_COEFFS)
    )
    n_hashes = len(MINHASH_COEFFS)
    rows = n_hashes // LSH_BANDS
    band_selects = []
    for band in range(LSH_BANDS):
        cols = [f"mh{band * rows + j}" for j in range(rows)]
        bsig = " || ',' || ".join(f"CAST({c} AS VARCHAR)" for c in cols)
        band_selects.append(
            f"SELECT doc_id, {band} AS band_id, {bsig} AS band_sig FROM sig"
        )
    bands = "\n  UNION ALL\n  ".join(band_selects)
    match = " + ".join(
        f"(CASE WHEN a.mh{i} = b.mh{i} THEN 1 ELSE 0 END)" for i in range(n_hashes)
    )
    min_match = int(threshold * n_hashes)
    return f"""
    WITH {_SHINGLE_HASH_CTE},
    sig AS (
      SELECT doc_id,
      {mins}
      FROM hashed GROUP BY doc_id
    ),
    bands AS (
      {bands}
    ),
    hitpairs AS (
      -- LSH hits over the whole universe: share a band AND agree on
      -- >= {min_match}/{n_hashes} signature rows
      SELECT DISTINCT p.doc_id AS new_id, c.doc_id AS old_id
      FROM bands p JOIN bands c USING (band_id, band_sig)
      JOIN sig a ON a.doc_id = p.doc_id
      JOIN sig b ON b.doc_id = c.doc_id
      WHERE p.doc_id <> c.doc_id AND ({match}) >= {min_match}
    ),
    kept0 AS (
      SELECT doc_id FROM documents WHERE doc_id % 3 = 0
    ),
    kept1 AS (
      SELECT d.doc_id FROM documents d
      WHERE d.doc_id % 3 = 1 AND NOT EXISTS (
        SELECT 1 FROM hitpairs h JOIN kept0 k ON h.old_id = k.doc_id
        WHERE h.new_id = d.doc_id)
    ),
    kept2 AS (
      SELECT d.doc_id FROM documents d
      WHERE d.doc_id % 3 = 2 AND NOT EXISTS (
        SELECT 1 FROM hitpairs h
        WHERE h.new_id = d.doc_id AND h.old_id IN (
          SELECT doc_id FROM kept0 UNION ALL SELECT doc_id FROM kept1))
    )
    SELECT doc_id FROM kept0
    UNION ALL SELECT doc_id FROM kept1
    UNION ALL SELECT doc_id FROM kept2
    ORDER BY doc_id
    """


@register(
    "q_crawl_ingest_loop",
    oracle=_crawl_ingest_oracle(),
    tags=("dedup", "lsh", "streaming", "crawl", "llm-pipeline"),
)
def q_crawl_ingest_loop(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The END-TO-END deduplicating crawl loop under the driver gate
    (operators/dedup.py:crawl_ingest_stream): documents split into 3
    micro-batches by ``doc_id % 3``, streamed in order through the
    probe → keep-novel → append loop against an initially empty
    index. Returned: the surviving doc_ids. The oracle recomputes the
    SEQUENTIAL novelty recursion in SQL (unrolled 3 levels): a doc
    survives iff no SURVIVOR of an earlier batch shares an LSH band
    with ≥ 8/16 signature agreement — the exact semantics of
    appending only novel docs to the index. Hash equality pins the
    whole streaming protocol: batch ordering, probe correctness,
    index growth, and the ledgered exactly-once output."""
    import atexit
    import json
    import os
    import shutil
    import tempfile
    import time

    from skopje_spark.operators.dedup import (
        crawl_ingest_stream,
        lsh_index_write,
    )
    from skopje_spark.streaming.streams import file_stream

    d = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    work = tempfile.mkdtemp(prefix="skopje_crawl_")
    atexit.register(shutil.rmtree, work, ignore_errors=True)
    src = os.path.join(work, "src")
    os.makedirs(src)
    now = time.time()
    rows = d.collect()
    for i in range(3):
        fp = os.path.join(src, f"b{i}.json")
        with open(fp, "w") as f:
            for r in rows:
                if r["doc_id"] % 3 == i:
                    f.write(json.dumps(
                        {"doc_id": r["doc_id"], "text": r["text"]}) + "\n")
        os.utime(fp, (now - (3 - i) * 10, now - (3 - i) * 10))

    idx = os.path.join(work, "idx")
    out = os.path.join(work, "out")
    lsh_index_write(
        spark.createDataFrame([], "doc_id long, text string"), idx
    )
    stream = file_stream(
        spark, src, schema="doc_id long, text string", max_files_per_trigger=1
    )
    q = crawl_ingest_stream(
        stream, idx, out, os.path.join(work, "ckpt"), threshold=0.5
    )
    q.awaitTermination()
    return (
        spark.read.parquet(f"{out}/data").select("doc_id").orderBy("doc_id")
    )
