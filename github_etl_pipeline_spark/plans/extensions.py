"""M8 extension queries: dedup / similarity / text analysis / multimodal,
each registered with a DuckDB oracle generated from the SAME constants as
the Spark builders (functions/hashing.py, operators/text.py) so both
engines compute bit-identical hashes and counts.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.epoch import bucket_div_sql
from github_etl_pipeline_spark.functions.hashing import (
    MINHASH_A,
    MINHASH_B,
    MINHASH_P,
    NUM_MINHASHES,
)
from github_etl_pipeline_spark.operators import dedup as D
from github_etl_pipeline_spark.operators import similarity as S
from github_etl_pipeline_spark.operators.multimodal import extract_features
from github_etl_pipeline_spark.operators.text import (
    BPEISH_RE,
    CJK_RANGE,
    PUNCT_RE,
    STOPWORDS,
    TOKEN_RE,
    WORD_RE,
    text_profile,
)
from github_etl_pipeline_spark.plans.registry import register
from github_etl_pipeline_spark.sources.tables import fan_out, read_table


def _fan_out(spark: SparkSession, df: DataFrame) -> DataFrame:
    """See sources.tables.fan_out (promoted there in r8 so non-documents
    builders can widen pathologically narrow scans too)."""
    return fan_out(spark, df)


# Deterministic duplicate-seeding knobs shared by the media-pair and
# embedding-pair queries (see _MEDIA_SEED_SQL / _EMB_SEED_SQL below): every
# 97th id is re-unioned under id + 1e9 so pair mining provably fires at
# driver scale. Offset sits far above the replicated scale tiers' id space
# too (make_sf1 steps doc_id/vec_id by 1M per copy -> max ~1e8 at the .sf10
# tier), so seeded ids never collide with real ids at any tier this repo
# probes.
_MEDIA_SEED_MOD = 97
_MEDIA_SEED_OFFSET = 1_000_000_000


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan_out(spark, read_table(spark, sf_dir, "documents"))


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _fan_out(spark, read_table(spark, sf_dir, "embeddings"))


def _emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embeddings at the scan's NATIVE partitioning — for the IVF-build
    family, whose cost is Python-stage fixed overhead (mapInPandas Lloyd
    passes + assignment UDF), not per-row JVM compute: fan_out's
    defaultParallelism repartition multiplies every Lloyd/assignment
    stage into 32 Python-worker tasks, ~4x the whole build at tiny SF
    (measured r9: build warm 4.9s fanned vs 2.2s raw at sf0.001, flat
    1.6-2.2s raw through sf0.1). At fleet scale many input files provide
    the parallelism and fan_out is a no-op anyway, so nothing is lost.
    The brute-force/GEMM/LSH queries keep the fanned ``_emb`` — their
    per-row expression trees are the workload there."""
    return read_table(spark, sf_dir, "embeddings")

# ---------------------------------------------------------------------------
# shared SQL fragments (DuckDB), mirrors of the Spark expressions
# ---------------------------------------------------------------------------
_NORM_SQL = (
    "trim(regexp_replace(regexp_replace(lower(text), '[^a-z0-9\\s]', '', 'g'),"
    " '\\s+', ' ', 'g'))"
)
def _shingles_sql(corpus: str = "documents") -> str:
    """Word-bigram shingle CTE body over any relation/subquery yielding
    (doc_id, text) — parameterized so seeded-corpus queries
    (minhash_recall_floor) reuse the exact production shingling."""
    return f"""
  SELECT doc_id, toks,
         CASE WHEN len(toks) >= 2
              THEN list_distinct(list_transform(range(1, len(toks)), i -> toks[i] || ' ' || toks[i+1]))
              WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
              ELSE [] END AS sh
  FROM (SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS toks FROM {corpus})
"""


_SHINGLES_SQL = _shingles_sql()
_SHASH_SQL = (
    "list_distinct(list_transform(sh, s -> CAST(('0x' || substr(md5(s),1,8)) AS BIGINT)))"
)


def _sig_sql_terms(num_hashes: int = NUM_MINHASHES) -> list[str]:
    from github_etl_pipeline_spark.functions.hashing import minhash_coeffs

    a, b = (
        (MINHASH_A, MINHASH_B)
        if num_hashes == NUM_MINHASHES
        else minhash_coeffs(num_hashes)
    )
    return [
        f"CASE WHEN len(hs) > 0 THEN list_min(list_transform(hs, h -> ({a[i]} * h + {b[i]}) % {MINHASH_P})) END AS sig_{i}"
        for i in range(num_hashes)
    ]


def _sig_cte(corpus: str = "documents", num_hashes: int = NUM_MINHASHES) -> str:
    return f"""
WITH g AS ({_shingles_sql(corpus)}),
h AS (SELECT doc_id, {_SHASH_SQL} AS hs FROM g),
sig AS (SELECT doc_id, {', '.join(_sig_sql_terms(num_hashes))} FROM h)
"""


_SIG_CTE = _sig_cte()


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------
@register(
    "text_profile_documents",
    oracle=f"""
WITH f AS (
  SELECT doc_id, text,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens,
         len(regexp_extract_all(text, '{WORD_RE}')) AS n_words,
         len(regexp_extract_all(text, '{PUNCT_RE}')) AS n_punct,
         len(regexp_extract_all(lower(text), '{STOPWORDS["en"]}')) AS s_en,
         len(regexp_extract_all(lower(text), '{STOPWORDS["de"]}')) AS s_de,
         len(regexp_extract_all(lower(text), '{STOPWORDS["es"]}')) AS s_es,
         len(regexp_extract_all(lower(text), '{STOPWORDS["fr"]}')) AS s_fr,
         len(regexp_extract_all(text, '{CJK_RANGE}')) AS s_zh,
         len(regexp_extract_all(text, '{BPEISH_RE}')) AS n_bpeish_tokens
  FROM documents
)
SELECT doc_id, n_chars, n_tokens, n_bpeish_tokens,
  round(CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END, 6) AS punct_ratio,
  round(CASE WHEN n_tokens > 0 THEN CAST(s_en AS DOUBLE)/n_tokens ELSE 0.0 END, 6) AS stopword_ratio,
  CASE WHEN s_zh > 0 THEN 'zh'
       WHEN s_en >= s_de AND s_en >= s_es AND s_en >= s_fr AND s_en > 0 THEN 'en'
       WHEN s_de >= s_es AND s_de >= s_fr AND s_de > 0 THEN 'de'
       WHEN s_es >= s_fr AND s_es > 0 THEN 'es'
       WHEN s_fr > 0 THEN 'fr'
       ELSE 'und' END AS lang_pred,
  round(0.25 * (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.5 END)
      + 0.25 * least(CASE WHEN n_tokens > 0 THEN CAST(n_words AS DOUBLE)/n_tokens ELSE 0.0 END, 1.0)
      + 0.25 * (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(s_en AS DOUBLE)/n_tokens ELSE 0.0 END) > 0.02 THEN 1.0 ELSE 0.5 END)
      + 0.25 * (CASE WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) > 0.2 THEN 0.5 ELSE 1.0 END), 4) AS quality,
  CAST(('0x' || substr(md5({_NORM_SQL}), 1, 12)) AS BIGINT) AS fingerprint
FROM f
""",
    doc="text analysis: token counts, lang-ID heuristic, quality score, fingerprint — all JVM-side expressions",
)
def text_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return text_profile(_docs(spark, sf_dir))


@register(
    "source_profile_documents",
    oracle=f"""
WITH f AS (
  SELECT source,
         length(text) AS n_chars,
         len(regexp_extract_all(text, '{TOKEN_RE}')) AS n_tokens,
         len(regexp_extract_all(text, '{WORD_RE}')) AS n_words,
         len(regexp_extract_all(text, '{PUNCT_RE}')) AS n_punct,
         len(regexp_extract_all(lower(text), '{STOPWORDS["en"]}')) AS s_en,
         CAST(('0x' || substr(md5({_NORM_SQL}), 1, 12)) AS BIGINT) AS fp
  FROM documents
),
q AS (
  SELECT source, n_tokens, fp,
    round(0.25 * (CASE WHEN n_chars BETWEEN 100 AND 20000 THEN 1.0 ELSE 0.5 END)
        + 0.25 * least(CASE WHEN n_tokens > 0 THEN CAST(n_words AS DOUBLE)/n_tokens ELSE 0.0 END, 1.0)
        + 0.25 * (CASE WHEN (CASE WHEN n_tokens > 0 THEN CAST(s_en AS DOUBLE)/n_tokens ELSE 0.0 END) > 0.02 THEN 1.0 ELSE 0.5 END)
        + 0.25 * (CASE WHEN (CASE WHEN n_chars > 0 THEN CAST(n_punct AS DOUBLE)/n_chars ELSE 0.0 END) > 0.2 THEN 0.5 ELSE 1.0 END), 4) AS q
  FROM f
)
SELECT source,
  COUNT(*) AS n_docs,
  CAST(SUM(n_tokens) AS BIGINT) AS total_tokens,
  round(CAST(SUM(n_tokens) AS DOUBLE) / COUNT(*), 6) AS avg_tokens,
  round(CAST(SUM(CAST(q AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*), 6) AS avg_quality,
  COUNT(DISTINCT fp) AS n_distinct,
  round(1.0 - CAST(COUNT(DISTINCT fp) AS DOUBLE) / COUNT(*), 6) AS dup_ratio
FROM q GROUP BY source
""",
    doc="per-source curation dashboard: volume, token mass, order-independent decimal-summed mean quality, fingerprint dup rate — one map-side-combined shuffle of (source, partials)",
)
def source_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import source_profile

    return source_profile(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dedup: exact
# ---------------------------------------------------------------------------
@register(
    "exact_dedup_documents",
    oracle=f"""
SELECT md5({_NORM_SQL}) AS content_hash, MIN(doc_id) AS keep_id, COUNT(*) AS n_dups
FROM documents GROUP BY 1
""",
    doc="exact dedup: hash-groupBy on md5(normalized text); shuffles 16-byte keys, not documents",
)
def exact_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.exact_dedup(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dedup: MinHash signatures + end-to-end LSH near-dup pairs
# ---------------------------------------------------------------------------
@register(
    "minhash_signatures_documents",
    oracle=_SIG_CTE + "SELECT * FROM sig",
    doc="MinHash signatures (16 md5-derived universal hashes over distinct word-bigram shingles)",
)
def minhash_signatures_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_signature(_docs(spark, sf_dir))


def _band_sql(bands: int = 4, num_hashes: int = NUM_MINHASHES) -> str:
    rows = num_hashes // bands
    parts = []
    for b in range(bands):
        cols = " || ',' || ".join(
            f"CAST(sig_{b * rows + r} AS VARCHAR)" for r in range(rows)
        )
        parts.append(f"SELECT doc_id, {b} AS band, md5({cols}) AS bh FROM sig")
    return " UNION ALL ".join(parts)


def _minhash_pairs_oracle(threshold: float) -> str:
    return (
        _SIG_CTE
        + f""",
bandkeys AS ({_band_sql(4)}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
hs AS (SELECT doc_id, {_SHASH_SQL} AS hs FROM g)
SELECT id_a, id_b,
       round(CASE WHEN len(list_distinct(x.hs || y.hs)) > 0
             THEN CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) / len(list_distinct(x.hs || y.hs))
             ELSE 0.0 END, 6) AS jaccard
FROM cand JOIN hs x ON x.doc_id = id_a JOIN hs y ON y.doc_id = id_b
WHERE CASE WHEN len(list_distinct(x.hs || y.hs)) > 0
      THEN CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) / len(list_distinct(x.hs || y.hs))
      ELSE 0.0 END >= {threshold}
"""
    )


@register(
    "minhash_dup_pairs_documents",
    oracle=_minhash_pairs_oracle(0.2),
    doc="end-to-end MinHash+LSH near-dup: signatures -> 4-band buckets -> candidate pairs -> exact Jaccard >= 0.2",
)
def minhash_dup_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.2)


# ---------------------------------------------------------------------------
# Dedup: n-gram Jaccard pairs at the dedup threshold 0.5 — served by the
# linear-time LSH pipeline (the brute-force all-pairs jaccard_pairs is
# test/oracle-only with a hard row cap; no registered query carries a
# cartesian product over the corpus — VERDICT r1 item 3)
# ---------------------------------------------------------------------------
@register(
    "ngram_jaccard_pairs_documents",
    oracle=_minhash_pairs_oracle(0.5),
    doc="shingle-Jaccard pairs >= 0.5 via the MinHash+LSH banding pipeline (linear-time; brute force is test-only)",
)
def ngram_jaccard_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.minhash_dedup_pairs(_docs(spark, sf_dir), threshold=0.5)


# ---------------------------------------------------------------------------
# Dedup: connected components over the near-dup pair graph (the step a
# real dedup pipeline runs AFTER pair mining: transitive closure + one
# canonical doc per group). Oracle: DuckDB recursive CTE propagating the
# min label over the bidirected edge set — same fixpoint the Spark
# min-label iteration converges to.
# ---------------------------------------------------------------------------
def _dup_clusters_oracle(
    threshold: float = 0.2, final_select: str | None = None
) -> str:
    """``final_select`` replaces the terminal projection over the ``cl``
    (doc_id, cluster_id) relation — the parameterization the leakage /
    canonical-dedup oracles compose through (a string .replace on the
    default select silently no-ops if the anchor is ever reworded —
    ADVICE r11)."""
    jac = (
        "CASE WHEN len(list_distinct(x.hs || y.hs)) > 0 "
        "THEN CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) / len(list_distinct(x.hs || y.hs)) "
        "ELSE 0.0 END"
    )
    if final_select is None:
        final_select = "SELECT doc_id, cluster_id FROM cl"
    return (
        _SIG_CTE.replace("WITH ", "WITH RECURSIVE ", 1)
        + f""",
bandkeys AS ({_band_sql(4)}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
hs AS (SELECT doc_id, {_SHASH_SQL} AS hs FROM g),
verified AS (
  SELECT id_a, id_b
  FROM cand JOIN hs x ON x.doc_id = id_a JOIN hs y ON y.doc_id = id_b
  WHERE {jac} >= {threshold}
),
bi AS (
  SELECT id_a AS src, id_b AS dst FROM verified
  UNION ALL SELECT id_b, id_a FROM verified
),
walk(id, lbl) AS (
  SELECT doc_id, doc_id FROM documents
  UNION
  SELECT b.dst, w.lbl FROM walk w JOIN bi b ON b.src = w.id
),
cl AS (SELECT id AS doc_id, MIN(lbl) AS cluster_id FROM walk GROUP BY id)
{final_select}
"""
    )


@register(
    "dup_clusters_documents",
    oracle=_dup_clusters_oracle(0.2),
    doc="near-dup connected components: MinHash+LSH pairs -> min-label propagation -> (doc_id, cluster_id) with the min doc as canonical; oracle is a recursive-CTE transitive closure",
)
def dup_clusters_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.dup_clusters(_docs(spark, sf_dir), threshold=0.2)


@register(
    "dedup_canonical_documents",
    oracle=_dup_clusters_oracle(
        0.2,
        final_select="""SELECT d.doc_id, d.source, d.n_chars
FROM documents d JOIN cl ON cl.doc_id = d.doc_id
WHERE cl.cluster_id = d.doc_id""",
    ),
    doc="end-to-end near-dup corpus cleaning: keep exactly ONE canonical doc (the min id) per MinHash+LSH connected component — the kept-set a curation pipeline ships to training; cluster labels are skinny (id, id) rows, the text re-attaches via one equi-join",
)
def dedup_canonical_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    clusters = D.dup_clusters(docs, threshold=0.2)
    canon = clusters.where(F.col("doc_id") == F.col("cluster_id")).select("doc_id")
    return docs.join(canon, "doc_id").select("doc_id", "source", "n_chars")


# ---------------------------------------------------------------------------
# MinHash-LSH recall floor (VERDICT r11 #2): every MinHash-family query is
# hash-exact because the oracle MIRRORS the banding — parity, not quality.
# This query transplants the embedding_lsh_recall_floor pattern to text:
# seed synthetic near-dup pairs at KNOWN shingle Jaccard (three tiers),
# mine the seeded corpus with the production 4-band / threshold-0.2 config
# (the split_leakage_audit machinery), and emit found/not-found per seed
# pair — the measured probability a true Jaccard-J pair survives the b x r
# banding, which is exactly the recall the leakage audit inherits.
#
# Seed construction (token-level, fully controlled): for every 17th doc,
# both pair members are built from doc_id alone — N=50 tokens each, the
# first S shared ('q<id>x<i>') and the rest disjoint ('z<id>x<i>'), so
# with distinct word bigrams each side has N-1=49 shingles sharing exactly
# S-1 — realized Jaccard = (S-1)/(2N-S-1), a rational both engines hit
# bit-for-bit. S per tier: 45 -> 44/54 = 0.814815, 34 -> 33/65 = 0.507692,
# 21 -> 20/78 = 0.256410; tier = (doc_id % 51) // 17, deterministic.
# All tiers clear the 0.2 verify threshold, so `found` isolates BANDING
# recall (sig-agreement prob ~= J per row, band = 4 rows, 4 bands:
# expected 1-(1-J^4)^4 ~= 0.90 / 0.24 / 0.02 — the classic S-curve).
# ---------------------------------------------------------------------------
_MH_SEED_MOD = 17
_MH_SEED_OFFSET_A = 3_000_000_000
_MH_SEED_OFFSET_B = 4_000_000_000
_MH_SEED_N = 50
# tier index -> (shared-prefix tokens S, tier label, realized Jaccard)
_MH_TIERS = {0: (45, "j81", 0.814815), 1: (34, "j51", 0.507692), 2: (21, "j26", 0.25641)}

_MH_S_CASE = (
    "CASE (doc_id % 51) // 17 "
    + " ".join(f"WHEN {t} THEN {s}" for t, (s, _, _) in _MH_TIERS.items() if t < 2)
    + f" ELSE {_MH_TIERS[2][0]} END"
)

# token text is built in an INNER subquery over the BASE doc_id and the
# offset id is attached outside: `doc_id` referenced inside a lambda in
# the same SELECT that re-aliases it is resolved differently by the two
# engines (Spark's lateral-column-alias rules pick the new alias, DuckDB
# the input column) — the nesting removes the ambiguity entirely
_MH_SEED_SQL = f"""SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {_MH_SEED_OFFSET_A} AS doc_id, text FROM (
  SELECT doc_id,
         array_to_string(list_transform(range(1, {_MH_SEED_N + 1}),
           i -> 'q' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ') AS text
  FROM documents WHERE doc_id % {_MH_SEED_MOD} = 0
)
UNION ALL
SELECT doc_id + {_MH_SEED_OFFSET_B} AS doc_id, text FROM (
  SELECT doc_id,
         array_to_string(list_transform(range(1, {_MH_SEED_N + 1}),
           i -> CASE WHEN i <= s THEN 'q' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)
                     ELSE 'z' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR) END), ' ') AS text
  FROM (SELECT doc_id, {_MH_S_CASE} AS s FROM documents WHERE doc_id % {_MH_SEED_MOD} = 0)
)"""


def _minhash_recall_oracle(
    threshold: float = 0.2,
    bands: int = 4,
    num_hashes: int = NUM_MINHASHES,
) -> str:
    jac = (
        "CASE WHEN len(list_distinct(x.hs || y.hs)) > 0 "
        "THEN CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE) / len(list_distinct(x.hs || y.hs)) "
        "ELSE 0.0 END"
    )
    tier_case = (
        "CASE (doc_id % 51) // 17 "
        + " ".join(f"WHEN {t} THEN '{lbl}'" for t, (_, lbl, _) in _MH_TIERS.items() if t < 2)
        + f" ELSE '{_MH_TIERS[2][1]}' END"
    )
    tj_case = (
        "CASE (doc_id % 51) // 17 "
        + " ".join(f"WHEN {t} THEN {tj!r}" for t, (_, _, tj) in _MH_TIERS.items() if t < 2)
        + f" ELSE {_MH_TIERS[2][2]!r} END"
    )
    return (
        _sig_cte(f"({_MH_SEED_SQL})", num_hashes)
        + f""",
bandkeys AS ({_band_sql(bands, num_hashes)}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
hs AS (SELECT doc_id, {_SHASH_SQL} AS hs FROM g),
verified AS (
  SELECT id_a, id_b
  FROM cand JOIN hs x ON x.doc_id = id_a JOIN hs y ON y.doc_id = id_b
  WHERE {jac} >= {threshold}
),
expected AS (
  SELECT doc_id + {_MH_SEED_OFFSET_A} AS id_a,
         doc_id + {_MH_SEED_OFFSET_B} AS id_b,
         {tier_case} AS tier,
         {tj_case} AS target_jaccard
  FROM documents WHERE doc_id % {_MH_SEED_MOD} = 0
)
SELECT x.id_a, x.id_b, x.tier, x.target_jaccard,
       CAST(CASE WHEN v.id_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS found
FROM expected x LEFT JOIN verified v ON v.id_a = x.id_a AND v.id_b = x.id_b
"""
    )


def minhash_recall_seed_union(docs: DataFrame) -> DataFrame:
    """Spark mirror of _MH_SEED_SQL over any (doc_id, text) corpus —
    shared by the registered recall-floor query, the seed-validation
    pytest, and the SCALING recall probe (replicated tiers)."""
    docs = docs.select("doc_id", "text")
    sel = docs.where(F.col("doc_id") % _MH_SEED_MOD == 0).select("doc_id")
    idx = F.sequence(F.lit(1), F.lit(_MH_SEED_N))

    def qtok(i):
        return F.concat(
            F.lit("q"), F.col("doc_id").cast("string"), F.lit("x"), i.cast("string")
        )

    def ztok(i):
        return F.concat(
            F.lit("z"), F.col("doc_id").cast("string"), F.lit("x"), i.cast("string")
        )

    # text is computed BEFORE the id alias (see _MH_SEED_SQL's comment:
    # lateral-alias shadowing of doc_id resolves differently across
    # engines when both happen in one SELECT)
    seed_a = sel.select(
        F.col("doc_id"), F.array_join(F.transform(idx, qtok), " ").alias("text")
    ).select((F.col("doc_id") + F.lit(_MH_SEED_OFFSET_A)).alias("doc_id"), "text")
    tier_idx = F.expr("(doc_id % 51) DIV 17")
    s = (
        F.when(tier_idx == 0, F.lit(_MH_TIERS[0][0]))
        .when(tier_idx == 1, F.lit(_MH_TIERS[1][0]))
        .otherwise(F.lit(_MH_TIERS[2][0]))
    )
    seed_b = (
        sel.withColumn("_s", s)
        .select(
            F.col("doc_id"),
            F.array_join(
                F.transform(
                    idx, lambda i: F.when(i <= F.col("_s"), qtok(i)).otherwise(ztok(i))
                ),
                " ",
            ).alias("text"),
        )
        .select((F.col("doc_id") + F.lit(_MH_SEED_OFFSET_B)).alias("doc_id"), "text")
    )
    return docs.unionAll(seed_a).unionAll(seed_b)


def minhash_recall_expected(docs: DataFrame) -> DataFrame:
    """(id_a, id_b, tier, target_jaccard) — the constructed ground-truth
    pair inventory for ``minhash_recall_seed_union``'s seeds."""
    tier_idx = F.expr("(doc_id % 51) DIV 17")
    return docs.where(F.col("doc_id") % _MH_SEED_MOD == 0).select(
        (F.col("doc_id") + F.lit(_MH_SEED_OFFSET_A)).alias("id_a"),
        (F.col("doc_id") + F.lit(_MH_SEED_OFFSET_B)).alias("id_b"),
        F.when(tier_idx == 0, _MH_TIERS[0][1])
        .when(tier_idx == 1, _MH_TIERS[1][1])
        .otherwise(_MH_TIERS[2][1])
        .alias("tier"),
        F.when(tier_idx == 0, F.lit(_MH_TIERS[0][2]))
        .when(tier_idx == 1, F.lit(_MH_TIERS[1][2]))
        .otherwise(F.lit(_MH_TIERS[2][2]))
        .alias("target_jaccard"),
    )


@register(
    "minhash_recall_floor",
    oracle=_minhash_recall_oracle(0.2),
    doc="MinHash-LSH recall gate as a query (the embedding_lsh_recall_floor pattern transplanted to text — VERDICT r11 #2): seed synthetic near-dup pairs at KNOWN shingle Jaccard (three tiers: 0.815 / 0.508 / 0.256, token-level construction so the rational is engine-exact), mine the seeded corpus with the production 4-band x 4-row banding at threshold 0.2 (the split_leakage_audit config), emit found/not-found per seed pair vs constructed ground truth — the measured probability a true Jaccard-J pair survives the banding, i.e. the recall the leakage audit inherits; all tiers clear the verify threshold so `found` isolates banding recall (expected S-curve 1-(1-J^4)^4); oracle mirrors seed construction, shingling, signatures, banding, and verify",
)
def minhash_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    corpus = minhash_recall_seed_union(docs)
    pairs = D.minhash_dedup_pairs(corpus, threshold=0.2)
    hits = pairs.select("id_a", "id_b").withColumn("_hit", F.lit(1))
    return minhash_recall_expected(docs).join(hits, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "tier",
        "target_jaccard",
        F.coalesce(F.col("_hit"), F.lit(0)).cast("long").alias("found"),
    )


# The minhash_bands_for_recall scale mode as a CHECKED query (the
# embedding_lsh_recall_tuned pattern): FIXED literals below are exactly
# minhash_bands_for_recall(0.2, target_recall=0.9, rows=2) — pinned by
# tests/test_minhash_recall.py::test_tuned_query_params_match_helper so
# the linkage can't drift silently. Literals (not a runtime call)
# because the oracle's sig/band CTEs are a fixed string.
_MH_TUNED = dict(bands=57, num_hashes=114)


@register(
    "minhash_recall_tuned",
    oracle=_minhash_recall_oracle(0.2, **_MH_TUNED),
    doc="the minhash_bands_for_recall scale mode as a query: same seeded exact-Jaccard ground truth as minhash_recall_floor, mined with the recall-tuned banding the helper selects for threshold 0.2 / target 0.9 (57 bands x 2 rows = 114 permutations vs production's 4 x 4 = 16) — narrower bands move the S-curve's center down to the audit threshold: theory 1-(1-J^2)^57 = 1.0 / 1.0 / 0.98 per tier vs the fixed config's 0.90 / 0.24 / 0.02; each extra permutation is one (a*h+b)%P arithmetic fold over the already-hashed shingles (no extra md5/tokenize), and the banding shuffle carries 57/4x more key rows — the priced cost of an audit-grade recall floor (SCALING.md tiers)",
)
def minhash_recall_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    corpus = minhash_recall_seed_union(docs)
    pairs = D.minhash_dedup_pairs(corpus, threshold=0.2, **_MH_TUNED)
    hits = pairs.select("id_a", "id_b").withColumn("_hit", F.lit(1))
    return minhash_recall_expected(docs).join(hits, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        "tier",
        "target_jaccard",
        F.coalesce(F.col("_hit"), F.lit(0)).cast("long").alias("found"),
    )


# ---------------------------------------------------------------------------
# Dedup: winnowing fingerprints (MOSS local sketches)
# ---------------------------------------------------------------------------
def _winnowing_oracle(k: int = 2, window: int = 4) -> str:
    return f"""
WITH t AS (SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS toks FROM documents),
g AS (
  SELECT doc_id,
         CASE WHEN len(toks) >= {k}
              THEN list_transform(range(1, len(toks) - {k - 2}), i -> {" || ' ' || ".join(f"toks[i+{j}]" for j in range(k))})
              WHEN len(toks) > 0 THEN [array_to_string(toks, ' ')]
              ELSE [] END AS grams
  FROM t
),
h AS (
  SELECT doc_id,
         list_transform(grams, s -> CAST(('0x' || substr(md5(s),1,8)) AS BIGINT)) AS hs
  FROM g WHERE len(grams) > 0
),
w AS (
  SELECT doc_id,
         list_distinct(list_transform(
           range(1, greatest(len(hs) - {window} + 1, 1) + 1),
           i -> list_min(hs[i : i + {window} - 1]))) AS fps
  FROM h
)
SELECT doc_id, unnest(fps) AS fingerprint FROM w
"""


@register(
    "winnowing_fingerprints_documents",
    oracle=_winnowing_oracle(),
    doc="winnowing (MOSS) local fingerprints: min-hash of each sliding window over the positional 2-gram hash sequence, distinct per doc — guarantees shared substrings >= window+k-1 words collide; array exprs in the scan, 8-byte hashes shuffled",
)
def winnowing_fingerprints_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.winnowing_fingerprints(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Dedup: SimHash (generated 48-bit bit-vote SQL on both sides)
# ---------------------------------------------------------------------------
def _simhash_oracle() -> str:
    votes = ",\n       ".join(
        f"SUM(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(D.SIMHASH_BITS)
    )
    bits = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN CAST({2**b} AS BIGINT) ELSE 0 END)"
        for b in range(D.SIMHASH_BITS)
    )
    return f"""
WITH t AS (
  SELECT doc_id, unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS tok FROM documents
),
h AS (SELECT doc_id, CAST(('0x' || substr(md5(tok),1,12)) AS BIGINT) AS h FROM t),
v AS (SELECT doc_id, {votes} FROM h GROUP BY doc_id)
SELECT doc_id, {bits} AS simhash FROM v
"""


@register(
    "simhash_documents",
    oracle=_simhash_oracle(),
    doc="48-bit SimHash per document via exploded-token bit votes (map-side combined aggregate)",
)
def simhash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash(_docs(spark, sf_dir))


def _simhash_pairs_oracle(max_hamming: int = 3) -> str:
    """Brute-force Hamming-pairs SQL over the simhash CTE. The Spark side
    uses the banded join, which is LOSSLESS for distance <= bands-1
    (pigeonhole), so brute force is a true equality oracle here."""
    base = _simhash_oracle().rstrip()
    return f"""
WITH s AS ({base})
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
FROM s a JOIN s b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}
"""


@register(
    "simhash_dup_pairs",
    oracle=_simhash_pairs_oracle(3),
    doc="SimHash near-dup pairs (hamming <= 3) via lossless 4-band bucketing join — exact vs the brute-force oracle by pigeonhole",
)
def simhash_dup_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.simhash_pairs(_docs(spark, sf_dir), max_hamming=3, bands=4)


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------
@register(
    "ann_topk_bruteforce",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         list_dot_product(e.ev, q.qv) / (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
""",
    doc="exact brute-force cosine top-k (ranks only — float-sum-order safe); the ANN baseline",
)
def ann_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.cosine_topk(emb, queries, k=5)


def _ann_lsh_oracle(
    k: int = 5, n_planes: int = 12, bands: int = 3, dim: int = 64
) -> str:
    """DuckDB mirror of ann_lsh_topk: identical deterministic hyperplanes
    (md5-derived literals), identical band buckets, identical exact
    rerank — queries are the vec_id < 5 subset of the corpus, so their
    band keys come from the same bk relation."""
    from github_etl_pipeline_spark.operators.similarity import _hyperplanes

    rows = n_planes // bands
    planes = _hyperplanes(dim, n_planes)
    band_selects = []
    for b in range(bands):
        bits = []
        for r in range(b * rows, b * rows + rows):
            lits = ", ".join(repr(x) for x in planes[r])
            bits.append(
                f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN '1' ELSE '0' END)"
            )
        band_selects.append(
            f"SELECT vec_id, {b} AS band, " + " || ".join(bits) + " AS bh FROM e"
        )
    union = " UNION ALL ".join(band_selects)
    return f"""
WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT vec_id AS query_id, v AS qv FROM e WHERE vec_id < 5),
bk AS ({union}),
cand AS (
  SELECT DISTINCT qb.query_id, a.vec_id AS neighbor_id
  FROM bk a
  JOIN (SELECT vec_id AS query_id, band, bh FROM bk WHERE vec_id < 5) qb
    ON a.band = qb.band AND a.bh = qb.bh AND a.vec_id != qb.query_id
),
s AS (
  SELECT c.query_id, c.neighbor_id,
         list_dot_product(x.v, q.qv)
           / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(q.qv, q.qv))) AS cos
  FROM cand c JOIN e x ON x.vec_id = c.neighbor_id JOIN q ON q.query_id = c.query_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= {k}
"""


@register(
    "ann_topk_lsh",
    oracle=_ann_lsh_oracle(),
    doc="approximate top-k via random-hyperplane LSH banding + exact rerank; oracle mirrors the banding and rerank exactly",
)
def ann_topk_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.ann_lsh_topk(emb, queries, k=5)


_EMB_CORPUS_SQL = "SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings"


def _hyperplane_pairs_ctes(
    threshold: float,
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    corpus_sql: str = _EMB_CORPUS_SQL,
    target_bucket: int | None = None,
) -> str:
    """CTE body of the embedding_dup_pairs_lsh mirror (shared by the
    pairs oracle and the recursive clusters oracle in plans/curation.py):
    the SAME deterministic hyperplanes (md5-derived literals), the same
    band buckets, the same exact-cosine verify — so Spark and the oracle
    agree pair-for-pair. Ends with a ``verified(id_a, id_b)`` CTE.
    ``corpus_sql`` lets the seeded pairs query swap in a corpus with
    known duplicates (must yield (vec_id, v DOUBLE[])).

    ``target_bucket`` mirrors the operator's ADAPTIVE DEPTH (r10 scale
    fix): the bucket is the first B = ceil(log2(ceil(n/target))) chars
    of the sign string, B computed by a scalar subquery over the same
    corpus the Spark side counts — integer-exact cross-engine (see
    ``operators.dedup.adaptive_lsh_depth``)."""
    from github_etl_pipeline_spark.operators.similarity import _hyperplanes

    rows = n_planes // bands
    planes = _hyperplanes(dim, n_planes)
    depth_cte = ""
    bh_wrap = "{bits}"
    if target_bucket is not None:
        # integer ceil-div keeps m bit-identical to the Python side
        depth_cte = (
            f"dpt AS (SELECT GREATEST(1, LEAST({rows}, CAST(ceil(log2(GREATEST(1, "
            f"(COUNT(*) + {target_bucket} - 1) // {target_bucket}))) "
            f"AS INT))) AS b FROM e),\n"
        )
        bh_wrap = "substr({bits}, 1, (SELECT b FROM dpt))"
    band_selects = []
    for b in range(bands):
        bits = []
        for r in range(b * rows, b * rows + rows):
            lits = ", ".join(repr(x) for x in planes[r])
            bits.append(
                f"(CASE WHEN list_dot_product(v, [{lits}]) >= 0 THEN '1' ELSE '0' END)"
            )
        bh = bh_wrap.format(bits=" || ".join(bits))
        band_selects.append(f"SELECT vec_id, {b} AS band, {bh} AS bh FROM e")
    union = " UNION ALL ".join(band_selects)
    return f"""e AS ({corpus_sql}),
{depth_cte}bk AS ({union}),
cand AS (
  SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
  FROM bk a JOIN bk b ON a.band = b.band AND a.bh = b.bh AND a.vec_id < b.vec_id
),
verified AS (
  SELECT id_a, id_b
  FROM cand JOIN e x ON x.vec_id = id_a JOIN e y ON y.vec_id = id_b
  WHERE list_dot_product(x.v, y.v) / (sqrt(list_dot_product(x.v, x.v)) * sqrt(list_dot_product(y.v, y.v))) >= {threshold}
)"""


def _hyperplane_pairs_oracle(
    threshold: float,
    n_planes: int = 64,
    bands: int = 8,
    dim: int = 64,
    corpus_sql: str = _EMB_CORPUS_SQL,
    target_bucket: int | None = None,
) -> str:
    return (
        f"WITH {_hyperplane_pairs_ctes(threshold, n_planes, bands, dim, corpus_sql, target_bucket)}\n"
        "SELECT id_a, id_b FROM verified"
    )


# Seeded duplicate embeddings for the pair query: the generated corpus is
# near-random at 64d, so cosine >= 0.45 pairs are vanishingly rare (1 row at
# sf0.01 in r1/r5/r7 — VERDICT r8 "What's missing" #2 called the evidence
# thin). Both engines union every 97th vector back in under a shifted id:
# identical vectors share every band hash and verify at cosine 1.0, so the
# driver hash check asserts the full band->candidate->verify chain on known
# positives while keeping the organic near-pairs.
_EMB_SEED_SQL = (
    f"SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM ("
    f"SELECT vec_id, embedding FROM embeddings UNION ALL "
    f"SELECT vec_id + {_MEDIA_SEED_OFFSET} AS vec_id, embedding FROM embeddings "
    f"WHERE vec_id % {_MEDIA_SEED_MOD} = 0)"
)


def _seed_union(emb: DataFrame) -> DataFrame:
    """Union the deterministic exact-duplicate seeds (every 97th vector
    re-unioned under id + 1e9) onto any (vec_id, embedding) corpus —
    the Spark mirror of _EMB_SEED_SQL."""
    dups = emb.where(F.col("vec_id") % _MEDIA_SEED_MOD == 0).select(
        (F.col("vec_id") + F.lit(_MEDIA_SEED_OFFSET)).alias("vec_id"), "embedding"
    )
    return emb.unionAll(dups)


def _seeded_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _seed_union(_emb(spark, sf_dir).select("vec_id", "embedding"))


def _seeded_emb_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seeded corpus at the scan's NATIVE partitioning (see _emb_raw):
    the IVF-build family's fixed-overhead argument applies to the
    cluster-based semdedup too — its Lloyd passes and assignment UDF are
    Python-stage fixed cost, not per-row JVM compute."""
    return _seed_union(_emb_raw(spark, sf_dir).select("vec_id", "embedding"))


# r10 scale fix (VERDICT r9 #4): fixed 8-bit buckets made candidates
# quadratic-with-small-constant — the sf10 probe (200k vectors) spilled
# >78 GB and exhausted the disk. The registered queries now use ADAPTIVE
# depth (target bucket multiplicity 8, up to 16 bits/band from 128
# planes), pinning candidates-per-row constant across tiers; the oracle
# computes the same depth via a scalar subquery. Seeded exact dups are
# depth-invariant, so the driver-checked signal is unchanged.
_EMB_PAIR_LSH = dict(n_planes=128, bands=8, target_bucket=8)


@register(
    "embedding_high_sim_pairs",
    oracle=_hyperplane_pairs_oracle(
        0.45, n_planes=128, bands=8, corpus_sql=_EMB_SEED_SQL, target_bucket=8
    ),
    doc="embedding-cosine near-dup pairs >= 0.45 via depth-adaptive hyperplane-LSH banding + exact verify (bucket bits grow with log(n) so candidate volume stays linear; oracle mirrors banding AND depth; recall at this near-random threshold is regime-limited — see operator docstring). Both engines seed a duplicate of every 97th vector under a shifted id so the check asserts known cosine-1.0 positives, not just the corpus's near-absent organic pairs",
)
def embedding_high_sim_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return D.embedding_dup_pairs_lsh(
        _seeded_emb(spark, sf_dir), threshold=0.45, **_EMB_PAIR_LSH
    )


# ---------------------------------------------------------------------------
# LSH recall floor as a CHECKED query (VERDICT r10 #2): the adaptive-depth
# fix bounded candidate volume by trading recall at moderate cosine, and
# the only driver-checked positives were seeded cos=1.0 exact duplicates —
# depth-INVARIANT by construction, so they could never witness the decay.
# This query seeds near-dups at cos ~= 0.85 (a deterministic in-plane
# rotation of every 29th vector, NOT a copy), runs the production miner at
# the depth the corpus size selects, and emits found/not-found per seed
# pair vs the constructed ground truth. The oracle mirrors the seed
# construction, the banding, the adaptive depth, and the verify, so the
# driver hash check pins the measured recall cross-engine;
# tests/test_embedding_lsh_recall.py asserts the floor and the
# bands_for_recall scale mode that restores it at deeper depths.
# ---------------------------------------------------------------------------
_RECALL_SEED_MOD = 29
_RECALL_SEED_OFFSET = 2_000_000_000
_RECALL_COS = 0.85
_RECALL_SIN = 0.526782687642637  # sqrt(1 - 0.85^2), repr-exact both engines

# rotate v by acos(0.85) in the plane spanned by v and e_1: with
# u = e_1 - (v_1/|v|^2) v (Gram-Schmidt), the rotated vector
# v' = a*v + beta*e_1 where beta = sin*|v|/|u| and a = cos - beta*v_1/|v|^2
# has EXACTLY cos(v, v') = 0.85 and |v'| = |v|. Every arithmetic step is
# written in the same order in both engines (IEEE-identical doubles).
_RECALL_SEED_SQL = f"""SELECT vec_id, v FROM (
  SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
  UNION ALL
  SELECT vec_id + {_RECALL_SEED_OFFSET} AS vec_id,
         list_transform(range(1, 65),
           i -> CASE WHEN i = 1 THEN aa * v[i] + beta ELSE aa * v[i] END) AS v
  FROM (
    SELECT vec_id, v, beta, {_RECALL_COS!r} - beta * v0 / nv2 AS aa FROM (
      SELECT vec_id, v, nv2, v0,
             {_RECALL_SIN!r} * sqrt(nv2) / sqrt(1.0 - v0 * v0 / nv2) AS beta
      FROM (
        SELECT vec_id, v, list_dot_product(v, v) AS nv2, v[1] AS v0
        FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
              WHERE vec_id % {_RECALL_SEED_MOD} = 0)
      )
    )
  )
)"""


def recall_seed_union(emb: DataFrame) -> DataFrame:
    """Spark mirror of _RECALL_SEED_SQL's seeding over an arbitrary
    (vec_id, embedding array<double>) corpus: union cos-0.85 rotated
    copies of every 29th vector under shifted ids. Shared by the
    registered recall-floor query, the scaled-tier recall tests, and the
    SCALING recall probe (which feed it the replicated .sf3/.sf10
    corpora)."""
    base = emb.where(F.col("vec_id") % _RECALL_SEED_MOD == 0).select(
        "vec_id", F.col("embedding").alias("v")
    )
    sc = base.select(
        "vec_id",
        "v",
        S.dot_expr(F.col("v"), F.col("v")).alias("nv2"),
        F.element_at("v", 1).alias("v0"),
    )
    sc = sc.select(
        "vec_id",
        "v",
        "nv2",
        "v0",
        (
            F.lit(_RECALL_SIN)
            * F.sqrt("nv2")
            / F.sqrt(F.lit(1.0) - F.col("v0") * F.col("v0") / F.col("nv2"))
        ).alias("beta"),
    )
    sc = sc.select(
        "vec_id",
        "v",
        "beta",
        (F.lit(_RECALL_COS) - F.col("beta") * F.col("v0") / F.col("nv2")).alias("aa"),
    )
    seeds = sc.select(
        (F.col("vec_id") + F.lit(_RECALL_SEED_OFFSET)).alias("vec_id"),
        F.transform(
            "v",
            lambda x, i: F.when(
                i == 0, F.col("aa") * x + F.col("beta")
            ).otherwise(F.col("aa") * x),
        ).alias("embedding"),
    )
    return emb.unionAll(seeds)


def _recall_seed_emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return recall_seed_union(
        _emb(spark, sf_dir).select(
            "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
        )
    )


def _recall_found_flags(spark: SparkSession, sf_dir: str, lsh_kw: dict) -> DataFrame:
    corpus = _recall_seed_emb(spark, sf_dir)
    pairs = D.embedding_dup_pairs_lsh(corpus, threshold=0.45, **lsh_kw)
    expected = _emb(spark, sf_dir).where(
        F.col("vec_id") % _RECALL_SEED_MOD == 0
    ).select(
        F.col("vec_id").alias("id_a"),
        (F.col("vec_id") + F.lit(_RECALL_SEED_OFFSET)).alias("id_b"),
    )
    hits = pairs.withColumn("_hit", F.lit(1))
    return expected.join(hits, ["id_a", "id_b"], "left").select(
        "id_a",
        "id_b",
        F.coalesce(F.col("_hit"), F.lit(0)).cast("long").alias("found"),
    )


@register(
    "embedding_lsh_recall_floor",
    oracle=f"""
WITH {_hyperplane_pairs_ctes(0.45, n_planes=128, bands=8, corpus_sql=_RECALL_SEED_SQL, target_bucket=8)},
expected AS (
  SELECT vec_id AS id_a, vec_id + {_RECALL_SEED_OFFSET} AS id_b
  FROM embeddings WHERE vec_id % {_RECALL_SEED_MOD} = 0
)
SELECT x.id_a, x.id_b,
       CAST(CASE WHEN v.id_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS found
FROM expected x LEFT JOIN verified v ON v.id_a = x.id_a AND v.id_b = x.id_b
""",
    doc="LSH recall gate as a query: seed cos=0.85 near-dups (deterministic in-plane rotation, not copies) of every 29th vector, mine with the production depth-adaptive miner, emit found/not-found per seed pair vs constructed ground truth — the recall the adaptive-depth tradeoff is graded on, hash-checked cross-engine (oracle mirrors seed construction + banding + depth + verify); tests assert the floor and the bands_for_recall restoration at deeper depths",
)
def embedding_lsh_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_found_flags(spark, sf_dir, _EMB_PAIR_LSH)


# The bands_for_recall scale mode as a CHECKED query (VERDICT r10 #3's
# "registered scale-sibling"): the FIXED literals below are exactly
# bands_for_recall(518, target_recall=0.95, cos_threshold=0.85,
# target_bucket=8) for the driver tier's seeded corpus size — pinned by
# tests/test_embedding_lsh_recall.py::test_tuned_query_params_match_helper
# so the linkage to the helper can't drift silently. Literals (not a
# runtime bands_for_recall call) because the oracle's band CTEs are a
# fixed string: a corpus-size change must surface in the pytest pin, not
# as a cross-engine config divergence.
_EMB_RECALL_TUNED = dict(n_planes=77, bands=11, target_bucket=8)


@register(
    "embedding_lsh_recall_tuned",
    oracle=f"""
WITH {_hyperplane_pairs_ctes(0.45, n_planes=77, bands=11, corpus_sql=_RECALL_SEED_SQL, target_bucket=8)},
expected AS (
  SELECT vec_id AS id_a, vec_id + {_RECALL_SEED_OFFSET} AS id_b
  FROM embeddings WHERE vec_id % {_RECALL_SEED_MOD} = 0
)
SELECT x.id_a, x.id_b,
       CAST(CASE WHEN v.id_a IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS found
FROM expected x LEFT JOIN verified v ON v.id_a = x.id_a AND v.id_b = x.id_b
""",
    doc="the bands_for_recall scale mode as a query: same cos=0.85 seeded ground truth as embedding_lsh_recall_floor, mined with the recall-tuned band count the helper selects for this corpus size (11 bands x depth 7 vs production's 8 x 16) — measured 18/18 found at sf0.01 vs the fixed config's 16/18; at the 100x tier the same mode holds 0.88 recall where fixed bands decay to 0.33 (SCALING.md recall tiers)",
)
def embedding_lsh_recall_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    return _recall_found_flags(spark, sf_dir, _EMB_RECALL_TUNED)


# ---------------------------------------------------------------------------
# Multimodal plumbing (Pandas-UDF path with a real oracle via the
# deterministic fake decoder)
# ---------------------------------------------------------------------------
@register(
    "multimodal_features_documents",
    oracle="""
SELECT doc_id AS media_id, 'image' AS kind,
       CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
       md5(text) AS content_hash,
       CAST(('0x' || substr(md5(text), 1, 8)) AS BIGINT) AS feat_mean,
       CAST(octet_length(encode(text)) % 512 + 1 AS INTEGER) AS feat_dim
FROM documents
""",
    doc="multimodal binary-column plumbing: mapInPandas (Arrow-batched) feature extraction with deterministic fake decode",
)
def multimodal_features_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.lit("png").alias("format"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    return extract_features(media)


@register(
    "audio_features_documents",
    oracle="""
WITH bytes AS (
  SELECT doc_id,
         list_transform(range(1, 9),
           i -> CAST(('0x' || substr(md5(text), 2*i - 1, 2)) AS INT) - 128) AS s
  FROM documents WHERE text IS NOT NULL
),
w AS (
  SELECT doc_id, s, unnest([0, 4]) AS w0 FROM bytes
),
win AS (
  SELECT doc_id, w0, s[w0 + 1 : w0 + 4] AS ws FROM w
)
SELECT doc_id AS media_id,
       CAST(w0 AS BIGINT) AS window_start_ms,
       CAST(w0 + 4 AS BIGINT) AS window_end_ms,
       CAST(4 AS BIGINT) AS n_samples,
       CAST(list_sum(list_transform(ws, x -> abs(x))) AS BIGINT) AS sum_abs,
       CAST(list_max(list_transform(ws, x -> abs(x))) AS BIGINT) AS peak,
       CAST(list_sum(list_transform(ws, x -> x * x)) AS BIGINT) AS energy
FROM win
""",
    doc="audio analysis windows via mapInPandas (Arrow-batched): per-window exact integer features (sum_abs/peak/energy) over the deterministic fake decode",
)
def audio_features_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.multimodal import audio_features

    docs = _docs(spark, sf_dir)
    media = docs.where(F.col("text").isNotNull()).select(
        F.col("doc_id").alias("media_id"),
        F.lit("audio").alias("kind"),
        F.lit("bin").alias("format"),
        F.encode(F.col("text"), "UTF-8").alias("content"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("long").alias("duration_ms"),
    )
    # fake decode: 8 samples @ 1 kHz -> 8 ms; 4/4 windows = [0,4) and [4,8)
    return audio_features(media, window_ms=4, hop_ms=4)


@register(
    "frame_sample_media",
    oracle="""
SELECT doc_id AS media_id, 'synthetic' AS format,
       CAST(unnest(range(0, n_chars + 1, 100)) AS BIGINT) AS frame_ts_ms
FROM documents
""",
    doc="multimodal frame-sampling fan-out: each video row explodes into its frame timestamps (sequence expression, JVM-side); per-frame decode stays in the batch UDF",
)
def frame_sample_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.multimodal import frame_sample_plan

    docs = read_table(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("video").alias("kind"),
        F.lit("synthetic").alias("format"),
        F.col("n_chars").cast("long").alias("duration_ms"),
    )
    return frame_sample_plan(media, every_ms=100)


def _ivf_ctes(
    n_centroids: int = 16,
    lloyd: int = 2,
    dim: int = 64,
    build_filter: str | None = None,
    corpus_sql: str | None = None,
    n_centroids_sql: str | None = None,
) -> str:
    """CTE chain replicating the ENTIRE deterministic IVF build in DuckDB
    (VERDICT r5 #3 option a): md5-ordered centroid sample, ``lloyd``
    unrolled spherical-k-means iterations, final cell assignment. The
    cross-engine contract lives in operators/similarity.py: assignment
    cosines rounded to 9dp (ties -> lower centroid id), refined means
    rounded to 6dp, sampled centroids = the raw float32->double vectors.
    Ends with ``cfin(cid, cv)`` (final centroids) and ``afin(vec_id,
    cell)`` (final assignment).

    ``build_filter`` (VERDICT r10 #4) models the build/append lifecycle:
    sample + Lloyd refinement run over ONLY the rows matching the filter
    (the build half), while the final assignment covers the FULL corpus
    with those frozen centroids — exactly ``build_ivf_index(build_half)``
    followed by ``ann_ivf_append(rest)``, because per-vector frozen-
    centroid assignment is independent row-by-row (the one shared
    ``_assign_cells`` path on the Spark side).

    ``corpus_sql`` swaps the raw embeddings scan for any subquery
    yielding ``(vec_id, v DOUBLE[])`` — e.g. the seeded-duplicate unions
    — so cluster-based operators over seeded corpora (semdedup) reuse
    the same unrolled deterministic build.

    ``n_centroids_sql`` replaces the literal sample LIMIT with a scalar
    subquery (DuckDB supports expression LIMITs) — the adaptive-cell
    mirror of ``similarity.cells_for_corpus``, so a corpus-size change
    moves BOTH engines' cell count together."""
    build_src = "en" if build_filter is None else "enb"
    limit_sql = str(n_centroids) if n_centroids_sql is None else n_centroids_sql
    if corpus_sql is None:
        ctes = [
            "en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
            "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), CAST(embedding AS DOUBLE[]))) AS nv "
            "FROM embeddings)",
        ]
    else:
        ctes = [
            f"en AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM ({corpus_sql}))",
        ]
    if build_filter is not None:
        ctes.append(f"enb AS (SELECT * FROM en WHERE {build_filter})")
    ctes.append(f"""c0 AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, v AS cv
  FROM {build_src} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {limit_sql}
)""")

    def assign(i: int, src: str) -> str:
        return f"""a{i} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT {src}.vec_id, c{i - 1}.cid,
           ROW_NUMBER() OVER (PARTITION BY {src}.vec_id ORDER BY
             round(list_dot_product({src}.v, c{i - 1}.cv)
               / ({src}.nv * sqrt(list_dot_product(c{i - 1}.cv, c{i - 1}.cv))), 9) DESC,
             c{i - 1}.cid ASC) AS rn
    FROM {src} CROSS JOIN c{i - 1}
  ) WHERE rn = 1
)"""

    for i in range(1, lloyd + 1):
        ctes.append(assign(i, build_src))
        ctes.append(f"""m{i} AS (
  SELECT cell AS cid, list(m ORDER BY i) AS cv FROM (
    SELECT a{i}.cell AS cell, d.i AS i, round(avg(en.v[d.i]), 6) AS m
    FROM a{i} JOIN en USING (vec_id)
    CROSS JOIN (SELECT CAST(range AS INTEGER) AS i FROM range(1, {dim + 1})) d
    GROUP BY a{i}.cell, d.i
  ) GROUP BY cell
)""")
        ctes.append(
            f"c{i} AS (SELECT c{i - 1}.cid, COALESCE(m{i}.cv, c{i - 1}.cv) AS cv "
            f"FROM c{i - 1} LEFT JOIN m{i} ON m{i}.cid = c{i - 1}.cid)"
        )
    ctes.append(assign(lloyd + 1, "en"))
    ctes.append(f"cfin AS (SELECT cid, cv FROM c{lloyd})")
    ctes.append(f"afin AS (SELECT vec_id, cell FROM a{lloyd + 1})")
    return ",\n".join(ctes)


def _ivf_topk_ctes(
    n_centroids: int = 16, lloyd: int = 2, n_probe: int = 4, k: int = 5
) -> str:
    """CTE body ending with ``ivf(query_id, rank, neighbor_id)`` —
    probe the query's n_probe nearest final centroids (same 9dp-rounded
    ranking as the operator), exact rerank inside those cells, ranks
    only (float-sum-order safe like every ANN oracle)."""
    return f"""{_ivf_ctes(n_centroids, lloyd)},
qp AS (
  SELECT query_id, qv, nq, cell FROM (
    SELECT en.vec_id AS query_id, en.v AS qv, en.nv AS nq, cfin.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY
             round(list_dot_product(en.v, cfin.cv)
               / (en.nv * sqrt(list_dot_product(cfin.cv, cfin.cv))), 9) DESC,
             cfin.cid ASC) AS rn
    FROM en CROSS JOIN cfin WHERE en.vec_id < 5
  ) WHERE rn <= {n_probe}
),
s AS (
  SELECT qp.query_id, en.vec_id AS neighbor_id,
         list_dot_product(en.v, qp.qv) / (en.nv * qp.nq) AS cos
  FROM qp JOIN afin ON afin.cell = qp.cell
  JOIN en ON en.vec_id = afin.vec_id
  WHERE en.vec_id != qp.query_id
),
ivf AS (
  SELECT query_id, rank, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
    FROM s
  ) WHERE rank <= {k}
)"""


def _ivf_topk_oracle(
    n_centroids: int = 16, lloyd: int = 2, n_probe: int = 4, k: int = 5
) -> str:
    return (
        f"WITH {_ivf_topk_ctes(n_centroids, lloyd, n_probe, k)}\n"
        "SELECT query_id, rank, neighbor_id FROM ivf"
    )


@register(
    "ann_topk_ivf",
    # hash-exact since r6: the build is deterministic cross-engine
    # (md5-ordered sample; 9dp-rounded assignment cosines; 6dp-rounded
    # Lloyd means — operators/similarity.py), so the oracle unrolls the
    # full sample + 2 Lloyd iterations + probe + rerank in SQL
    oracle=_ivf_topk_oracle(),
    doc="IVF approximate top-k: deterministic centroids, n_probe nearest cells per query, exact rerank",
)
def ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_raw(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.ann_ivf_topk(emb, queries, k=5)


def _ivf_index_path(sf_dir: str) -> str:
    """Deterministic per-dataset index location (gitignored tmp): the
    build and served-search queries share it, and a different sf_dir
    gets a different index so stale cells can never serve. The v2 tag
    versions the BUILD ALGORITHM (r6: md5-ordered sample + rounded
    assignment) — bump it whenever the build changes so an index written
    by older code can never answer for the new oracle."""
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    return f"{tempfile.gettempdir()}/spark_graft_ivf_v2_{tag}"


@register(
    "ivf_index_build",
    # hash-exact since r6: cell populations are deterministic
    # cross-engine (see ann_topk_ivf); the oracle recomputes the final
    # assignment and aggregates the same histogram
    oracle=f"""
WITH {_ivf_ctes()}
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM afin GROUP BY cell ORDER BY cell
""",
    doc="IVF index BUILD (the build half of the build/search split): sample+Lloyd centroids persisted with cell-partitioned corpus vectors; returns the cell histogram",
)
def ivf_index_build(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_raw(spark, sf_dir)
    path = _ivf_index_path(sf_dir)
    S.build_ivf_index(emb, path, n_centroids=16, lloyd_iterations=2)
    return (
        spark.read.parquet(f"{path}/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cell")
    )


@register(
    "ann_topk_ivf_served",
    # hash-exact since r6: serving reads the deterministic index, so the
    # compose-path oracle applies verbatim (build+search ≡ compose is
    # additionally pinned by tests/test_ivf_index.py)
    oracle=_ivf_topk_oracle(),
    doc="IVF approximate top-k SERVED from the persisted index: probe-cell partition-pruned scan + exact rerank; no per-query build (VERDICT r4 #1)",
)
def ann_topk_ivf_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    emb = _emb_raw(spark, sf_dir)
    path = _ivf_index_path(sf_dir)
    # standalone-run safety: (re)build when the index is absent OR older
    # than the corpus parquet (the sf dir can be regenerated in place
    # between rounds; serving a stale index would answer from dead rows)
    cells = f"{path}/cells"
    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    stale = not os.path.isdir(cells) or (
        os.path.exists(src) and os.path.getmtime(src) > os.path.getmtime(cells)
    )
    if stale:
        S.build_ivf_index(emb, path, n_centroids=16, lloyd_iterations=2)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.ann_ivf_search(spark, path, queries, k=5, n_probe=4)


@register(
    "ivf_index_append",
    # hash-exact like ivf_index_build: the build over the even-id half is
    # deterministic, and frozen-centroid assignment of the appended odd-id
    # half is the same row-independent 9dp-rounded rule — the oracle
    # builds centroids over the half and assigns the full corpus
    oracle=f"""
WITH {_ivf_ctes(build_filter="vec_id % 2 = 0")}
SELECT cell, CAST(COUNT(*) AS BIGINT) AS n_vectors
FROM afin GROUP BY cell ORDER BY cell
""",
    doc="IVF index APPEND (the steady-state ingest half of the lifecycle — VERDICT r10 #4): build centroids + cells over the even-id half, ann_ivf_append the odd-id half with frozen centroids (historical cells never re-read or rewritten), return the cell histogram over the union; oracle unrolls the half-corpus build and full-corpus assignment",
)
def ivf_index_append_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_raw(spark, sf_dir)
    path = _ivf_index_path(sf_dir) + "_append"
    S.build_ivf_index(
        emb.where(F.col("vec_id") % 2 == 0), path, n_centroids=16, lloyd_iterations=2
    )
    S.ann_ivf_append(spark, path, emb.where(F.col("vec_id") % 2 == 1))
    return (
        spark.read.parquet(f"{path}/cells")
        .groupBy("cell")
        .agg(F.count(F.lit(1)).alias("n_vectors"))
        .orderBy("cell")
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-then-cosine semantic dedup (Abbas et al. 2023) — the
# scale path for embedding dedup: vectors are compared ONLY within their
# k-means cell, so compare volume is sum(|cell|^2)/2 — linear in rows at a
# constant target cell size — instead of the all-pairs LSH banding shuffle.
# The corpus is seeded with exact duplicates (cos 1.0, identical vectors ->
# identical cell by construction) so the keep-mask is provably non-vacuous;
# the oracle unrolls the same deterministic k-means over the seeded corpus.
# ---------------------------------------------------------------------------
_SEMDEDUP_THRESHOLD = 0.45


_SEMDEDUP_CELLS_SQL = "(SELECT GREATEST(16, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) FROM en)"


@register(
    "semdedup_embeddings",
    oracle=f"""
WITH {_ivf_ctes(corpus_sql=_EMB_SEED_SQL, n_centroids_sql=_SEMDEDUP_CELLS_SQL)},
cv AS (SELECT afin.vec_id, afin.cell, en.v, en.nv FROM afin JOIN en USING (vec_id)),
removed AS (
  SELECT DISTINCT b.vec_id
  FROM cv a JOIN cv b ON a.cell = b.cell AND a.vec_id < b.vec_id
  WHERE round(list_dot_product(a.v, b.v) / (a.nv * b.nv), 9) >= {_SEMDEDUP_THRESHOLD}
)
SELECT cv.vec_id, cv.cell,
       CAST(CASE WHEN r.vec_id IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS is_dup
FROM cv LEFT JOIN removed r ON r.vec_id = cv.vec_id
""",
    doc=f"SemDeDup cluster-then-cosine semantic dedup: deterministic IVF k-means assignment (literal-centroid Arrow UDF, no shuffle), within-cell pairs only (ONE shuffle keyed on cell; compare volume linear in rows at constant cell size), flag vectors with a lower-id cell-mate at 9dp-rounded cosine >= {_SEMDEDUP_THRESHOLD}; seeded exact duplicates land in their source's cell by construction so is_dup=1 rows are guaranteed; oracle unrolls the identical k-means + within-cell compare over the seeded corpus",
)
def semdedup_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.semdedup(_seeded_emb_raw(spark, sf_dir), threshold=_SEMDEDUP_THRESHOLD)


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al. 2011): per-subspace L2 k-means
# codebooks + m-byte codes + ADC top-k — the compression half of IVF-PQ,
# the standard web-scale ANN layout. The oracle unrolls the full build:
# one md5-ordered seed sample shared by all subspaces, per-subspace Lloyd
# iterations with 9dp-rounded L2 assignment (ties -> lower code) and
# 6dp-rounded means, exactly operators/pq.py's contract.
# ---------------------------------------------------------------------------
_PQ_M, _PQ_K, _PQ_LLOYD, _PQ_DIM = 8, 16, 2, 64


def _pq_ctes(
    m: int = _PQ_M,
    k: int = _PQ_K,
    lloyd: int = _PQ_LLOYD,
    dim: int = _PQ_DIM,
    with_en: bool = True,
    build_filter: str | None = None,
) -> str:
    """CTE chain replicating the deterministic PQ codebook build in
    DuckDB: per subspace ms, ``pc{ms}_{lloyd}(cid, cv)`` is the final
    codebook and ``cd(vec_id, c0..c{m-1})`` the encoded corpus.
    ``with_en=False`` omits the ``en`` base CTE so the chain can compose
    with ``_ivf_ctes`` (whose ``en`` is a superset) in one WITH block.
    ``build_filter`` models the build/append lifecycle exactly like
    ``_ivf_ctes``: seed sample + Lloyd refinement run over ONLY the
    matching rows (the build half) while the final encode covers the
    FULL corpus with those frozen codebooks — per-vector frozen-codebook
    encoding is independent row-by-row."""
    dsub = dim // m
    ctes = (
        ["en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)"]
        if with_en
        else []
    )
    if build_filter is not None:
        ctes.append(f"enpqb AS (SELECT * FROM en WHERE {build_filter})")

    def assign(ms: int, name: str, book: str, src: str) -> str:
        return f"""{name} AS (
  SELECT vec_id, cid AS cell FROM (
    SELECT t.vec_id, c.cid,
           ROW_NUMBER() OVER (PARTITION BY t.vec_id ORDER BY
             round(t.ns + list_dot_product(c.cv, c.cv)
               - 2 * list_dot_product(t.s, c.cv), 9) ASC,
             c.cid ASC) AS rn
    FROM {src} t CROSS JOIN {book} c
  ) WHERE rn = 1
)"""

    for ms in range(m):
        lo, hi = ms * dsub + 1, (ms + 1) * dsub
        ctes.append(
            f"sub{ms} AS MATERIALIZED (SELECT vec_id, v[{lo}:{hi}] AS s, "
            f"list_dot_product(v[{lo}:{hi}], v[{lo}:{hi}]) AS ns FROM en)"
        )
        build_sub = f"sub{ms}"
        if build_filter is not None:
            build_sub = f"subb{ms}"
            ctes.append(
                f"subb{ms} AS MATERIALIZED (SELECT vec_id, v[{lo}:{hi}] AS s, "
                f"list_dot_product(v[{lo}:{hi}], v[{lo}:{hi}]) AS ns FROM enpqb)"
            )
        ctes.append(f"""pc{ms}_0 AS MATERIALIZED (
  SELECT ROW_NUMBER() OVER (ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) - 1 AS cid, s AS cv
  FROM {build_sub} ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id LIMIT {k}
)""")
        for i in range(1, lloyd + 1):
            ctes.append(assign(ms, f"pa{ms}_{i}", f"pc{ms}_{i - 1}", build_sub))
            ctes.append(f"""pm{ms}_{i} AS (
  SELECT cell AS cid, list(mv ORDER BY i) AS cv FROM (
    SELECT a.cell AS cell, d.i AS i, round(avg(t.s[d.i]), 6) AS mv
    FROM pa{ms}_{i} a JOIN {build_sub} t USING (vec_id)
    CROSS JOIN (SELECT CAST(range AS INTEGER) AS i FROM range(1, {dsub + 1})) d
    GROUP BY a.cell, d.i
  ) GROUP BY cell
)""")
            ctes.append(
                f"pc{ms}_{i} AS MATERIALIZED (SELECT pc{ms}_{i - 1}.cid, COALESCE(pm{ms}_{i}.cv, pc{ms}_{i - 1}.cv) AS cv "
                f"FROM pc{ms}_{i - 1} LEFT JOIN pm{ms}_{i} ON pm{ms}_{i}.cid = pc{ms}_{i - 1}.cid)"
            )
        ctes.append(assign(ms, f"paf{ms}", f"pc{ms}_{lloyd}", f"sub{ms}"))
    joins = " ".join(f"JOIN paf{ms} USING (vec_id)" for ms in range(1, m))
    cols = ", ".join(f"paf{ms}.cell AS c{ms}" for ms in range(m))
    ctes.append(f"cd AS MATERIALIZED (SELECT paf0.vec_id, {cols} FROM paf0 {joins})")
    return ",\n".join(ctes)


@register(
    "pq_codes_embeddings",
    oracle=f"""
WITH {_pq_ctes()}
SELECT vec_id,
       array_to_string([{", ".join(f"c{ms}" for ms in range(_PQ_M))}], ',') AS codes_csv
FROM cd
""",
    doc=f"product-quantization encode: {_PQ_M} per-subspace L2 k-means codebooks ({_PQ_K} centroids each, {_PQ_LLOYD} Lloyd iterations fused into one mapInPandas partial pass per iteration), corpus compressed to {_PQ_M} one-byte codes per vector in ONE Arrow-batched projection (32x scan-volume cut vs raw float32); oracle unrolls the per-subspace build with the shared md5-ordered seed sample",
)
def pq_codes_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators import pq as PQ

    emb = _emb_raw(spark, sf_dir)
    books = PQ.build_pq_codebooks(emb, m=_PQ_M, k=_PQ_K, lloyd_iterations=_PQ_LLOYD)
    codes = PQ.pq_encode(emb, books)
    return codes.select(
        "vec_id",
        F.array_join(
            F.transform("codes", lambda c: c.cast("string")), ","
        ).alias("codes_csv"),
    )


_PQ_QUERY_ID, _PQ_TOPK = 0, 5


def _pq_adc_oracle() -> str:
    m, dsub = _PQ_M, _PQ_DIM // _PQ_M
    luts = []
    for ms in range(m):
        lo, hi = ms * dsub + 1, (ms + 1) * dsub
        luts.append(f"""lut{ms} AS (
  SELECT cid, round(list_dot_product(q.v[{lo}:{hi}], q.v[{lo}:{hi}])
           + list_dot_product(cv, cv)
           - 2 * list_dot_product(q.v[{lo}:{hi}], cv), 9) AS d
  FROM pc{ms}_{_PQ_LLOYD} CROSS JOIN q
)""")
    lut_joins = " ".join(f"JOIN lut{ms} l{ms} ON l{ms}.cid = cd.c{ms}" for ms in range(m))
    dist_sum = " + ".join(f"l{ms}.d" for ms in range(m))
    return f"""
WITH {_pq_ctes()},
q AS (SELECT v FROM en WHERE vec_id = {_PQ_QUERY_ID}),
{",".join(luts)},
scored AS (
  SELECT cd.vec_id AS neighbor_id, round({dist_sum}, 9) AS ad
  FROM cd {lut_joins}
  WHERE cd.vec_id != {_PQ_QUERY_ID}
)
SELECT rank, neighbor_id FROM (
  SELECT neighbor_id,
         ROW_NUMBER() OVER (ORDER BY ad ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {_PQ_TOPK}
"""


@register(
    "ann_topk_pq",
    oracle=_pq_adc_oracle(),
    doc=f"PQ asymmetric-distance top-{_PQ_TOPK}: the query's m x k lookup tables ship as plan literals and the scan is a pure JVM projection over the CODES relation (element_at into literal arrays — raw vectors never read on the hot path, ~3% of the GEMM baseline's scan bytes); approx distance = sum of per-subspace 9dp-rounded table entries in fixed subspace order (cross-engine exact); oracle unrolls the same build + tables",
)
def ann_topk_pq_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators import pq as PQ

    emb = _emb_raw(spark, sf_dir)
    books = PQ.build_pq_codebooks(emb, m=_PQ_M, k=_PQ_K, lloyd_iterations=_PQ_LLOYD)
    codes = PQ.pq_encode(emb, books)
    qvec = [
        float(x)
        for x in emb.where(F.col("vec_id") == _PQ_QUERY_ID)
        .select("embedding")
        .collect()[0][0]
    ]
    return PQ.ann_topk_pq(
        codes, books, qvec, k=_PQ_TOPK, exclude_id=_PQ_QUERY_ID
    )


def _pq_recon_oracle() -> str:
    m = _PQ_M
    joins = " ".join(
        f"JOIN sub{ms} s{ms} ON s{ms}.vec_id = cd.vec_id "
        f"JOIN pc{ms}_{_PQ_LLOYD} b{ms} ON b{ms}.cid = cd.c{ms}"
        for ms in range(m)
    )
    terms = " + ".join(
        f"round(s{ms}.ns + list_dot_product(b{ms}.cv, b{ms}.cv)"
        f" - 2 * list_dot_product(s{ms}.s, b{ms}.cv), 9)"
        for ms in range(m)
    )
    return f"""
WITH {_pq_ctes()}
SELECT cd.vec_id, round({terms}, 9) AS err2
FROM cd {joins}
"""


@register(
    "pq_reconstruction_error",
    oracle=_pq_recon_oracle(),
    doc="per-vector PQ distortion gate (the quality signal that decides whether m/k suffice before codes replace raw vectors in the scan path — the PQ analogue of the int8 reconstruction-error gate): sum over subspaces of the 9dp-rounded L2 distance to the assigned codeword, pure JVM after the one Arrow encode pass (codeword lookup = element_at into an m x k x dsub literal)",
)
def pq_reconstruction_error_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators import pq as PQ

    emb = _emb_raw(spark, sf_dir)
    books = PQ.build_pq_codebooks(emb, m=_PQ_M, k=_PQ_K, lloyd_iterations=_PQ_LLOYD)
    return PQ.pq_reconstruction_error(emb, books)


def _pq_recall_oracle(topk: int = 10) -> str:
    """ADC top-k overlap with the exact cosine top-k, per query — the
    measured PQ quality floor (the IVF/LSH recall-floor pattern)."""
    m, dsub = _PQ_M, _PQ_DIM // _PQ_M
    luts = []
    for ms in range(m):
        lo, hi = ms * dsub + 1, (ms + 1) * dsub
        luts.append(f"""lut{ms} AS (
  SELECT q.vec_id AS query_id, cid,
         round(list_dot_product(q.v[{lo}:{hi}], q.v[{lo}:{hi}])
           + list_dot_product(cv, cv)
           - 2 * list_dot_product(q.v[{lo}:{hi}], cv), 9) AS d
  FROM pc{ms}_{_PQ_LLOYD} CROSS JOIN (SELECT vec_id, v FROM en WHERE vec_id < 5) q
)""")
    lut_joins = " ".join(
        f"JOIN lut{ms} l{ms} ON l{ms}.query_id = l0.query_id AND l{ms}.cid = cd.c{ms}"
        for ms in range(1, m)
    )
    dist_sum = " + ".join(f"l{ms}.d" for ms in range(m))
    return f"""
WITH {_pq_ctes()},
nq AS (SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nv FROM en),
q5 AS (SELECT vec_id AS query_id, v AS qv, nv AS nqv FROM nq WHERE vec_id < 5),
exact AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q5.query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q5.query_id ORDER BY
             list_dot_product(e.v, q5.qv) / (e.nv * q5.nqv) DESC, e.vec_id ASC) AS rank
    FROM nq e CROSS JOIN q5 WHERE e.vec_id != q5.query_id
  ) WHERE rank <= {topk}
),
{",".join(luts)},
adc AS (
  SELECT query_id, neighbor_id FROM (
    SELECT l0.query_id, cd.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY l0.query_id ORDER BY
             round({dist_sum}, 9) ASC, cd.vec_id ASC) AS rank
    FROM cd JOIN lut0 l0 ON l0.cid = cd.c0 {lut_joins}
    WHERE cd.vec_id != l0.query_id
  ) WHERE rank <= {topk}
)
SELECT e.query_id, CAST(COUNT(a.neighbor_id) AS BIGINT) AS hits_at_{topk}
FROM exact e LEFT JOIN adc a
  ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
GROUP BY e.query_id
"""


_PQ_RECALL_TOPK = 10


@register(
    "ann_pq_recall_floor",
    oracle=_pq_recall_oracle(_PQ_RECALL_TOPK),
    doc=f"PQ quality floor as a CHECKED query (the IVF/LSH recall-floor pattern): per query, how many of the exact cosine top-{_PQ_RECALL_TOPK} survive in the ADC top-{_PQ_RECALL_TOPK} — the measured compression/recall tradeoff at the registered m/k; oracle unrolls the build and mirrors both rankings. Regime note (same caveat as the LSH near-random threshold): this corpus is near-orthogonal random unit vectors, so exact-top-{_PQ_RECALL_TOPK} gaps are ~0.01 cosine and the 8x16 codebook's distortion (mean err2 ~0.57/unit vector, see pq_reconstruction_error) scrambles them — measured 1-4/{_PQ_RECALL_TOPK} here vs ~0.2 random baseline; clustered real embeddings sit far above this floor, and that is exactly what the query measures per-corpus",
)
def ann_pq_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators import pq as PQ

    emb = _emb_raw(spark, sf_dir)
    books = PQ.build_pq_codebooks(emb, m=_PQ_M, k=_PQ_K, lloyd_iterations=_PQ_LLOYD)
    codes = PQ.pq_encode(emb, books)
    qrows = emb.where(F.col("vec_id") < 5).select("vec_id", "embedding").collect()
    luts_by_query = {
        int(r["vec_id"]): PQ.adc_lookup_tables(books, [float(x) for x in r["embedding"]])
        for r in qrows
    }
    qids = spark.createDataFrame(
        spark.sparkContext.parallelize([(int(r["vec_id"]),) for r in qrows], 1),
        "query_id long",
    )
    cand = codes.crossJoin(F.broadcast(qids)).where(
        F.col("vec_id") != F.col("query_id")
    )
    scored = cand.select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        PQ._adc_dist_expr(luts_by_query, "query_id").alias("_ad"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("_ad").asc(), F.col("neighbor_id").asc()
    )
    adc = (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= _PQ_RECALL_TOPK)
        .select("query_id", "neighbor_id")
    )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    exact = S.cosine_topk(emb, queries, k=_PQ_RECALL_TOPK).select(
        "query_id", "neighbor_id"
    )
    hit = adc.withColumn("_hit", F.lit(1))
    return (
        exact.join(hit, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(
            F.sum(F.coalesce(F.col("_hit"), F.lit(0)))
            .cast("long")
            .alias(f"hits_at_{_PQ_RECALL_TOPK}")
        )
    )


def _ivfpq_adc_oracle(n_probe: int = 4, topk: int = 5) -> str:
    """Composed IVF + PQ oracle: coarse probe from the unrolled spherical
    k-means (_ivf_ctes), ADC tables + codes from the unrolled PQ build
    (_pq_ctes with the shared ``en``), scored only inside probed cells."""
    m, dsub = _PQ_M, _PQ_DIM // _PQ_M
    luts = []
    for ms in range(m):
        lo, hi = ms * dsub + 1, (ms + 1) * dsub
        luts.append(f"""lut{ms} AS (
  SELECT q.vec_id AS query_id, cid,
         round(list_dot_product(q.v[{lo}:{hi}], q.v[{lo}:{hi}])
           + list_dot_product(cv, cv)
           - 2 * list_dot_product(q.v[{lo}:{hi}], cv), 9) AS d
  FROM pc{ms}_{_PQ_LLOYD} CROSS JOIN (SELECT vec_id, v FROM en WHERE vec_id < 5) q
)""")
    lut_joins = " ".join(
        f"JOIN lut{ms} l{ms} ON l{ms}.query_id = qp.query_id AND l{ms}.cid = cd.c{ms}"
        for ms in range(m)
    )
    dist_sum = " + ".join(f"l{ms}.d" for ms in range(m))
    return f"""
WITH {_ivf_ctes()},
{_pq_ctes(with_en=False)},
qp AS (
  SELECT query_id, cell FROM (
    SELECT en.vec_id AS query_id, cfin.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY en.vec_id ORDER BY
             round(list_dot_product(en.v, cfin.cv)
               / (en.nv * sqrt(list_dot_product(cfin.cv, cfin.cv))), 9) DESC,
             cfin.cid ASC) AS rn
    FROM en CROSS JOIN cfin WHERE en.vec_id < 5
  ) WHERE rn <= {n_probe}
),
{",".join(luts)},
scored AS (
  SELECT qp.query_id, cd.vec_id AS neighbor_id, round({dist_sum}, 9) AS ad
  FROM qp JOIN afin ON afin.cell = qp.cell
  JOIN cd ON cd.vec_id = afin.vec_id
  {lut_joins}
  WHERE cd.vec_id != qp.query_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id,
         ROW_NUMBER() OVER (PARTITION BY query_id
           ORDER BY ad ASC, neighbor_id ASC) AS rank
  FROM scored
) WHERE rank <= {topk}
"""


def _ivfpq_index_path(sf_dir: str) -> str:
    import hashlib
    import tempfile

    tag = hashlib.md5(sf_dir.rstrip("/").encode()).hexdigest()[:10]
    return f"{tempfile.gettempdir()}/spark_graft_ivfpq_v1_{tag}"


_IVFPQ_CODE_SUM = " + ".join(f"c{ms}" for ms in range(_PQ_M))


@register(
    "ivfpq_index_append",
    # hash-exact like ivf_index_append: coarse centroids AND codebooks
    # are built over the even-id half; the full corpus is then assigned
    # and encoded with both FROZEN — per-vector frozen-centroid
    # assignment and frozen-codebook encoding are independent
    # row-by-row, so build(even) + append(odd) == the oracle's
    # half-trained full-corpus layout. The per-cell code_sum checksum
    # pins every appended code, not just the cell routing.
    oracle=f"""
WITH {_ivf_ctes(build_filter="vec_id % 2 = 0")},
{_pq_ctes(with_en=False, build_filter="vec_id % 2 = 0")}
SELECT afin.cell, CAST(COUNT(*) AS BIGINT) AS n_vectors,
       CAST(SUM({_IVFPQ_CODE_SUM}) AS BIGINT) AS code_sum
FROM afin JOIN cd USING (vec_id)
GROUP BY afin.cell ORDER BY afin.cell
""",
    doc="IVF-PQ index APPEND — the steady-state ingest half of the compressed-index lifecycle: build coarse centroids + PQ codebooks over the even-id half, ann_ivfpq_append the odd-id half with BOTH frozen (historical cells never re-read; only the delta pays one assignment+encode projection); returns the per-cell vector count and code checksum over the union, pinning every appended code cross-engine",
)
def ivfpq_index_append_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators import pq as PQ

    emb = _emb_raw(spark, sf_dir)
    path = _ivfpq_index_path(sf_dir) + "_append"
    PQ.build_ivfpq_index(
        emb.where(F.col("vec_id") % 2 == 0), path,
        n_centroids=16, m=_PQ_M, k=_PQ_K, lloyd_iterations=_PQ_LLOYD,
    )
    PQ.ann_ivfpq_append(spark, path, emb.where(F.col("vec_id") % 2 == 1))
    codes = spark.read.parquet(f"{path}/codes")
    return (
        codes.groupBy("cell")
        .agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum(
                F.aggregate(
                    "codes", F.lit(0).cast("long"), lambda a, v: a + v
                )
            )
            .cast("long")
            .alias("code_sum"),
        )
        .orderBy("cell")
    )


@register(
    "ann_topk_ivfpq_served",
    oracle=_ivfpq_adc_oracle(),
    doc="served IVF-PQ approximate top-5 (the FAISS IndexIVFPQ layout, by_residual=False): coarse-cell partition pruning (reads only the n_probe probed cell directories) COMPOUNDS with PQ compression (scan reads m-byte codes, never raw vectors) — ~0.1% of the raw-corpus scan bytes at 16 cells / 4 probes / 32x code compression; per-query ADC tables ship as plan literals via a chained-when pure-JVM projection; oracle composes the unrolled IVF and PQ builds over the shared en relation",
)
def ann_topk_ivfpq_served(spark: SparkSession, sf_dir: str) -> DataFrame:
    import os

    from github_etl_pipeline_spark.operators import pq as PQ

    emb = _emb_raw(spark, sf_dir)
    path = _ivfpq_index_path(sf_dir)
    codes = f"{path}/codes"
    src = f"{sf_dir.rstrip('/')}/embeddings.parquet"
    stale = not os.path.isdir(codes) or (
        os.path.exists(src) and os.path.getmtime(src) > os.path.getmtime(codes)
    )
    if stale:
        PQ.build_ivfpq_index(
            emb, path, n_centroids=16, m=_PQ_M, k=_PQ_K,
            lloyd_iterations=_PQ_LLOYD,
        )
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return PQ.ann_ivfpq_search(spark, path, queries, k=_PQ_TOPK, n_probe=4)


# ---------------------------------------------------------------------------
# Token-budget data-mix sampler: solve per-source deterministic rates
# against a total token budget (the practical mixing step a training run
# starts from); capped sources surface their shortfall in the report.
# ---------------------------------------------------------------------------
def _token_mix_oracle() -> str:
    from github_etl_pipeline_spark.operators.sampling import BUCKETS, SAMPLE_SEED

    bucket = (
        f"CAST(('0x' || substr(md5('{SAMPLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)) "
        f"AS BIGINT) % {BUCKETS}"
    )
    return f"""
WITH tok AS (
  SELECT doc_id, source,
         CAST(len(regexp_extract_all(text, '{TOKEN_RE}')) AS BIGINT) AS nt
  FROM documents
),
avail AS (SELECT source, CAST(SUM(nt) AS BIGINT) AS a FROM tok GROUP BY source),
tot AS (
  SELECT CAST(SUM(a) AS BIGINT) // 2 AS b, CAST(COUNT(*) AS DOUBLE) AS ns
  FROM avail
),
thr AS (
  SELECT source,
         CAST(FLOOR(LEAST(1.0,
           CAST(b AS DOUBLE) * (1.0 / ns) / CAST(a AS DOUBLE)) * {BUCKETS}) AS BIGINT) AS rate_bucket
  FROM avail CROSS JOIN tot
),
coin AS (SELECT tok.*, {bucket} AS bucket FROM tok)
SELECT thr.source, thr.rate_bucket,
       CAST(COUNT(coin.doc_id) AS BIGINT) AS n_docs,
       CAST(COALESCE(SUM(coin.nt), 0) AS BIGINT) AS n_tokens
FROM thr LEFT JOIN coin
  ON coin.source = thr.source AND coin.bucket < thr.rate_bucket
GROUP BY thr.source, thr.rate_bucket
"""


@register(
    "token_budget_mix_documents",
    oracle=_token_mix_oracle(),
    doc="token-budget data-mix sampler (the rate-solving cousin of DoReMi-style weight selection): per-source rate = min(1, budget*w/available) floored onto the 10k-bucket integer grid, applied with the md5 coin; budget = half the corpus tokens, equal weights; output = the realized mix report (source, rate_bucket, n_docs, n_tokens) with capped sources' shortfall visible rather than silently rebalanced; ONE corpus scan + |sources|-row aggregates, the sample filter is a pure projection predicate",
)
def token_budget_mix_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sampling import token_budget_mix

    return token_budget_mix(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Graph centrality as a curation signal: PageRank over the IVF-built k-NN
# similarity graph — high centrality = representative/hub content. Fixed
# iterations make the whole computation one deterministic plan, so the
# oracle unrolls the graph build AND every iteration.
# ---------------------------------------------------------------------------
_PR_K, _PR_ITER, _PR_DAMP, _PR_TOPK = 3, 3, 0.85, 20


def _knn_edges_cte(k: int) -> str:
    # cell-LOCAL kNN (n_probe=1): the assignment IS the probe, so edges
    # come straight from the afin self-join — the semdedup join shape.
    # Shared by the PageRank and LPA oracles (identical graph build).
    return f"""edges AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS r
    FROM (
      SELECT eq.vec_id AS src, e2.vec_id AS dst,
             round(list_dot_product(e2.v, eq.v) / (e2.nv * eq.nv), 9) AS cos
      FROM afin aq JOIN en eq ON eq.vec_id = aq.vec_id
      JOIN afin a2 ON a2.cell = aq.cell
      JOIN en e2 ON e2.vec_id = a2.vec_id
      WHERE e2.vec_id != eq.vec_id
    )
  ) WHERE r <= {k}
)"""


def _pagerank_oracle() -> str:
    ctes = [_knn_edges_cte(_PR_K),
        """odeg AS MATERIALIZED (SELECT src, COUNT(*) AS od FROM edges GROUP BY src)""",
        """nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS c FROM en)""",
        """pr0 AS MATERIALIZED (SELECT vec_id, 1.0 / c AS pr FROM en CROSS JOIN nn)"""]
    for i in range(1, _PR_ITER + 1):
        ctes.append(f"""pr{i} AS MATERIALIZED (
  SELECT en.vec_id,
         round((1.0 - {_PR_DAMP}) / nn.c + {_PR_DAMP} * COALESCE(s.m, 0.0), 9) AS pr
  FROM en CROSS JOIN nn
  LEFT JOIN (
    SELECT e.dst, SUM(pr{i - 1}.pr / odeg.od) AS m
    FROM edges e JOIN odeg USING (src)
    JOIN pr{i - 1} ON pr{i - 1}.vec_id = e.src
    GROUP BY e.dst
  ) s ON s.dst = en.vec_id
)""")
    return f"""
WITH {_ivf_ctes(n_centroids_sql=_SEMDEDUP_CELLS_SQL)},
{",".join(ctes)}
SELECT pos, vec_id, pr FROM (
  SELECT vec_id, pr, ROW_NUMBER() OVER (ORDER BY pr DESC, vec_id ASC) AS pos
  FROM pr{_PR_ITER}
) WHERE pos <= {_PR_TOPK}
"""


@register(
    "pagerank_similarity_graph",
    oracle=_pagerank_oracle(),
    doc=f"PageRank centrality over the IVF-built k-NN similarity graph (top-{_PR_TOPK}): edges = each vector's {_PR_K} nearest CELL-LOCAL neighbors (the semdedup self-join shape — one shuffle on cell, no probe pass, no broadcast; per-src top-k is a WindowGroupLimit; adaptive cell count keeps candidates linear; 4-probe completeness was measured 4x the build cost and rejected), then {_PR_ITER} fixed PageRank iterations (one join + one aggregate shuffle each, 9dp-rounded per round so aggregation-order ulps can't diverge engines); oracle unrolls the deterministic k-means, the graph build, and every iteration. The composed representative-content selection signal for a training mix",
)
def pagerank_similarity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.graph import pagerank_topk

    return pagerank_topk(
        _emb_raw(spark, sf_dir), topk=_PR_TOPK, k=_PR_K,
        iterations=_PR_ITER, damping=_PR_DAMP,
    )


# ---------------------------------------------------------------------------
# Community detection over the same k-NN similarity graph: fixed-iteration
# synchronous label propagation (Raghavan et al. 2007) with integer votes
# and a min-label tie-break — deterministic, so the oracle unrolls the
# graph build AND every propagation round. PageRank ranks documents;
# LPA partitions them into similarity neighborhoods a mix policy groups on.
# ---------------------------------------------------------------------------
_LPA_K, _LPA_ITER = 3, 3


def _lpa_oracle() -> str:
    ctes = [
        _knn_edges_cte(_LPA_K),
        """bi AS MATERIALIZED (
  SELECT DISTINCT src, dst FROM (
    SELECT src, dst FROM edges UNION ALL SELECT dst AS src, src AS dst FROM edges
  )
)""",
        "lab0 AS MATERIALIZED (SELECT vec_id, vec_id AS community FROM en)",
    ]
    for i in range(1, _LPA_ITER + 1):
        ctes.append(f"""lab{i} AS MATERIALIZED (
  SELECT _node AS vec_id, community FROM (
    SELECT _node, community,
           ROW_NUMBER() OVER (PARTITION BY _node ORDER BY c DESC, community ASC) AS r
    FROM (
      SELECT _node, community, COUNT(*) AS c FROM (
        SELECT b.src AS _node, l.community
        FROM bi b JOIN lab{i - 1} l ON l.vec_id = b.dst
        UNION ALL SELECT vec_id AS _node, community FROM lab{i - 1}
      ) GROUP BY _node, community
    )
  ) WHERE r = 1
)""")
    return f"""
WITH {_ivf_ctes(n_centroids_sql=_SEMDEDUP_CELLS_SQL)},
{",".join(ctes)}
SELECT vec_id, community FROM lab{_LPA_ITER}
"""


@register(
    "lpa_communities_similarity_graph",
    oracle=_lpa_oracle(),
    doc=f"label-propagation community detection over the IVF-built k-NN similarity graph: same cell-local {_LPA_K}-NN edge build as pagerank_similarity_graph (one shuffle on cell, no broadcast), symmetrized once, then {_LPA_ITER} synchronous LPA rounds — each node adopts the most frequent label among neighbors + its own, ties -> smallest label. Integer votes + value tie-break remove the update-order nondeterminism of classic async LPA, so the whole computation is ONE fixed plan and the oracle unrolls every round; per round = one edge-scale join + one count aggregate + a WindowGroupLimit argmax, relations never wider than (k+1) x n rows. Emits per-vector (vec_id, community) with community = min member id at the fixpoint — the similarity-neighborhood partition a data-mix policy caps/upweights on",
)
def lpa_communities_similarity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.graph import knn_lpa_communities

    return knn_lpa_communities(
        _emb_raw(spark, sf_dir), k=_LPA_K, iterations=_LPA_ITER
    )


# ---------------------------------------------------------------------------
# Graph structure profiling: triangle counting / clustering coefficients
# over the SAME k-NN similarity graph PageRank and LPA consume. Measured
# (r13, tests/test_triangles.py): on the EXACT graph avg local cc
# separates clustered vs random corpora 0.144 vs 0.025 (the regime
# detector for whether cell-local recall can hold); on the cell-local
# build the contrast compresses to 0.17 vs 0.11 because intra-cell edges
# close wedges by construction. This registered query profiles the
# CONSUMED approximate graph; regime detection runs the same summary
# over exact_knn_edges of a sample (GEMM path).
# ---------------------------------------------------------------------------
def _triangle_oracle() -> str:
    return f"""
WITH {_ivf_ctes(n_centroids_sql=_SEMDEDUP_CELLS_SQL)},
{_knn_edges_cte(3)},
und AS MATERIALIZED (
  SELECT LEAST(src, dst) AS a, GREATEST(src, dst) AS b
  FROM edges WHERE src != dst GROUP BY 1, 2
),
deg AS MATERIALIZED (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS d
  FROM (SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
  GROUP BY node
),
oe AS MATERIALIZED (
  SELECT CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.a ELSE u.b END AS u,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN u.b ELSE u.a END AS v,
         CASE WHEN da.d < db.d OR (da.d = db.d AND u.a < u.b) THEN db.d ELSE da.d END AS dv
  FROM und u JOIN deg da ON da.node = u.a JOIN deg db ON db.node = u.b
),
tri AS MATERIALIZED (
  SELECT e1.u AS u, e1.v AS v1, e2.v AS v2
  FROM oe e1 JOIN oe e2 ON e1.u = e2.u
  WHERE (e1.dv < e2.dv OR (e1.dv = e2.dv AND e1.v < e2.v))
    AND EXISTS (SELECT 1 FROM und t
                WHERE t.a = LEAST(e1.v, e2.v) AND t.b = GREATEST(e1.v, e2.v))
),
tn AS (
  SELECT node, CAST(COUNT(*) AS BIGINT) AS t
  FROM (SELECT u AS node FROM tri UNION ALL
        SELECT v1 FROM tri UNION ALL SELECT v2 FROM tri)
  GROUP BY node
),
pernode AS (
  SELECT deg.node, deg.d, COALESCE(tn.t, 0) AS t,
         CASE WHEN deg.d < 2 THEN 0.0
              ELSE ROUND(2.0 * CAST(COALESCE(tn.t, 0) AS DOUBLE)
                         / CAST(deg.d * (deg.d - 1) AS DOUBLE), 9) END AS local_cc
  FROM deg LEFT JOIN tn USING (node)
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes,
       CAST(SUM(d) // 2 AS BIGINT) AS n_edges,
       CAST(SUM(d * (d - 1) // 2) AS BIGINT) AS n_wedges,
       CAST(SUM(t) // 3 AS BIGINT) AS n_triangles,
       ROUND(CASE WHEN SUM(d * (d - 1) // 2) = 0 THEN 0.0
             ELSE 3.0 * CAST(SUM(t) // 3 AS DOUBLE)
                  / CAST(SUM(d * (d - 1) // 2) AS DOUBLE) END, 6) AS global_cc,
       ROUND(CAST(SUM(CAST(local_cc AS DECIMAL(18,9))) AS DOUBLE)
             / CAST(COUNT(*) AS DOUBLE), 6) AS avg_local_cc
FROM pernode
"""


@register(
    "triangle_stats_similarity_graph",
    oracle=_triangle_oracle(),
    doc="triangle count + clustering coefficients over the IVF-built k-NN similarity graph (same edge build as pagerank/LPA): DEGREE-ORDERED edge orientation bounds every node's out-degree by O(sqrt(m)) (arboricity), so the wedge self-join emits <= O(m^1.5) rows TOTAL regardless of hub in-degree — the skew that matters for k-NN graphs, where out-degree is k by construction but hub vectors appear in many top-k lists; plan = symmetrize distinct + 2 degree joins + wedge self-join on the low endpoint + closing-edge semi-join + explode-to-members count; one summary row (n_nodes/edges/wedges/triangles, global_cc = closed-wedge fraction, avg_local_cc through an exact DECIMAL(18,9) sum). Profiles the CONSUMED approximate graph; for corpus-regime detection run the same summary over exact_knn_edges of a sample — measured avg_local_cc separates clustered/random 0.144 vs 0.025 on the exact graph but only 0.17 vs 0.11 cell-locally (intra-cell edges inflate transitivity). Oracle unrolls the k-means, the graph build, the orientation, and the wedge closure",
)
def triangle_stats_similarity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.graph import (
        knn_graph_ivf,
        triangle_summary,
    )

    return triangle_summary(knn_graph_ivf(_emb_raw(spark, sf_dir), k=3))


# ---------------------------------------------------------------------------
# k-NN graph recall floor (VERDICT r11 #1): the IVF/LSH/PQ recall-floor
# pattern applied to the graph build itself. PageRank and LPA consume the
# cell-local (n_probe=1) approximate graph; this query measures, per exact
# 3-NN edge of a sampled query set, whether that build recovered it —
# the number the centrality/community docstrings quote. Exact side =
# corpus x BROADCAST sampled queries (the ann_topk_bruteforce shape,
# linear in the corpus); approx side = the very knn_graph_ivf build the
# consumers run; oracle unrolls both.
# ---------------------------------------------------------------------------
# adaptive sample stride, the graph.recall_sample_mod mirror: ~64 query
# nodes at any tier so the exact brute-force side stays linear in rows
_KNN_RECALL_MOD_SQL = "(SELECT GREATEST(23, CAST(CEIL(COUNT(*) / 64.0) AS BIGINT)) FROM en)"


def _knn_graph_recall_oracle() -> str:
    return f"""
WITH {_ivf_ctes(n_centroids_sql=_SEMDEDUP_CELLS_SQL)},
{_knn_edges_cte(_PR_K)},
q AS (SELECT vec_id AS src, v AS qv, nv AS nq FROM en WHERE vec_id % {_KNN_RECALL_MOD_SQL} = 0),
exact AS (
  SELECT src, dst FROM (
    SELECT q.src, en.vec_id AS dst,
           ROW_NUMBER() OVER (PARTITION BY q.src ORDER BY
             round(list_dot_product(en.v, q.qv) / (en.nv * q.nq), 9) DESC,
             en.vec_id ASC) AS r
    FROM q JOIN en ON en.vec_id != q.src
  ) WHERE r <= {_PR_K}
)
SELECT x.src, x.dst,
       CAST(CASE WHEN g.src IS NOT NULL THEN 1 ELSE 0 END AS BIGINT) AS found
FROM exact x LEFT JOIN edges g ON g.src = x.src AND g.dst = x.dst
"""


@register(
    "knn_graph_recall_floor",
    oracle=_knn_graph_recall_oracle(),
    doc=f"k-NN graph quality gate as a CHECKED query (the IVF/LSH/PQ recall-floor pattern applied to knn_graph_ivf): per exact {_PR_K}-NN edge of the sampled query nodes (adaptive stride keeps the sample at ~64 nodes, so the gate itself is LINEAR at any tier), did the production cell-local (n_probe=1) IVF graph build recover it — the measured approximation PageRank centrality and LPA communities ride on; exact side is corpus x broadcast sampled queries under the same 9dp-rounded ranking contract, oracle unrolls the deterministic k-means build, the cell-local edge join, and the brute-force ground truth; SCALING.md sweeps recall vs n_probe in {{1,2,4}}",
)
def knn_graph_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.graph import knn_graph_recall_flags

    return knn_graph_recall_flags(_emb_raw(spark, sf_dir), k=_PR_K)


# ---------------------------------------------------------------------------
# k-NN graph probe tuner (VERDICT r12 #1): the measured recall/cost LADDER
# behind knn_probes_for_recall — the graph family's bands_for_recall
# analogue. Cell-local recall has no closed form (it is a property of the
# corpus geometry), so the lever MEASURES a doubling probe ladder on the
# sampled query set and flags the smallest rung meeting the target;
# probing every cell is exact k-NN, so the full ladder always reaches any
# target. This registers the ladder itself so the tuner's decision inputs
# are hash-checked cross-engine.
# ---------------------------------------------------------------------------
_KNN_TUNED_LADDER = (1, 2, 4, 8)
_KNN_TUNED_TARGET = 0.5


def _knn_probe_sweep_oracle() -> str:
    p_max = max(_KNN_TUNED_LADDER)
    rungs = "\nUNION ALL\n".join(
        f"""SELECT CAST({p} AS BIGINT) AS n_probe, src, dst FROM (
  SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src ORDER BY cos DESC, dst ASC) AS r
  FROM cand WHERE cell_rank <= {p}
) WHERE r <= {_PR_K}"""
        for p in _KNN_TUNED_LADDER
    )
    ladder_values = ", ".join(f"({p})" for p in _KNN_TUNED_LADDER)
    return f"""
WITH {_ivf_ctes(n_centroids_sql=_SEMDEDUP_CELLS_SQL)},
q AS (SELECT vec_id AS src, v AS qv, nv AS nq FROM en WHERE vec_id % {_KNN_RECALL_MOD_SQL} = 0),
exact AS MATERIALIZED (
  SELECT src, dst FROM (
    SELECT q.src, en.vec_id AS dst,
           ROW_NUMBER() OVER (PARTITION BY q.src ORDER BY
             round(list_dot_product(en.v, q.qv) / (en.nv * q.nq), 9) DESC,
             en.vec_id ASC) AS r
    FROM q JOIN en ON en.vec_id != q.src
  ) WHERE r <= {_PR_K}
),
qp AS (
  SELECT src, cell, rn AS cell_rank FROM (
    SELECT q.src, cfin.cid AS cell,
           ROW_NUMBER() OVER (PARTITION BY q.src ORDER BY
             round(list_dot_product(q.qv, cfin.cv)
               / (q.nq * sqrt(list_dot_product(cfin.cv, cfin.cv))), 9) DESC,
             cfin.cid ASC) AS rn
    FROM q CROSS JOIN cfin
  ) WHERE rn <= {p_max}
),
cand AS MATERIALIZED (
  SELECT qp.src, e2.vec_id AS dst,
         round(list_dot_product(e2.v, q.qv) / (e2.nv * q.nq), 9) AS cos,
         qp.cell_rank
  FROM qp JOIN afin a2 ON a2.cell = qp.cell
  JOIN en e2 ON e2.vec_id = a2.vec_id
  JOIN q ON q.src = qp.src
  WHERE e2.vec_id != qp.src
),
rungs AS (
{rungs}
),
fnd AS (
  SELECT n_probe, COUNT(*) AS nf
  FROM rungs JOIN exact USING (src, dst) GROUP BY n_probe
),
nex AS (SELECT COUNT(*) AS n_exact FROM exact),
r AS (
  SELECT CAST(l.p AS BIGINT) AS n_probe,
         CAST(nex.n_exact AS BIGINT) AS n_exact,
         CAST(COALESCE(f.nf, 0) AS BIGINT) AS n_found,
         round(COALESCE(f.nf, 0) / CAST(nex.n_exact AS DOUBLE), 6) AS recall
  FROM (VALUES {ladder_values}) l(p) CROSS JOIN nex
  LEFT JOIN fnd f ON f.n_probe = l.p
)
SELECT n_probe, n_exact, n_found, recall,
  CAST(CASE WHEN MIN(CASE WHEN recall >= {_KNN_TUNED_TARGET} THEN n_probe END) OVER () IS NOT NULL
       THEN CASE WHEN n_probe = MIN(CASE WHEN recall >= {_KNN_TUNED_TARGET} THEN n_probe END) OVER () THEN 1 ELSE 0 END
       ELSE CASE WHEN n_probe = MAX(n_probe) OVER () THEN 1 ELSE 0 END END AS BIGINT) AS chosen,
  CAST(CASE WHEN MIN(CASE WHEN recall >= {_KNN_TUNED_TARGET} THEN n_probe END) OVER () IS NULL THEN 1 ELSE 0 END AS BIGINT) AS capped
FROM r
"""


@register(
    "knn_graph_recall_tuned",
    oracle=_knn_probe_sweep_oracle(),
    doc=f"the k-NN graph's measured recall LEVER as a query (VERDICT r12 #1, the bands_for_recall/minhash_bands_for_recall analogue for a quantity with no closed form): per probe rung in {_KNN_TUNED_LADDER}, the exact-edge recall of the IVF graph build at that n_probe over the adaptively-sampled (~64-node) query set, with chosen=1 on the smallest rung meeting target {_KNN_TUNED_TARGET} (capped=1 everywhere when none does — the cap is data, never silent); ONE shared k-means build + one exact GEMM pass + ONE candidate scan at max(probes) carrying the probed cell's rank, each rung a WindowGroupLimit re-rank of the same persisted ~64 x p_max x cell_size candidate relation; knn_probes_for_recall extends the ladder to the cell count (probing every cell = exact k-NN) so any target is reachable, and pagerank/LPA accept recall_target to build at the chosen rung; oracle unrolls the k-means, the probe ranking, every rung, and the chosen/capped argmin",
)
def knn_graph_recall_tuned(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.graph import knn_probe_recall_sweep

    return knn_probe_recall_sweep(
        _emb_raw(spark, sf_dir),
        probes=_KNN_TUNED_LADDER,
        k=_PR_K,
        target_recall=_KNN_TUNED_TARGET,
    )


# ---------------------------------------------------------------------------
# Cluster-balanced diversity sampling: equal md5-deterministic quotas from
# every k-means cell — the diversity-preserving selection for a training
# mix (uniform Bernoulli over-represents dense regions of embedding space).
# ---------------------------------------------------------------------------
_CBS_PER_CELL = 8


@register(
    "cluster_balanced_sample_embeddings",
    oracle=f"""
WITH {_ivf_ctes()}
SELECT cell, cell_rank, vec_id FROM (
  SELECT cell, vec_id,
         ROW_NUMBER() OVER (PARTITION BY cell
           ORDER BY md5(CAST(vec_id AS VARCHAR)), vec_id) AS cell_rank
  FROM afin
) WHERE cell_rank <= {_CBS_PER_CELL}
""",
    doc=f"cluster-balanced diversity sample: deterministic k-means assignment (literal-centroid Arrow UDF, no shuffle) + md5-ranked quota of {_CBS_PER_CELL} per cell (ONE shuffle on cell, WindowGroupLimit partial top-k before the exchange); output volume n_centroids x per_cell regardless of corpus size; oracle unrolls the identical k-means and ranks by the same md5 order",
)
def cluster_balanced_sample_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.cluster_balanced_sample(
        _emb_raw(spark, sf_dir), per_cell=_CBS_PER_CELL
    )


# ---------------------------------------------------------------------------
# Text quality: repetition signals (Gopher/C4-style filters)
# ---------------------------------------------------------------------------
@register(
    "repetition_profile_documents",
    oracle=f"""
WITH w AS (SELECT doc_id, regexp_extract_all(lower(text), '{WORD_RE}') AS ws FROM documents),
tops AS (
  SELECT doc_id, MAX(c) AS top, SUM(c) AS total FROM (
    SELECT doc_id, word, COUNT(*) AS c
    FROM (SELECT doc_id, unnest(ws) AS word FROM w) GROUP BY doc_id, word
  ) GROUP BY doc_id
),
bg AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 2
              THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
              ELSE [] END AS bgs
  FROM w
)
SELECT w.doc_id,
  CAST(COALESCE(t.total, 0) AS BIGINT) AS n_words,
  round(CASE WHEN t.total > 0 THEN CAST(t.top AS DOUBLE) / t.total ELSE 0.0 END, 6) AS top_word_frac,
  round(CASE WHEN len(b.bgs) > 0 THEN 1.0 - CAST(len(list_distinct(b.bgs)) AS DOUBLE) / len(b.bgs) ELSE 0.0 END, 6) AS dup_bigram_frac
FROM w LEFT JOIN tops t ON t.doc_id = w.doc_id LEFT JOIN bg b ON b.doc_id = w.doc_id
""",
    doc="repetition quality signals: top-word fraction (explode + two partial aggs) and duplicated-bigram fraction (array exprs in the scan)",
)
def repetition_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import repetition_profile

    return repetition_profile(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Text curation: PII-ish pattern counts + redacted fingerprint
# ---------------------------------------------------------------------------
def _pii_oracle() -> str:
    from github_etl_pipeline_spark.operators.text import EMAIL_RE, PHONE_RE, URL_RE

    red = (
        f"regexp_replace(regexp_replace(regexp_replace(text, '{URL_RE}', '<URL>', 'g'),"
        f" '{EMAIL_RE}', '<EMAIL>', 'g'), '{PHONE_RE}', '<PHONE>', 'g')"
    )
    return f"""
SELECT doc_id,
  len(regexp_extract_all(text, '{URL_RE}')) AS n_urls,
  len(regexp_extract_all(text, '{EMAIL_RE}')) AS n_emails,
  len(regexp_extract_all(text, '{PHONE_RE}')) AS n_phones,
  md5({red}) AS redacted_hash
FROM documents
"""


@register(
    "pii_profile_documents",
    oracle=_pii_oracle(),
    doc="PII-ish pattern counts (url/email/phone, RE2-compatible regexes) + md5 of the redacted text; one scan, no shuffle",
)
def pii_profile_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import pii_profile

    return pii_profile(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# Training-data curation: deterministic stratified sampling (mixture
# weighting). Rates: src{i} keeps (i % 4 + 1) * 25% — every rate tier
# exercised. The oracle reproduces the md5 bucket bit-for-bit.
# ---------------------------------------------------------------------------
_SAMPLE_RATES = {f"src{i}": (i % 4 + 1) * 0.25 for i in range(20)}


def _stratified_sample_oracle() -> str:
    from github_etl_pipeline_spark.operators.sampling import BUCKETS, SAMPLE_SEED

    cases = " ".join(
        f"WHEN source = '{k}' THEN {int(round(v * BUCKETS))}"
        for k, v in sorted(_SAMPLE_RATES.items())
    )
    bucket = (
        f"CAST(('0x' || substr(md5('{SAMPLE_SEED}:' || CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) % {BUCKETS}"
    )
    return f"""
SELECT doc_id, source FROM documents
WHERE {bucket} < (CASE {cases} ELSE 0 END)
"""


@register(
    "stratified_sample_documents",
    oracle=_stratified_sample_oracle(),
    doc="deterministic per-stratum Bernoulli-by-hash sampling (mixture weighting; stable across runs/engines, no RNG) — filter inside the scan, no shuffle",
)
def stratified_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sampling import stratified_sample

    docs = read_table(spark, sf_dir, "documents")
    return stratified_sample(docs, _SAMPLE_RATES).select("doc_id", "source")


# ---------------------------------------------------------------------------
# Text analysis: top terms per source by a log-free tf-idf score
# (log() differs in last-ulp across libm implementations; tf * N/df is a
# deterministic double with the same ordering properties)
# ---------------------------------------------------------------------------
@register(
    "top_terms_by_source",
    oracle=f"""
WITH tok AS (
  SELECT source, doc_id, unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS term FROM documents
),
n_docs AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
df AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM tok GROUP BY term),
tf AS (SELECT source, term, COUNT(*) AS tf FROM tok GROUP BY source, term),
scored AS (
  SELECT tf.source, tf.term, tf.tf,
         tf.tf * (CAST((SELECT n FROM n_docs) AS DOUBLE) / df.df) AS score
  FROM tf JOIN df ON df.term = tf.term
)
SELECT source, rank, term, tf FROM (
  SELECT source, term, tf,
         ROW_NUMBER() OVER (PARTITION BY source ORDER BY score DESC, term ASC) AS rank
  FROM scored
) WHERE rank <= 5
""",
    doc="tf-idf-style top-5 terms per source (log-free score for cross-engine determinism); ONE tokenize pass: (term,source,doc_id) pre-agg -> (term,source) agg carrying doc counts -> df as a window sum over term (no second scan, no df join)",
)
def top_terms_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import TOKEN_RE as _TRE
    from pyspark.sql import Window

    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source", "doc_id", F.explode(F.regexp_extract_all("text", F.lit(_TRE), 0)).alias("term")
    )
    n_docs = docs.select(F.count_distinct("doc_id").alias("n"))
    # The document text is tokenized ONCE. A naive tf/df formulation reads
    # the exploded token relation twice (two regexp passes over every
    # document — and Catalyst's column pruning diverges the two pre-agg
    # subtrees, so ReusedExchange does NOT rescue it). Instead: aggregate
    # to (term, source) carrying BOTH the term frequency and the number of
    # contributing documents, then recover the per-term document frequency
    # as a window SUM over term — each doc_id has exactly one source, so
    # summing per-source doc counts across sources is exactly
    # COUNT(DISTINCT doc_id) per term. Everything after the first exchange
    # operates on the skinny (term, source) aggregate.
    pre = tok.groupBy("term", "source", "doc_id").agg(F.count(F.lit(1)).alias("cnt"))
    tf = pre.groupBy("term", "source").agg(
        F.sum("cnt").alias("tf"), F.count(F.lit(1)).alias("docs")
    )
    df_w = Window.partitionBy("term")
    scored = tf.withColumn("df", F.sum("docs").over(df_w)).crossJoin(
        F.broadcast(n_docs)
    ).select(
        "source",
        "term",
        "tf",
        (F.col("tf") * (F.col("n").cast("double") / F.col("df"))).alias("score"),
    )
    w = Window.partitionBy("source").orderBy(F.col("score").desc(), F.col("term").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 5)
        .select("source", "rank", "term", "tf")
    )


# ---------------------------------------------------------------------------
# Semi-structured parsing: numeric field out of the JSON-ish props column
# ---------------------------------------------------------------------------
@register(
    "props_parse_events",
    oracle="""
WITH p AS (
  SELECT TRY_CAST(regexp_extract(props, '"k":\\s*(\\d+)', 1) AS BIGINT) AS k, value
  FROM events
)
SELECT k % 10 AS k_bucket, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM p WHERE k IS NOT NULL GROUP BY k % 10
""",
    doc="semi-structured field extraction (regex over the JSON-ish props column) + bucketed aggregate",
)
def props_parse_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    k = F.regexp_extract("props", r'"k":\s*(\d+)', 1).try_cast("long")
    return (
        e.select(k.alias("k"), "value")
        .where(F.col("k").isNotNull())
        .groupBy((F.col("k") % 10).alias("k_bucket"))
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


# ---------------------------------------------------------------------------
# Sketches: count-min frequency estimates and HyperLogLog registers —
# constant-size summaries with ALL-INTEGER outputs, so the oracles are
# exact (see operators/sketches.py for the scale story).
# ---------------------------------------------------------------------------
_CMS_HASH = "CAST(('0x' || substr(md5('cms' || row || ':' || k), 1, 8)) AS BIGINT)"


@register(
    "cms_user_purchase_counts",
    oracle=f"""
WITH src AS (SELECT CAST(user_id AS VARCHAR) AS k FROM events WHERE event_type = 'purchase'),
d AS (SELECT unnest(range(0, 4)) AS row),
e AS (SELECT row, {_CMS_HASH} % 256 AS bucket FROM src CROSS JOIN d),
sketch AS (SELECT row, bucket, COUNT(*) AS cnt FROM e GROUP BY 1, 2),
keys AS (SELECT k, COUNT(*) AS exact_count FROM src GROUP BY k),
kh AS (SELECT k, row, {_CMS_HASH} % 256 AS bucket FROM keys CROSS JOIN d),
est AS (SELECT k, MIN(cnt) AS est_count FROM kh JOIN sketch USING (row, bucket) GROUP BY k)
SELECT keys.k AS user_key, est.est_count, keys.exact_count
FROM keys JOIN est ON est.k = keys.k
""",
    doc="count-min sketch (4x256, md5-derived): per-user purchase-count estimates joined against exact counts — the sketch is a constant-size map-side-combined aggregate, broadcast for point queries; est >= exact by construction",
)
def cms_user_purchase_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import cms_estimate, cms_sketch

    src = (
        read_table(spark, sf_dir, "events")
        .where(F.col("event_type") == "purchase")
        .select("user_id")
    )
    sketch = cms_sketch(src, "user_id")
    exact = src.groupBy(F.col("user_id").cast("string").alias("user_key")).agg(
        F.count(F.lit(1)).alias("exact_count")
    )
    est = cms_estimate(sketch, src.distinct(), "user_id")
    return exact.join(est, "user_key").select("user_key", "est_count", "exact_count")


# weighted phi-heavy-hitters: same CMS-prune + exact-verify machinery as
# heavy_grams_documents, but occurrences carry integer-cent MASS — phi
# bounds each key's share of total value, the revenue-concentration /
# token-mass form of the question. Output EXACT for the same reason
# (weighted CMS with non-negative weights never underestimates).
_HVAL_PHI = 0.05


@register(
    "heavy_value_event_types",
    oracle=f"""
WITH w AS (
  SELECT event_type AS key, CAST(round(value * 100) AS BIGINT) AS wt FROM events
),
t AS (SELECT GREATEST(1, CAST(CEIL({_HVAL_PHI!r} * SUM(wt)) AS BIGINT)) AS tau FROM w)
SELECT key, CAST(SUM(wt) AS BIGINT) AS cnt
FROM w GROUP BY key
HAVING SUM(wt) >= (SELECT tau FROM t)
""",
    doc=f"WEIGHTED exact phi-heavy-hitters (phi={_HVAL_PHI}): keys above phi of total integer-cent event VALUE, via the same CMS-prune + exact-verify two-pass as heavy_grams_documents with per-occurrence mass (weighted non-negative CMS keeps the never-underestimates superset guarantee; negative weights fail the job loudly); oracle is a plain weighted HAVING",
)
def heavy_value_event_types(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import cms_heavy_hitters

    w = read_table(spark, sf_dir, "events").select(
        F.col("event_type"),
        F.round(F.col("value") * 100).cast("long").alias("wt"),
    )
    return cms_heavy_hitters(w, "event_type", phi=_HVAL_PHI, weight_col="wt")


# CMS inner-product join-size estimation (AMS-style): priced without
# running the join, never an undercount — the admission gate a planner
# consults before committing to a join strategy. width 16384 puts the
# collision term n_a*n_b/width near the true size at sf0.01.
_JSZ_W = 16_384
_JSZ_HASH = "CAST(('0x' || substr(md5('cms' || row || ':' || k), 1, 8)) AS BIGINT)"


@register(
    "join_size_estimate_orders",
    oracle=f"""
WITH d AS (SELECT unnest(range(0, 4)) AS row),
ka AS (SELECT CAST(o_orderkey AS VARCHAR) AS k FROM orders),
kb AS (SELECT CAST(l_orderkey AS VARCHAR) AS k FROM lineitem),
sa AS (SELECT row, {_JSZ_HASH} % {_JSZ_W} AS bucket, CAST(COUNT(*) AS BIGINT) AS ca
       FROM ka CROSS JOIN d GROUP BY 1, 2),
sb AS (SELECT row, {_JSZ_HASH} % {_JSZ_W} AS bucket, CAST(COUNT(*) AS BIGINT) AS cb
       FROM kb CROSS JOIN d GROUP BY 1, 2),
dots AS (SELECT sa.row, CAST(SUM(sa.ca * sb.cb) AS BIGINT) AS dot
         FROM sa JOIN sb USING (row, bucket) GROUP BY sa.row),
est AS (SELECT MIN(dot) AS est_join_rows FROM dots),
ex AS (SELECT CAST(COUNT(*) AS BIGINT) AS exact_join_rows
       FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey)
SELECT est.est_join_rows, ex.exact_join_rows,
       CAST(est.est_join_rows AS DOUBLE) / CAST(ex.exact_join_rows AS DOUBLE)
         AS over_ratio
FROM est CROSS JOIN ex
""",
    doc=f"equi-join cardinality estimate from two count-min sketches (AMS/CM inner product, 4x{_JSZ_W}): est = min over rows of sum(cntA*cntB) NEVER undercounts — the join-admission gate computed from two constant-size sketch aggregates + a (row,bucket) join of sketch-sized relations, no join executed; reported beside the exact count so the overestimate factor is continuously measured",
)
def join_size_estimate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import cms_sketch

    o = read_table(spark, sf_dir, "orders")
    l = read_table(spark, sf_dir, "lineitem")
    # r13: lineitem carries ~4 rows per orderkey, so both the sketch and
    # the exact count pre-aggregate it to ONE persisted (key, cnt)
    # relation — the weighted sketch is value-identical (bucket counts
    # sum the same occurrences) with 4x fewer md5 evaluations, and the
    # exact join count is SUM(cnt) over keys matching orders (identical
    # to COUNT(*) of the row join; 7.6s -> 4.0s at the x30 tier).
    # cache contract: harness sweeps per query (ADVICE r8)
    lc = (
        l.groupBy("l_orderkey").agg(F.count(F.lit(1)).alias("_cl")).persist()
    )
    sa = cms_sketch(o, "o_orderkey", 4, _JSZ_W)
    sb = cms_sketch(lc, "l_orderkey", 4, _JSZ_W, weight_col="_cl")
    dots = (
        sa.withColumnRenamed("cnt", "ca")
        .join(sb.withColumnRenamed("cnt", "cb"), ["row", "bucket"])
        .groupBy("row")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    est = dots.agg(F.min("dot").alias("est_join_rows"))
    exact = (
        o.select("o_orderkey")
        .join(lc, F.col("o_orderkey") == F.col("l_orderkey"))
        .agg(F.sum("_cl").cast("long").alias("exact_join_rows"))
    )
    return est.crossJoin(exact).select(
        "est_join_rows",
        "exact_join_rows",
        (
            F.col("est_join_rows").cast("double")
            / F.col("exact_join_rows").cast("double")
        ).alias("over_ratio"),
    )


@register(
    "hll_registers_events",
    oracle="""
WITH h AS (
  SELECT CAST(('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 8)) AS BIGINT) AS hv
  FROM events
),
r AS (SELECT hv % 64 AS bucket, hv // 64 AS rest FROM h)
SELECT bucket,
       MAX(CASE WHEN rest = 0 THEN 27 ELSE 27 - length(bin(rest)) END) AS register
FROM r GROUP BY bucket
""",
    doc="HyperLogLog register table (64 buckets, md5-derived): constant-size distinct-count summary via one MAX-combined aggregate; the float estimate is left to the consumer of the registers so the query output is exact integers",
)
def hll_registers_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import hll_registers

    return hll_registers(read_table(spark, sf_dir, "events"), "user_id")


# ---------------------------------------------------------------------------
# Vocabulary build: global token counts, min-count floor, top-V cutoff
# ---------------------------------------------------------------------------
@register(
    "vocabulary_documents",
    oracle=f"""
WITH tok AS (
  SELECT unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS term FROM documents
),
counts AS (SELECT term, COUNT(*) AS cnt FROM tok GROUP BY term),
total AS (SELECT CAST(SUM(cnt) AS BIGINT) AS tot FROM counts),
ranked AS (
  SELECT term, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, term ASC) AS rank
  FROM counts WHERE cnt >= 5
)
SELECT rank, term, cnt,
       CAST(cnt AS DOUBLE) / CAST(tot AS DOUBLE) * 100 AS pct_of_tokens
FROM ranked CROSS JOIN total WHERE rank <= 100
""",
    doc="vocabulary build: global token counts with min-count floor and top-V cutoff + share of total token stream; InferWindowGroupLimit turns the rank filter into partial per-partition top-V",
)
def vocabulary_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import build_vocabulary

    return build_vocabulary(_docs(spark, sf_dir))


# ---------------------------------------------------------------------------
# BM25 ranked retrieval: keyword search over the documents table
# ---------------------------------------------------------------------------
_BM25_TERMS = ("join", "stream", "filter")
_BM25_K1, _BM25_B, _BM25_TOPK = 1.2, 0.75, 20


def _bm25_scored_ctes() -> str:
    """CTE chain ending in ``scored(doc_id, bm25)`` — the full Okapi BM25
    scoring over the documents table; shared by the bm25_search oracle
    and the hybrid-RRF oracle (which ranks the same top-k list)."""
    return f"""base AS (
  SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS w FROM documents
),
dls AS (SELECT doc_id, CAST(len(w) AS INTEGER) AS dl, w FROM base),
stats AS (SELECT COUNT(*) AS n_docs, AVG(dl) AS avgdl FROM dls),
posting AS (
  SELECT doc_id, dl, t AS term, COUNT(*) AS tf
  FROM (SELECT doc_id, dl,
               unnest(list_filter(w, x -> x IN {_BM25_TERMS!r})) AS t
        FROM dls)
  GROUP BY 1, 2, 3
),
dfreq AS (SELECT term, COUNT(DISTINCT doc_id) AS df FROM posting GROUP BY 1),
scored AS (
  SELECT p.doc_id,
         round(SUM(
           ln(1.0 + (s.n_docs - d.df + 0.5) / (d.df + 0.5))
           * p.tf * ({_BM25_K1} + 1)
           / (p.tf + {_BM25_K1} * (1 - {_BM25_B} + {_BM25_B} * p.dl / s.avgdl))
         ), 6) AS bm25
  FROM posting p JOIN dfreq d USING (term) CROSS JOIN stats s
  GROUP BY 1
)"""


@register(
    "bm25_search_documents",
    oracle=f"""
WITH {_bm25_scored_ctes()}
SELECT doc_id, bm25 FROM scored
ORDER BY bm25 DESC, doc_id ASC LIMIT {_BM25_TOPK}
""",
    doc=f"Okapi BM25 top-{_BM25_TOPK} keyword search for terms {_BM25_TERMS}: token array pre-filtered to query terms inside the scan, doc-frequency + corpus stats broadcast, TakeOrderedAndProject top-k; scores rounded before ordering for a cross-engine-stable tie-break",
)
def bm25_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import bm25_topk

    return bm25_topk(
        _docs(spark, sf_dir), _BM25_TERMS,
        k1=_BM25_K1, b=_BM25_B, topk=_BM25_TOPK,
    )


# ---------------------------------------------------------------------------
# Hybrid retrieval: BM25 keyword list + exact dense list fused by
# reciprocal-rank fusion — the RAG-curation merge that needs no score
# calibration between the two systems. doc_id and vec_id share an id space
# in this corpus (vec_id domain ⊆ doc_id domain at every tier), so the
# dense list's neighbor ids are valid document ids.
# ---------------------------------------------------------------------------
_RRF_K, _RRF_QUERY_ID, _RRF_TOPK = 60, 0, 20


@register(
    "hybrid_rrf_search_documents",
    oracle=f"""
WITH {_bm25_scored_ctes()},
bm25r AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id ASC) AS rank
  FROM (SELECT doc_id, bm25 FROM scored ORDER BY bm25 DESC, doc_id ASC LIMIT {_BM25_TOPK})
),
en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
q AS (SELECT v AS qv, sqrt(list_dot_product(v, v)) AS nq FROM en WHERE vec_id = {_RRF_QUERY_ID}),
ann AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY cos DESC, doc_id ASC) AS rank FROM (
    SELECT e.vec_id AS doc_id,
           list_dot_product(e.v, q.qv)
             / (sqrt(list_dot_product(e.v, e.v)) * q.nq) AS cos
    FROM en e CROSS JOIN q WHERE e.vec_id != {_RRF_QUERY_ID}
    ORDER BY cos DESC, e.vec_id ASC LIMIT {_RRF_TOPK}
  )
),
u AS (SELECT doc_id, rank FROM bm25r UNION ALL SELECT doc_id, rank FROM ann),
fused AS (
  SELECT doc_id, round(SUM(1.0 / ({_RRF_K} + rank)), 9) AS rrf_score,
         CAST(COUNT(*) AS BIGINT) AS n_lists
  FROM u GROUP BY doc_id
)
SELECT fused_rank, doc_id, rrf_score, n_lists FROM (
  SELECT ROW_NUMBER() OVER (ORDER BY rrf_score DESC, doc_id ASC) AS fused_rank,
         doc_id, rrf_score, n_lists
  FROM fused
) WHERE fused_rank <= {_RRF_TOPK}
""",
    doc=f"hybrid retrieval via reciprocal-rank fusion: BM25 top-{_BM25_TOPK} keyword list + exact dense top-{_RRF_TOPK} for query vector {_RRF_QUERY_ID}, fused by sum(1/({_RRF_K}+rank)) rounded 9dp (with 2 lists the per-id sum is one commutative IEEE addition — order-exact cross-engine); every stage runs at topk scale after the two retrievals, both of which keep their own bounded plans",
)
def hybrid_rrf_search_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import bm25_topk

    bm25 = bm25_topk(
        _docs(spark, sf_dir), _BM25_TERMS, k1=_BM25_K1, b=_BM25_B, topk=_BM25_TOPK
    )
    bm25_ranked = bm25.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.col("bm25").desc(), F.col("doc_id").asc()))
        .alias("rank"),
    )
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") == _RRF_QUERY_ID).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ann_ranked = S.cosine_topk(emb, queries, k=_RRF_TOPK).select(
        F.col("neighbor_id").alias("doc_id"), "rank"
    )
    return S.rrf_fuse(
        [bm25_ranked, ann_ranked], k_const=_RRF_K, topk=_RRF_TOPK
    )


# ---------------------------------------------------------------------------
# Embedding curation: centroid-distance outliers (SemDeDup-style audit)
# ---------------------------------------------------------------------------
@register(
    "embedding_centroid_outliers",
    oracle="""
WITH u AS (SELECT label, vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
x AS (SELECT label, unnest(v) AS val, generate_subscripts(v, 1) AS pos FROM u),
c AS (SELECT label, pos, AVG(val) AS a FROM x GROUP BY 1, 2),
cent AS (SELECT label, list(a ORDER BY pos) AS cv FROM c GROUP BY 1),
s AS (
  SELECT u.label, u.vec_id,
         list_dot_product(u.v, c.cv)
           / (sqrt(list_dot_product(u.v, u.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS cos
  FROM u JOIN cent c USING (label)
)
SELECT label, rank, vec_id FROM (
  SELECT label, vec_id,
         ROW_NUMBER() OVER (PARTITION BY label ORDER BY cos ASC, vec_id ASC) AS rank
  FROM s
) WHERE rank <= 5
""",
    doc="SemDeDup-style centroid-distance outliers: per-label mean vector as dim map-side-combined AVG aggregates (no explode), broadcast back, bottom-5 cosine per label (ranks only — float-sum-order safe)",
)
def embedding_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    return S.centroid_outliers(_emb(spark, sf_dir), group_col="label", k=5)


# ---------------------------------------------------------------------------
# Unigram LM quality outliers (CCNet-style LM-filter proxy)
# ---------------------------------------------------------------------------
@register(
    "unigram_logprob_outliers",
    oracle=f"""
WITH t AS (SELECT doc_id, unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS tok FROM documents),
v AS (SELECT tok, COUNT(*) AS c FROM t GROUP BY 1),
tot AS (SELECT CAST(SUM(c) AS DOUBLE) AS s FROM v),
d AS (
  SELECT doc_id, COUNT(*) AS n_tokens, AVG(ln(CAST(c AS DOUBLE) / s)) AS lp
  FROM t JOIN v USING (tok) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, rank FROM (
  SELECT doc_id, n_tokens, ROW_NUMBER() OVER (ORDER BY lp ASC, doc_id ASC) AS rank
  FROM d
) WHERE rank <= 20
""",
    doc="unigram-LM quality proxy (CCNet-style): corpus unigram model -> per-doc mean token log-prob -> bottom-20 'most surprising' docs; TakeOrdered top-k then a 20-row rank window (ranks only — libm/sum-order safe)",
)
def unigram_logprob_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    # (doc_id, tok) feeds the vocab aggregate and the scoring join; with
    # only TWO consumers, recomputing the pipelined tokenize+explode is
    # measured faster at the 100x tier than materializing a 30M-row
    # cache (r9 A/B: 5.9s recompute vs 6.4s persisted) — contrast
    # bigram_logprob, whose THREE-consumer gram relation does persist
    toks = docs.select(
        "doc_id",
        F.explode(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("tok"),
    )
    v = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    tot = v.agg(F.sum("c").cast("double").alias("s"))
    d = (
        toks.join(v, "tok")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.avg(F.log(F.col("c").cast("double") / F.col("s"))).alias("lp"),
        )
    )
    # global bottom-20 via TakeOrdered (no full sort), then the rank
    # window runs on 20 rows only
    top = d.orderBy(F.col("lp").asc(), F.col("doc_id").asc()).limit(20)
    w = Window.orderBy(F.col("lp").asc(), F.col("doc_id").asc())
    return (
        top.withColumn("rank", F.row_number().over(w))
        .select("doc_id", "n_tokens", "rank")
    )


# ---------------------------------------------------------------------------
# DSIR-style importance resampling (Xie et al. 2023): rank raw docs by the
# target-vs-raw unigram LM log-ratio — the data-selection primitive for
# steering a crawl toward a target distribution (extension block; no
# reference-repo counterpart)
# ---------------------------------------------------------------------------
@register(
    "dsir_importance_documents",
    oracle=f"""
WITH t AS (
  SELECT doc_id, source = 'src0' AS tgt,
         unnest(regexp_extract_all(text, '{TOKEN_RE}')) AS tok
  FROM documents
),
m AS (
  SELECT tok, COUNT(*) AS cr, COUNT(*) FILTER (WHERE tgt) AS ct
  FROM t GROUP BY 1
),
tot AS (
  SELECT CAST(SUM(cr) AS DOUBLE) AS tr, CAST(SUM(ct) AS DOUBLE) AS tt,
         CAST(COUNT(*) AS DOUBLE) AS v
  FROM m
),
d AS (
  SELECT doc_id, COUNT(*) AS n_tokens,
         round(AVG(ln(((CAST(ct AS DOUBLE) + 1.0) / (tt + v))
                      / ((CAST(cr AS DOUBLE) + 1.0) / (tr + v)))), 9) AS iw
  FROM t JOIN m USING (tok) CROSS JOIN tot
  GROUP BY doc_id
)
SELECT doc_id, n_tokens, rank FROM (
  SELECT doc_id, n_tokens,
         ROW_NUMBER() OVER (ORDER BY iw DESC, doc_id ASC) AS rank
  FROM d
) WHERE rank <= 20
""",
    doc="DSIR-style importance resampling: per-doc mean token log-ratio of the src0-target unigram LM vs the raw-corpus LM (add-1 smoothing over the corpus vocab), top-20 by importance — target and raw counts come out of ONE vocabulary-sized groupBy(token) (conditional count), one corpus-sized scoring join, TakeOrderedAndProject; score rounded to 9dp before ordering for a cross-engine-stable tie-break (ranks only)",
)
def dsir_importance_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import dsir_importance

    docs = _docs(spark, sf_dir)
    return dsir_importance(docs, F.col("source") == "src0", topk=20)


@register(
    "bigram_lm_outliers",
    oracle=f"""
WITH w AS (SELECT doc_id, regexp_extract_all(text, '{TOKEN_RE}') AS ws FROM documents),
bgl AS (
  SELECT doc_id, unnest(CASE WHEN len(ws) >= 2
        THEN list_transform(range(1, len(ws)), i -> ws[i] || ' ' || ws[i+1])
        ELSE [] END) AS bg
  FROM w),
t AS (SELECT unnest(ws) AS tok FROM w),
uni AS (SELECT tok, COUNT(*) AS cu FROM t GROUP BY 1),
tot AS (SELECT CAST(SUM(cu) AS DOUBLE) AS s FROM uni),
m2 AS (SELECT bg, COUNT(*) AS c2 FROM bgl GROUP BY 1),
m1 AS (SELECT split_part(bg, ' ', 1) AS w1, COUNT(*) AS c1 FROM bgl GROUP BY 1),
d AS (
  SELECT b.doc_id, COUNT(*) AS n_bigrams,
         round(AVG(ln((c2 + 1.0 * cu / s) / (c1 + 1.0))), 6) AS lp
  FROM bgl b
  JOIN m2 USING (bg)
  JOIN m1 ON m1.w1 = split_part(b.bg, ' ', 1)
  JOIN uni u ON u.tok = split_part(b.bg, ' ', 2)
  CROSS JOIN tot
  GROUP BY b.doc_id)
SELECT doc_id, CAST(n_bigrams AS BIGINT) AS n_bigrams, CAST(rank AS INTEGER) AS rank FROM (
  SELECT doc_id, n_bigrams, ROW_NUMBER() OVER (ORDER BY lp ASC, doc_id ASC) AS rank FROM d
) WHERE rank <= 20
""",
    doc="interpolated bigram-LM quality proxy: corpus bigram model with add-alpha unigram backoff -> per-doc mean log-prob (6dp-rounded) -> bottom-20 most-incoherent docs; ranks only (libm/sum-order safe)",
)
def bigram_lm_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.text import bigram_logprob

    d = bigram_logprob(_docs(spark, sf_dir), alpha=1.0)
    top = d.orderBy(F.col("lp").asc(), F.col("doc_id").asc()).limit(20)
    w = Window.orderBy(F.col("lp").asc(), F.col("doc_id").asc())
    return top.withColumn("rank", F.row_number().over(w)).select(
        "doc_id", "n_bigrams", "rank"
    )


# --------------------------------------------------------------------------
# Embedding int8 quantization (operators/quantize.py): the 4x scan-volume
# lever for vector corpora. Pure projection — fuses into the scan, no
# shuffle; codes emitted as positional CSV (order is semantic), error
# gate quantized to integer 1e-6 steps so the compare is exact.
# --------------------------------------------------------------------------
@register(
    "quantize_embeddings_int8",
    oracle="""
WITH v AS (
  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vd FROM embeddings
), mm AS (
  SELECT vec_id, vd, list_min(vd) AS vmin, list_max(vd) AS vmax FROM v
)
SELECT vec_id, vmin, vmax,
  array_to_string(
    list_transform(vd, x -> CAST(CASE WHEN vmax > vmin
        THEN floor((x - vmin) * 255 / (vmax - vmin)) ELSE 0 END AS INT)),
    ',') AS codes_csv,
  CAST(floor(list_max(list_transform(vd, x ->
      abs(x - (vmin + CAST(CASE WHEN vmax > vmin
                 THEN floor((x - vmin) * 255 / (vmax - vmin)) ELSE 0 END AS DOUBLE)
               * (vmax - vmin) / 255)))) * 1000000) AS BIGINT) AS max_abs_err_q
FROM mm
""",
    doc="per-vector asymmetric int8 quantization + reconstruction-error gate: floor-based codes (engine-exact, no round-half ambiguity), float32 promoted to double before ANY arithmetic on both engines",
)
def quantize_embeddings_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.quantize import quantize_embeddings

    q = quantize_embeddings(_emb(spark, sf_dir))
    return q.select(
        "vec_id",
        "vmin",
        "vmax",
        F.concat_ws(",", F.transform("codes", lambda c: c.cast("string"))).alias("codes_csv"),
        "max_abs_err_q",
    )


# ---------------------------------------------------------------------------
# Fuzzy (edit-distance) near-dup pairs — PassJoin segment banding (r3)
# ---------------------------------------------------------------------------
@register(
    "fuzzy_pairs_documents",
    oracle=f"""
WITH k AS (
  SELECT doc_id, rpad(substr(lower(text), 1, {D.FUZZY_KEY_LEN}), {D.FUZZY_KEY_LEN}, '~') AS key FROM documents
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
       CAST(levenshtein(a.key, b.key) AS BIGINT) AS edit_distance
FROM k a JOIN k b ON a.doc_id < b.doc_id
WHERE levenshtein(a.key, b.key) <= 2
""",
    doc=f"fuzzy near-dup pairs: Levenshtein <= 2 on the {D.FUZZY_KEY_LEN}-char key via the "
    "PassJoin segment filter (operators/dedup.py::fuzzy_pairs) — 3 segments + "
    "shifted-substring probes make an O(n) hash equi-join candidate set, exact "
    "levenshtein verify after; the oracle is the quadratic brute-force join "
    "(fine at sf0.01, the reason the banded path exists at scale)",
)
def fuzzy_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.dedup import fuzzy_pairs

    return fuzzy_pairs(read_table(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Weighted sampling without replacement (r3)
# ---------------------------------------------------------------------------
_WSAMPLE_K = 100


def _wsample_oracle() -> str:
    from github_etl_pipeline_spark.operators.sampling import WEIGHTED_SEED, _U_HEX_DIGITS

    u = (
        f"(CAST(('0x' || substr(md5('{WEIGHTED_SEED}:' || CAST(doc_id AS VARCHAR)), 1, "
        f"{_U_HEX_DIGITS})) AS BIGINT) + 1.0) / {float(16**_U_HEX_DIGITS)}"
    )
    return f"""
WITH keyed AS (
  SELECT doc_id, source, n_chars,
         round(-ln({u}) / CAST(n_chars AS DOUBLE), 12) AS wkey
  FROM documents WHERE n_chars > 0
),
r AS (
  SELECT doc_id, source, n_chars,
         ROW_NUMBER() OVER (ORDER BY wkey, doc_id) AS rn
  FROM keyed
)
SELECT doc_id, source, n_chars FROM r WHERE rn <= {_WSAMPLE_K}
"""


@register(
    "weighted_sample_documents",
    oracle=_wsample_oracle(),
    doc=f"weighted sampling WITHOUT replacement (k={_WSAMPLE_K}, weight = n_chars): "
    "Efraimidis-Spirakis exponential keys on an md5-derived 52-bit uniform — "
    "deterministic across runs AND engines (key rounded to 12dp so a 1-ulp ln() "
    "difference cannot flip the k-th place); plans as TakeOrderedAndProject — "
    "per-task partial top-k, never a full sort (operators/sampling.py::weighted_sample_wor)",
)
def weighted_sample_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sampling import weighted_sample_wor

    d = read_table(spark, sf_dir, "documents").select("doc_id", "source", "n_chars")
    return weighted_sample_wor(d, "n_chars", _WSAMPLE_K)


# ---------------------------------------------------------------------------
# Mergeable quantile sketch (r3)
# ---------------------------------------------------------------------------
@register(
    "quantile_sketch_lineitem",
    oracle="""
WITH v AS (
  SELECT CAST(
    substr(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR), 1, 1)
    || repeat('0', length(CAST(CAST(FLOOR(l_extendedprice) AS BIGINT) AS VARCHAR)) - 1)
  AS BIGINT) AS lo
  FROM lineitem WHERE l_extendedprice >= 0
),
b AS (SELECT lo, COUNT(*) AS c FROM v GROUP BY lo),
cums AS (
  SELECT lo,
         SUM(c) OVER (ORDER BY lo ROWS UNBOUNDED PRECEDING) AS cum,
         SUM(c) OVER () AS n
  FROM b
),
wide AS (
  SELECT MIN(CASE WHEN cum * 100 >= 25 * n THEN lo END) AS est_25,
         MIN(CASE WHEN cum * 100 >= 50 * n THEN lo END) AS est_50,
         MIN(CASE WHEN cum * 100 >= 75 * n THEN lo END) AS est_75,
         MIN(CASE WHEN cum * 100 >= 95 * n THEN lo END) AS est_95
  FROM cums
)
SELECT 25 AS q, est_25 AS est_lo FROM wide
UNION ALL SELECT 50, est_50 FROM wide
UNION ALL SELECT 75, est_75 FROM wide
UNION ALL SELECT 95, est_95 FROM wide
""",
    doc="mergeable quantile sketch: decimal-digit log histogram (~9 buckets/decade, "
    "constant size, merging partials = the same SUM — like CMS/HLL) built from "
    "floor+string ops only (no transcendental whose ulp could flip a bucket "
    "boundary); estimate = lower bound of the bucket reaching ceil(q*n), tested "
    "as all-integer cum*100 >= q*n (operators/sketches.py::quantile_sketch); "
    "exact complement: quantiles_lineitem",
)
def quantile_sketch_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import quantile_sketch

    return quantile_sketch(read_table(spark, sf_dir, "lineitem"), "l_extendedprice")


# ---------------------------------------------------------------------------
# Semi-structured via VARIANT (Spark 4) — binary-encoded JSON, typed path
# extraction without per-query re-parsing (r3)
# ---------------------------------------------------------------------------
@register(
    "props_variant_events",
    oracle="""
WITH p AS (
  SELECT TRY_CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, value
  FROM events
)
SELECT k // 10 AS k_decile, COUNT(*) AS cnt,
       CAST(MAX(k) AS BIGINT) AS max_k,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM p WHERE k IS NOT NULL GROUP BY k // 10
""",
    doc="VARIANT-typed semi-structured extraction (Spark 4 try_parse_json + "
    "try_variant_get): props parses ONCE into the binary Variant encoding, "
    "typed paths extract without re-tokenizing — vs props_parse_events' "
    "regex path; at 100 TB parse-once-then-extract beats per-field regex "
    "passes and survives schema-on-read drift (malformed rows -> NULL, "
    "TRY semantics on both engines)",
)
def props_variant_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = read_table(spark, sf_dir, "events")
    v = F.try_parse_json("props")
    k = F.try_variant_get(v, "$.k", "bigint")
    p = e.select(k.alias("k"), "value").where(F.col("k").isNotNull())
    return (
        p.select(F.expr(bucket_div_sql("k", 10)).alias("k_decile"), "k", "value")
        .groupBy("k_decile")
        .agg(
            F.count(F.lit(1)).alias("cnt"),
            F.max("k").cast("long").alias("max_k"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("sum_value"),
        )
    )


@register(
    "ann_topk_gemm",
    oracle="""
WITH q AS (SELECT vec_id AS query_id, CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id < 5),
e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS ev FROM embeddings),
s AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(e.ev, q.qv)
               / (sqrt(list_dot_product(e.ev, e.ev)) * sqrt(list_dot_product(q.qv, q.qv))), 9) AS cos
  FROM e CROSS JOIN q WHERE e.vec_id != q.query_id
)
SELECT query_id, rank, neighbor_id FROM (
  SELECT query_id, neighbor_id, ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos DESC, neighbor_id ASC) AS rank
  FROM s
) WHERE rank <= 5
""",
    doc="exact cosine top-k via BLAS matmul per Arrow batch (mapInPandas GEMM, "
    "operators/similarity.py::cosine_topk_gemm) — the vectorized fast path next "
    "to ann_topk_bruteforce's expression-tree baseline; similarities rounded to "
    "9dp before ranking so BLAS-vs-sequential summation ulps cannot flip ranks, "
    "per-batch local top-k bounds the exchange to queries x k rows per task",
)
def ann_topk_gemm(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return S.cosine_topk_gemm(emb, queries, k=5)


# ---------------------------------------------------------------------------
# Perceptual media dedup (aHash over the deterministic fake decode, r3)
# ---------------------------------------------------------------------------
def _ahash_ctes(corpus: str = "documents") -> str:
    from github_etl_pipeline_spark.operators.multimodal import AHASH_BITS

    digests = ", ".join(
        f"md5(text || '{d}') AS h{d}" for d in range(AHASH_BITS // 16)
    )
    pixels = ", ".join(
        f"CAST(('0x' || substr(h{d}, {2 * i + 1}, 2)) AS BIGINT) AS p{d * 16 + i}"
        for d in range(AHASH_BITS // 16)
        for i in range(16)
    )
    total = " + ".join(f"p{j}" for j in range(AHASH_BITS))
    packed = " + ".join(
        f"(CASE WHEN p{j} * {AHASH_BITS} >= total THEN CAST({1 << j} AS BIGINT) ELSE 0 END)"
        for j in range(AHASH_BITS)
    )
    return f"""
h AS (SELECT doc_id AS media_id, {digests} FROM {corpus}),
p AS (SELECT media_id, {pixels} FROM h),
s AS (SELECT media_id, {total} AS total, * FROM p),
ah AS (SELECT media_id, {packed} AS ahash FROM s)
"""


@register(
    "media_ahash_documents",
    oracle=f"WITH {_ahash_ctes().strip()}\nSELECT media_id, ahash FROM ah",
    doc="perceptual average-hash (aHash) per media payload: bit j set iff "
    "pixel_j >= mean, tested as exact-integer pixel*48 >= sum over the "
    "deterministic fake-decode pixels (real decoder stubbed, algorithm real) — "
    "two pure projections, no UDF, no shuffle (operators/multimodal.py)",
)
def media_ahash_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.multimodal import media_ahash

    return media_ahash(read_table(spark, sf_dir, "documents"))


# Seeded near-duplicate media payloads for the pair-mining query: the fake
# decode is md5-of-payload (NOT perceptual), so only byte-identical payloads
# can pair — and the generated corpus has none, which left the driver's hash
# check vacuously green (0 rows = 0 rows in r6 AND r8; VERDICT r8 "What's
# missing" #2). Both engines union the corpus with a deterministic duplicate
# of every 97th document re-identified above the real id range, so the
# banding + Hamming verify provably fires at driver scale (6 hamming-0 pairs
# at sf0.01).
_MEDIA_SEED_SQL = (
    "(SELECT doc_id, text FROM documents UNION ALL "
    f"SELECT doc_id + {_MEDIA_SEED_OFFSET} AS doc_id, text FROM documents "
    f"WHERE doc_id % {_MEDIA_SEED_MOD} = 0)"
)


def _seeded_media_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    dups = docs.where(F.col("doc_id") % _MEDIA_SEED_MOD == 0).select(
        (F.col("doc_id") + F.lit(_MEDIA_SEED_OFFSET)).alias("doc_id"), "text"
    )
    return docs.unionAll(dups)


def _ahash_pairs_oracle() -> str:
    from github_etl_pipeline_spark.operators.multimodal import AHASH_BANDS, AHASH_BITS

    bpb = AHASH_BITS // AHASH_BANDS
    mask = (1 << bpb) - 1
    bands = " UNION ALL ".join(
        f"SELECT media_id, ahash, {b} AS band, (ahash >> {b * bpb}) & {mask} AS bkey FROM ah"
        for b in range(AHASH_BANDS)
    )
    return f"""
WITH {_ahash_ctes(corpus=_MEDIA_SEED_SQL).strip()},
bk AS ({bands}),
cand AS (
  SELECT DISTINCT a.media_id AS id_a, b.media_id AS id_b, a.ahash AS ha, b.ahash AS hb
  FROM bk a JOIN bk b ON a.band = b.band AND a.bkey = b.bkey AND a.media_id < b.media_id
)
SELECT id_a, id_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
FROM cand WHERE bit_count(xor(ha, hb)) <= 3
"""


@register(
    "media_dup_pairs_documents",
    oracle=_ahash_pairs_oracle(),
    doc="perceptual near-dup media pairs: 4x12-bit banding of the 48-bit aHash "
    "(lossless for Hamming <= 3 by pigeonhole), hash-join bands, exact "
    "bit_count(xor) verify — the SimHash pair-mining shape applied to media "
    "payloads; shuffle carries (band, key) rows, never all pairs. The fake "
    "decode is md5-random, NOT perceptual, and the generated corpus has no "
    "byte-identical payloads, so BOTH engines seed a deterministic duplicate "
    "of every 97th document (see _MEDIA_SEED_SQL) — the driver hash check "
    "asserts real pairs instead of 0 rows = 0 rows; "
    "tests/test_fuzzy_sampling_sketch.py exercises unseeded dup payloads",
)
def media_dup_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.multimodal import media_dup_pairs

    return media_dup_pairs(_seeded_media_docs(spark, sf_dir))


@register(
    "sliding_event_counts",
    oracle="""
WITH e AS (SELECT epoch_us(ts) AS tsu, event_type, value FROM events),
x AS (SELECT tsu, event_type, value, unnest([0, 1]) AS k FROM e)
SELECT (tsu // 1800000000 - k) * 1800000000 AS window_start_us,
       (tsu // 1800000000 - k) * 1800000000 + 3600000000 AS window_end_us,
       event_type, COUNT(*) AS cnt,
       CAST(SUM(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS sum_value
FROM x GROUP BY 1, 2, 3
""",
    doc="sliding event-time windows (1h duration / 30min slide): each event "
    "fans out to duration/slide = 2 overlapping windows JVM-side (Expand) "
    "before ONE aggregate shuffle — the oracle reproduces the fan-out with "
    "an integer unnest; unified batch/streaming operator "
    "(streaming/windows.py::windowed_event_counts with slide)",
)
def sliding_event_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.streaming.windows import windowed_event_counts

    return windowed_event_counts(
        read_table(spark, sf_dir, "events"),
        window_duration="1 hour",
        slide="30 minutes",
    )


# ---------------------------------------------------------------------------
# KMV distinct-count sketch: distinct users per event type
# ---------------------------------------------------------------------------
from github_etl_pipeline_spark.operators.sketches import (  # noqa: E402
    kmv_sketch_oracle_sql,
)


@register(
    "kmv_distinct_users_events",
    oracle=kmv_sketch_oracle_sql(
        key_expr="CAST(user_id AS VARCHAR)",
        group_expr="event_type",
        group_alias="event_type",
        table="events",
    ),
    doc="KMV (k-minimum-values) distinct-user sketch per event type: per-group partial top-k of 52-bit md5 hashes (WindowGroupLimit before the exchange), exact-double estimate — mergeable like CMS/HLL, one row per group regardless of corpus size",
)
def kmv_distinct_users_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import kmv_sketch

    return kmv_sketch(
        read_table(spark, sf_dir, "events"), key_col="user_id", group_col="event_type"
    )


from github_etl_pipeline_spark.operators.sketches import (  # noqa: E402
    kmv_pair_overlap_oracle_sql,
)


@register(
    "kmv_source_overlap_documents",
    oracle=kmv_pair_overlap_oracle_sql(
        key_expr="word",
        group_expr="source",
        table=(
            "(SELECT source, unnest(regexp_extract_all(lower(text),"
            " '[a-z0-9]+')) AS word FROM documents)"
        ),
        a_alias="source_a",
        b_alias="source_b",
    ),
    doc="KMV set operations (Beyer et al.): distinct-VOCABULARY union / intersection / Jaccard estimates for every source pair from mergeable k-minimum-values sketches — the only corpus-scale work is one distinct-projection shuffle + per-group partial top-k; the pair stage is a #sources x #sources broadcast join over k-element arrays (corpus-independent, allow-listed tiny nested loop) with all set math as JVM array expressions; exact-double arithmetic reproduced bit-for-bit by the oracle",
)
def kmv_source_overlap_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import kmv_pair_overlap

    docs = _docs(spark, sf_dir)
    words = docs.select(
        "source",
        F.explode(
            F.regexp_extract_all(F.lower(F.col("text")), F.lit("[a-z0-9]+"), 0)
        ).alias("word"),
    )
    out = kmv_pair_overlap(words, key_col="word", group_col="source")
    return out.withColumnRenamed("grp_a", "source_a").withColumnRenamed(
        "grp_b", "source_b"
    )


# ---------------------------------------------------------------------------
# BPE: the training step's core relation (adjacent symbol-pair counts over
# the word-frequency table) as a hash-checked query
# ---------------------------------------------------------------------------
@register(
    "bpe_top_pairs_documents",
    oracle=r"""
WITH w AS (
  SELECT word, CAST(COUNT(*) AS BIGINT) AS cnt FROM (
    SELECT unnest(regexp_split_to_array(text, '\s+')) AS word FROM documents
  ) WHERE word != '' GROUP BY word
),
s AS (
  SELECT list_concat(
           list_transform(range(1, len(word)), i -> word[i]),
           [word[len(word)] || '</w>']
         ) AS syms, cnt
  FROM w
),
p AS (
  SELECT pr.a AS pair_a, pr.b AS pair_b, cnt
  FROM s, unnest(list_transform(range(1, len(syms)),
                 i -> {'a': syms[i], 'b': syms[i + 1]})) AS t(pr)
)
SELECT pair_a, pair_b, CAST(SUM(cnt) AS BIGINT) AS n
FROM p GROUP BY pair_a, pair_b
ORDER BY n DESC, pair_a, pair_b LIMIT 20
""",
    doc="BPE merge candidates: adjacent symbol-pair counts over the word-frequency table (ONE corpus pass reduces text to the vocabulary-bounded word table; pair counting never touches documents) — top-20 by count with full deterministic ordering (TakeOrderedAndProject)",
)
def bpe_top_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.bpe import (
        _initial_symbols,
        _word_counts,
    )

    words = _word_counts(read_table(spark, sf_dir, "documents"), "text").select(
        _initial_symbols(F.col("word")).alias("syms"), "cnt"
    )
    pairs = words.select(
        F.explode(
            F.zip_with(
                F.slice(F.col("syms"), 1, F.size("syms") - 1),
                F.slice(F.col("syms"), 2, F.size("syms") - 1),
                lambda x, y: F.struct(x.alias("a"), y.alias("b")),
            )
        ).alias("p"),
        "cnt",
    )
    return (
        pairs.groupBy(
            F.col("p.a").alias("pair_a"), F.col("p.b").alias("pair_b")
        )
        .agg(F.sum("cnt").alias("n"))
        .orderBy(F.col("n").desc(), "pair_a", "pair_b")
        .limit(20)
    )


# ---------------------------------------------------------------------------
# IVF recall as a CHECKED query: per-query integer overlap between the IVF
# top-k and the exact top-k (both deterministic since r6, so the whole
# comparison is hash-exact — VERDICT r5 #3 option (b) layered on top of
# the full oracles from option (a))
# ---------------------------------------------------------------------------
@register(
    "ann_ivf_recall_floor",
    oracle=f"""
WITH {_ivf_topk_ctes()},
ex AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.vec_id AS query_id, e.vec_id AS neighbor_id,
           ROW_NUMBER() OVER (PARTITION BY q.vec_id ORDER BY
             list_dot_product(e.v, q.v) / (e.nv * q.nv) DESC, e.vec_id ASC) AS rank
    FROM en e CROSS JOIN en q WHERE q.vec_id < 5 AND e.vec_id != q.vec_id
  ) WHERE rank <= 5
)
SELECT q.query_id, CAST(COALESCE(c.n, 0) AS BIGINT) AS n_in_exact
FROM (SELECT DISTINCT query_id FROM ex) q
LEFT JOIN (
  SELECT ivf.query_id AS qid, COUNT(*) AS n
  FROM ivf JOIN ex ON ivf.query_id = ex.query_id
                  AND ivf.neighbor_id = ex.neighbor_id
  GROUP BY 1
) c ON c.qid = q.query_id
""",
    doc="IVF quality gate as a query: per-query count of IVF top-5 neighbors that are true exact-top-5 neighbors — the recall property the approximate index is graded on, continuously hash-checked now that both sides are deterministic; tests assert the aggregate floor",
)
def ann_ivf_recall_floor(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_raw(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    ivf = S.ann_ivf_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    exact = S.cosine_topk(emb, queries, k=5).select("query_id", "neighbor_id")
    hits = (
        ivf.join(exact, ["query_id", "neighbor_id"])
        .groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("_n"))
    )
    return (
        exact.select("query_id")
        .distinct()
        .join(hits, "query_id", "left")
        .select(
            "query_id", F.coalesce(F.col("_n"), F.lit(0)).alias("n_in_exact")
        )
    )


# ---------------------------------------------------------------------------
# Bloom-digest exact dedup (r12): dedup a NEW batch against a historical
# corpus represented by a constant-per-key digest — the 100-TB ingest
# pattern where the history (100 TB of content hashes) never joins; only
# its <= n_words-row OR-folded digest broadcasts. History = even doc_ids,
# probe batch = odd doc_ids; digest sizing is adaptive (2 bytes/key ->
# 0.24% FPR at ANY tier; a fixed-size digest saturates at 100x). All bit
# positions are md5-window arithmetic, so false positives are
# DETERMINISTIC and the oracle reproduces the probe bit-for-bit.
# ---------------------------------------------------------------------------
# parity-flipping seed (odd offset): copies of every 50th doc (even ids,
# i.e. IN the history half) re-enter the probe half under shifted ids, so
# the check asserts guaranteed positives — the corpus has no organic
# cross-parity exact dups and an all-zero result would be vacuous (the
# r9 media_dup_pairs lesson)
_BLOOM_SEED_MOD = 50
_BLOOM_SEED_OFFSET = 5_000_000_001


def _bloom_oracle() -> str:
    from github_etl_pipeline_spark.operators.sketches import BLOOM_HASHES

    idx = f"(SELECT CAST(range AS INTEGER) AS i FROM range(0, {BLOOM_HASHES}))"
    pos = "CAST(('0x' || substr(h, 1 + 8 * i, 8)) AS BIGINT) % (nw * 32)"
    mask = "(CAST(1 AS BIGINT) << CAST(p % 32 AS INTEGER))"
    return f"""
WITH corpus AS (
  SELECT doc_id, text FROM documents
  UNION ALL
  SELECT doc_id + {_BLOOM_SEED_OFFSET} AS doc_id, text
  FROM documents WHERE doc_id % {_BLOOM_SEED_MOD} = 0
),
k AS (SELECT doc_id, md5({_NORM_SQL}) AS h FROM corpus),
w AS (
  SELECT GREATEST(2048, CAST(CEIL(COUNT(*) / 2.0) AS BIGINT)) AS nw
  FROM k WHERE doc_id % 2 = 0
),
bpos AS (
  SELECT {pos} AS p
  FROM (SELECT h FROM k WHERE doc_id % 2 = 0) CROSS JOIN {idx} CROSS JOIN w
),
dig AS (SELECT p // 32 AS word, bit_or({mask}) AS bits FROM bpos GROUP BY 1),
ppos AS (
  SELECT doc_id, {pos} AS p
  FROM (SELECT doc_id, h FROM k WHERE doc_id % 2 = 1) CROSS JOIN {idx} CROSS JOIN w
),
hits AS (
  SELECT doc_id,
         CASE WHEN dig.bits IS NOT NULL AND (dig.bits & {mask}) != 0
              THEN 1 ELSE 0 END AS hit
  FROM ppos LEFT JOIN dig ON dig.word = p // 32
)
SELECT doc_id, CAST(MIN(hit) AS BIGINT) AS maybe_dup FROM hits GROUP BY doc_id
"""


@register(
    "bloom_dedup_documents",
    oracle=_bloom_oracle(),
    doc="Bloom-digest exact dedup of a new batch against corpus history WITHOUT joining the history (the 100-TB ingest fast path): history (even doc_ids) OR-folds 4 md5-window bit positions per content hash into a <= n_words digest in ONE map-side-combined aggregate (shuffle carries partial digests, never keys); the probe batch (odd doc_ids) BROADCAST-joins the digest and min-folds per id — maybe_dup=1 iff every position is set. NO false negatives by construction (property-tested); false positives are md5-deterministic at the documented ~0.24% (adaptive sizing: 2 bytes per historical key via GREATEST(2048, ceil(n/2)) words, the cells_for_corpus device — a FIXED digest saturates at the 100x tier); oracle mirrors windows, modulo, packing, and probe bit-for-bit",
)
def bloom_dedup_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.sketches import (
        bloom_digest,
        bloom_probe,
        bloom_words_for_corpus,
    )

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    seeds = docs.where(F.col("doc_id") % _BLOOM_SEED_MOD == 0).select(
        (F.col("doc_id") + F.lit(_BLOOM_SEED_OFFSET)).alias("doc_id"), "text"
    )
    corpus = docs.unionAll(seeds)
    # the operator md5s internally, so the key is the normalized text
    # itself (oracle: h = md5(<norm>))
    key = D.normalized_text("text")
    hist = corpus.where(F.col("doc_id") % 2 == 0).select(key.alias("_k"))
    n_words = bloom_words_for_corpus(hist.count())
    digest = bloom_digest(hist, "_k", n_words)
    probe = corpus.where(F.col("doc_id") % 2 == 1).select("doc_id", key.alias("_k"))
    return bloom_probe(probe, digest, "_k", n_words=n_words)


# ---------------------------------------------------------------------------
# Containment (subset-duplication) pairs (r12): the asymmetric near-dup
# symmetric Jaccard misses — a document wrapped in boilerplate scores
# C = |A n B| / min(|A|,|B|) = 1.0 while its Jaccard reads |A|/|B|.
# Banding config comes from minhash_bands_for_recall(0.5, 0.9, rows=2)
# (9 bands x 2 rows — the wrapped-doc regime keeps J >= ~0.5 for docs
# longer than the junk suffix; far-below-J containment belongs to the
# gram-index path, registered as containment_gram_documents). Seeds: every 43rd doc re-enters under
# a shifted id with a 30-token deterministic junk SUFFIX, so A's bigrams
# are all present in the wrapper -> containment exactly 1.0; text is
# built in an inner subquery before the id re-alias (the lateral-alias
# engine divergence documented at _MH_SEED_SQL).
# ---------------------------------------------------------------------------
_CONT_SEED_MOD = 43
_CONT_SEED_OFFSET = 6_000_000_000
_CONT_JUNK_N = 30
# pinned to minhash_bands_for_recall(0.5, target_recall=0.9, rows=2) by
# tests/test_minhash_recall.py::test_containment_params_match_helper
_CONT_LSH = dict(bands=9, num_hashes=18)

_CONT_SEED_SQL = f"""SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {_CONT_SEED_OFFSET} AS doc_id, text FROM (
  SELECT doc_id,
         text || ' ' || array_to_string(list_transform(range(1, {_CONT_JUNK_N + 1}),
           i -> 'w' || CAST(doc_id AS VARCHAR) || 'x' || CAST(i AS VARCHAR)), ' ') AS text
  FROM documents WHERE doc_id % {_CONT_SEED_MOD} = 0
)"""


def _containment_oracle(
    threshold: float = 0.9,
    bands: int = _CONT_LSH["bands"],
    num_hashes: int = _CONT_LSH["num_hashes"],
) -> str:
    cont = (
        "CAST(len(list_intersect(x.hs, y.hs)) AS DOUBLE)"
        " / LEAST(len(x.hs), len(y.hs))"
    )
    return (
        _sig_cte(f"({_CONT_SEED_SQL})", num_hashes)
        + f""",
bandkeys AS ({_band_sql(bands, num_hashes)}),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM bandkeys a JOIN bandkeys b ON a.band = b.band AND a.bh = b.bh AND a.doc_id < b.doc_id
),
hs AS (SELECT doc_id, {_SHASH_SQL} AS hs FROM g)
SELECT id_a, id_b, round({cont}, 6) AS containment
FROM cand JOIN hs x ON x.doc_id = id_a JOIN hs y ON y.doc_id = id_b
WHERE LEAST(len(x.hs), len(y.hs)) > 0 AND {cont} >= {threshold}
"""
    )


@register(
    "containment_pairs_documents",
    oracle=_containment_oracle(),
    doc=f"asymmetric subset-duplication pairs: max containment |A n B| / min(|A|,|B|) >= 0.9 over MinHash-banded candidates — catches a document wrapped in boilerplate (containment 1.0) where symmetric Jaccard reads |A|/|B| and minhash_dedup_pairs never flags; banding from minhash_bands_for_recall(0.5, 0.9, rows=2) = {_CONT_LSH['bands']} bands x 2 rows (wrapped docs keep J >= ~0.5; far-lower-J containment is the gram-index regime, registered as containment_gram_documents); verify has NO size-ratio prefilter (size-skewed pairs are the target) and carries both shingle arrays through one hash join each; seeds: every {_CONT_SEED_MOD}th doc re-enters under a shifted id with a {_CONT_JUNK_N}-token junk suffix -> containment exactly 1.0, so the check asserts known positives; oracle mirrors seeding, shingling, the 18-permutation family, banding, and the containment verify",
)
def containment_pairs_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir).select("doc_id", "text")
    junk = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(_CONT_JUNK_N)),
            lambda i: F.concat(
                F.lit("w"), F.col("doc_id").cast("string"), F.lit("x"), i.cast("string")
            ),
        ),
        " ",
    )
    seeds = (
        docs.where(F.col("doc_id") % _CONT_SEED_MOD == 0)
        .select(F.col("doc_id"), F.concat(F.col("text"), F.lit(" "), junk).alias("text"))
        .select((F.col("doc_id") + F.lit(_CONT_SEED_OFFSET)).alias("doc_id"), "text")
    )
    corpus = docs.unionAll(seeds)
    return D.containment_pairs(corpus, threshold=0.9, **_CONT_LSH)


# ---------------------------------------------------------------------------
# LOW-Jaccard containment via the gram index (VERDICT r12 #4): the regime
# the MinHash-banded containment_pairs documents as out of reach — a short
# doc embedded verbatim in a MUCH larger one sits at shingle-Jaccard
# |A|/|B| << 0.5 (below any practical banding's S-curve) yet containment
# 1.0. Candidates form on SHARED RARE GRAMS (doc-freq <= 32 stop-gram
# cut, the decontaminate/gram-index device), so size skew is irrelevant.
# Seeds: every 43rd doc re-enters under a shifted id wrapped in a
# 900-token deterministic junk suffix — docs are 10-99 tokens, so seeded
# J <= 99/900 ~ 0.11 (most < 0.06), measured invisible to the 9x2
# recall-tuned banding (tests prove containment_pairs misses them) while
# the gram path scores every one exactly 1.0. Text is built in an inner
# subquery before the id re-alias (the _MH_SEED_SQL lateral-alias rule).
# ---------------------------------------------------------------------------
_CGRAM_SEED_MOD = 43
_CGRAM_SEED_OFFSET = 7_000_000_000
_CGRAM_JUNK_N = 900
_CGRAM_MAX_DF = 32
_CGRAM_THRESHOLD = 0.8

_CGRAM_SEED_SQL = f"""SELECT doc_id, text FROM documents
UNION ALL
SELECT doc_id + {_CGRAM_SEED_OFFSET} AS doc_id, text FROM (
  SELECT doc_id,
         text || ' ' || array_to_string(list_transform(range(1, {_CGRAM_JUNK_N + 1}),
           i -> 'z' || CAST(doc_id AS VARCHAR) || 'q' || CAST(i AS VARCHAR)), ' ') AS text
  FROM documents WHERE doc_id % {_CGRAM_SEED_MOD} = 0
)"""


def _containment_gram_oracle() -> str:
    cont = "nc / CAST(LEAST(sa.nr, sb.nr) AS DOUBLE)"
    return f"""
WITH corpus AS ({_CGRAM_SEED_SQL}),
g AS ({_shingles_sql('corpus')}),
hs AS (SELECT doc_id, {_SHASH_SQL} AS hs FROM g),
e AS (SELECT doc_id, unnest(hs) AS gh FROM hs),
f AS (SELECT doc_id, gh, COUNT(*) OVER (PARTITION BY gh) AS df FROM e),
rare AS (SELECT * FROM f WHERE df <= {_CGRAM_MAX_DF}),
sizes AS (SELECT doc_id, COUNT(*) AS nr FROM rare GROUP BY doc_id),
m AS (SELECT * FROM rare WHERE df >= 2),
common AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS nc
  FROM m a JOIN m b ON a.gh = b.gh AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, round({cont}, 6) AS containment
FROM common JOIN sizes sa ON sa.doc_id = id_a JOIN sizes sb ON sb.doc_id = id_b
WHERE {cont} >= {_CGRAM_THRESHOLD}
"""


@register(
    "containment_gram_documents",
    oracle=_containment_gram_oracle(),
    doc=f"low-Jaccard containment pairs via the GRAM INDEX (the regime containment_pairs' banding cannot reach — VERDICT r12 #4): candidates form on shared rare grams (doc-freq <= {_CGRAM_MAX_DF} stop-gram cut bounds the gram self-join at sum C(df,2), linear in corpus grams), containment = shared rare grams / min(rare grams), threshold {_CGRAM_THRESHOLD}; seeds: every {_CGRAM_SEED_MOD}rd doc re-enters wrapped in a {_CGRAM_JUNK_N}-token junk suffix -> shingle-Jaccard <= ~0.11 (invisible to the 9x2 recall-tuned MinHash banding, proven by test) but gram-path containment exactly 1.0; one tokenize+shingle scan, one gram-frequency window shuffle, one gram-keyed self-join, skinny size joins; oracle mirrors seeding, shingling, the frequency cut, and the containment arithmetic",
)
def containment_gram_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.curation import containment_gram_pairs

    docs = _docs(spark, sf_dir).select("doc_id", "text")
    junk = F.array_join(
        F.transform(
            F.sequence(F.lit(1), F.lit(_CGRAM_JUNK_N)),
            lambda i: F.concat(
                F.lit("z"), F.col("doc_id").cast("string"), F.lit("q"), i.cast("string")
            ),
        ),
        " ",
    )
    seeds = (
        docs.where(F.col("doc_id") % _CGRAM_SEED_MOD == 0)
        .select(F.col("doc_id"), F.concat(F.col("text"), F.lit(" "), junk).alias("text"))
        .select((F.col("doc_id") + F.lit(_CGRAM_SEED_OFFSET)).alias("doc_id"), "text")
    )
    corpus = docs.unionAll(seeds)
    return containment_gram_pairs(
        corpus, threshold=_CGRAM_THRESHOLD, max_doc_freq=_CGRAM_MAX_DF
    )


# ---------------------------------------------------------------------------
# k-center greedy coreset (Gonzalez farthest-first): diverse spanning
# representatives — the coverage complement of semdedup's redundancy
# removal. The oracle unrolls all 8 greedy rounds (seed -> min-distance
# CTE -> excluded argmax -> incremental LEAST update), mirroring the
# operator's incremental one-center-per-round min-distance maintenance.
# ---------------------------------------------------------------------------
_KCENTER_K = 8


def _kcenter_oracle(k: int = _KCENTER_K) -> str:
    ctes = [
        "en AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v, "
        "sqrt(list_dot_product(CAST(embedding AS DOUBLE[]), "
        "CAST(embedding AS DOUBLE[]))) AS nv FROM embeddings)",
        "c1 AS MATERIALIZED (SELECT vec_id, v, nv FROM en ORDER BY vec_id ASC LIMIT 1)",
        "d1 AS MATERIALIZED (SELECT en.vec_id, en.v, en.nv, "
        "ROUND(1 - list_dot_product(en.v, c1.v)/(en.nv*c1.nv), 9) AS mind "
        "FROM en CROSS JOIN c1)",
    ]
    for j in range(2, k + 1):
        excl = " AND ".join(
            f"vec_id != (SELECT vec_id FROM c{i})" for i in range(1, j)
        )
        ctes.append(
            f"c{j} AS MATERIALIZED (SELECT vec_id, v, nv, mind FROM d{j - 1} "
            f"WHERE {excl} ORDER BY mind DESC, vec_id ASC LIMIT 1)"
        )
        if j < k:
            ctes.append(
                f"d{j} AS MATERIALIZED (SELECT d.vec_id, d.v, d.nv, "
                f"LEAST(d.mind, ROUND(1 - list_dot_product(d.v, c.v)/(d.nv*c.nv), 9)) AS mind "
                f"FROM d{j - 1} d CROSS JOIN c{j} c)"
            )
    selects = [
        "SELECT 1 AS pos, (SELECT vec_id FROM c1) AS vec_id, CAST(NULL AS DOUBLE) AS radius"
    ]
    for j in range(2, k + 1):
        selects.append(
            f"SELECT {j}, (SELECT vec_id FROM c{j}), (SELECT mind FROM c{j})"
        )
    return "WITH " + ",\n".join(ctes) + "\n" + "\nUNION ALL ".join(selects)


@register(
    "kcenter_coreset_embeddings",
    oracle=_kcenter_oracle(),
    doc=f"k-center greedy coreset (Gonzalez farthest-first, {_KCENTER_K} centers, 9dp cosine distance, ties -> lower id): diverse spanning representatives with the provable 2-approximation of the optimal covering radius — the coverage-oriented curation primitive (eval-set seeds, diverse fine-tuning subsets) complementing semdedup's redundancy removal; row k's radius IS the covering radius of the first k-1 centers, so the output reads as the monotone coverage curve. Per round: ONE corpus pass updating the running min-distance against the single new center (collected 1-row vector as an array literal — driver-bounded, k rows total) + one TakeOrdered(1) argmax; incremental maintenance means NO quadratic term, O(k*n*dim) total; duplicate vectors sit at distance 0 and are excluded from re-selection by id. Oracle unrolls all rounds",
)
def kcenter_coreset_embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.similarity import kcenter_coreset

    return kcenter_coreset(_emb_raw(spark, sf_dir), k=_KCENTER_K)


# ---------------------------------------------------------------------------
# Probabilistic record linkage (operators/linkage.py): Fellegi-Sunter
# scoring over blocked candidate pairs — entity resolution ACROSS two
# relations (the cross-table sibling of the dedup family). The "incoming
# batch" is a seeded deterministic corruption of every 7th customer
# (md5-synthesized address/phone fields, portable to the oracle): drop
# the address's 3rd char, overwrite the phone's 8th char, shift the
# balance 0.5 — so ground truth is known and the match set is exact.
# ---------------------------------------------------------------------------
_FS_FIELDS = {  # (m, u) per comparator
    "addr": (0.95, 0.01),
    "phone": (0.9, 0.001),
    "bal": (0.9, 0.05),
}
_FS_THRESHOLD = 5.0


def _linkage_oracle() -> str:
    from github_etl_pipeline_spark.operators.linkage import fs_weights

    (waa, wda), (wap, wdp), (wab, wdb) = (
        fs_weights(*_FS_FIELDS["addr"]),
        fs_weights(*_FS_FIELDS["phone"]),
        fs_weights(*_FS_FIELDS["bal"]),
    )
    return f"""
WITH l AS (
  SELECT c_custkey AS left_id, c_nationkey AS nation,
         md5(CAST(c_custkey AS VARCHAR)) AS addr,
         substr(md5('p' || CAST(c_custkey AS VARCHAR)), 1, 12) AS phone,
         c_acctbal AS bal
  FROM customer
),
r AS (
  SELECT left_id + 1000000 AS right_id, nation,
         substr(addr, 1, 6) || substr(addr, 8) AS r_addr,
         substr(phone, 1, 7) || '0' || substr(phone, 9) AS r_phone,
         bal + 0.5 AS r_bal
  FROM l WHERE left_id % 7 = 0
),
cand AS (
  SELECT l.left_id, r.right_id, l.addr, r.r_addr,
         l.phone = r.r_phone AS agree_phone_b,
         ABS(l.bal - r.r_bal) <= 1.0 AS agree_bal_b
  FROM l JOIN r ON l.nation = r.nation
              AND substr(l.addr, 1, 3) = substr(r.r_addr, 1, 3)
),
g AS (
  SELECT *,
    list_distinct(list_transform(range(1, length(addr) - 1),
                                 i -> substr(addr, i, 3))) AS ga,
    list_distinct(list_transform(range(1, length(r_addr) - 1),
                                 i -> substr(r_addr, i, 3))) AS gb
  FROM cand
),
sc AS (
  SELECT left_id, right_id, agree_phone_b, agree_bal_b,
    ROUND(CASE WHEN len(ga) + len(gb) - len(list_intersect(ga, gb)) = 0 THEN 0.0
          ELSE CAST(len(list_intersect(ga, gb)) AS DOUBLE)
               / CAST(len(ga) + len(gb) - len(list_intersect(ga, gb)) AS DOUBLE)
          END, 6) >= 0.6 AS agree_addr_b
  FROM g
)
SELECT left_id, right_id,
       CAST(agree_addr_b AS INT) AS agree_addr,
       CAST(agree_phone_b AS INT) AS agree_phone,
       CAST(agree_bal_b AS INT) AS agree_bal,
       ROUND(0.0 + (CASE WHEN agree_addr_b THEN {waa} ELSE {wda} END)
                 + (CASE WHEN agree_phone_b THEN {wap} ELSE {wdp} END)
                 + (CASE WHEN agree_bal_b THEN {wab} ELSE {wdb} END), 6) AS score
FROM sc
WHERE ROUND(0.0 + (CASE WHEN agree_addr_b THEN {waa} ELSE {wda} END)
                + (CASE WHEN agree_phone_b THEN {wap} ELSE {wdp} END)
                + (CASE WHEN agree_bal_b THEN {wab} ELSE {wdb} END), 6) >= {_FS_THRESHOLD}
"""


@register(
    "record_linkage_customers",
    oracle=_linkage_oracle(),
    doc=f"Fellegi-Sunter probabilistic record linkage with blocking (operators/linkage.py): candidate pairs from an equality-blocking join on (nation, 3-char address prefix; the corruption sits past the prefix so true pairs always co-block) -- blocking selectivity is the scale knob, MEASURED: the first cut blocked on a 2-char prefix and probed alpha 1.3-1.8 across tiers (the fixed-cardinality O(n^2/B) degradation the module docstring predicts); the 3-char prefix plus per-record gram precompute (char_ngram_set projected onto each SIDE before the join, not per candidate pair) restores near-linear tier steps -- then per-field agreement (char-3-gram Jaccard >= 0.6 on the address, exact phone, balance within 1.0) weighted by log2 likelihood ratios COMPUTED IN PYTHON and embedded as identical literals in both engines (never engine libm), summed and thresholded at {_FS_THRESHOLD}; the incoming batch is every 7th customer deterministically corrupted (drop addr char 7, overwrite phone char 8, +0.5 balance), so the expected match set is exact: one pair per corrupted row, each surviving via addr+bal agreement with phone disagreeing unless the overwritten digit collides",
)
def record_linkage_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.linkage import (
        char_ngram_set,
        fs_score,
        jaccard_sim_grams,
        link_blocked,
    )

    cust = read_table(spark, sf_dir, "customer")
    # persist the synthesized left relation: it feeds BOTH sides (the
    # corrupted batch derives from it) so the md5 field synthesis runs
    # once per row, and the blocking join's IsNotNull(block-key) filter
    # applies above the cache instead of Catalyst pushing the whole md5
    # chain into the parquet scan's DataFilters (the duplication
    # test_plan_hygiene hunts)
    l = cust.select(
        F.col("c_custkey").alias("left_id"),
        F.col("c_nationkey").alias("nation"),
        F.md5(F.col("c_custkey").cast("string")).alias("addr"),
        F.substring(
            F.md5(F.concat(F.lit("p"), F.col("c_custkey").cast("string"))), 1, 12
        ).alias("phone"),
        F.col("c_acctbal").alias("bal"),
    ).persist()
    r = (
        l.filter(F.col("left_id") % 7 == 0)
        .select(
            (F.col("left_id") + 1000000).alias("right_id"),
            "nation",
            F.concat(
                F.expr("substring(addr, 1, 6)"), F.expr("substring(addr, 8)")
            ).alias("r_addr"),
            F.concat(
                F.expr("substring(phone, 1, 7)"),
                F.lit("0"),
                F.expr("substring(phone, 9)"),
            ).alias("r_phone"),
            (F.col("bal") + F.lit(0.5)).alias("r_bal"),
        )
    )
    lb = l.withColumn("blk", F.expr("substring(addr, 1, 3)")).withColumn(
        "_ga", char_ngram_set("addr")
    )
    rb = r.withColumn("blk", F.expr("substring(r_addr, 1, 3)")).withColumn(
        "_gb", char_ngram_set("r_addr")
    )
    agree_addr = jaccard_sim_grams(F.col("_ga"), F.col("_gb")) >= F.lit(0.6)
    agree_phone = F.col("phone") == F.col("r_phone")
    agree_bal = F.abs(F.col("bal") - F.col("r_bal")) <= F.lit(1.0)
    score = fs_score(
        [
            (agree_addr, *_FS_FIELDS["addr"]),
            (agree_phone, *_FS_FIELDS["phone"]),
            (agree_bal, *_FS_FIELDS["bal"]),
        ]
    )
    return link_blocked(
        lb,
        rb,
        ["nation", "blk"],
        score,
        _FS_THRESHOLD,
        select=[
            "left_id",
            "right_id",
            agree_addr.cast("int").alias("agree_addr"),
            agree_phone.cast("int").alias("agree_phone"),
            agree_bal.cast("int").alias("agree_bal"),
            "score",
        ],
    )


# ---------------------------------------------------------------------------
# Corpus drift monitoring: chi-square term-distribution divergence of one
# source against the rest of the corpus — the mix-monitoring counterpart
# of dsir/top_terms (which score documents/terms WITHIN a distribution).
# Log-free by design: the chi-square statistic is pure +-*/ arithmetic on
# BIGINT counts, engine-identical where KL/JS divergence would ride
# last-ulp-divergent libm logs.
# ---------------------------------------------------------------------------
_DRIFT_SRC = "src0"
_DRIFT_TOPK = 20


@register(
    "term_drift_documents",
    oracle=f"""
WITH tok AS (
  SELECT source, unnest(regexp_extract_all(text, '{{TOKEN_RE}}')) AS term FROM documents
),
per AS (
  SELECT term,
         CAST(COUNT(*) FILTER (WHERE source = '{_DRIFT_SRC}') AS BIGINT) AS n_src,
         CAST(COUNT(*) FILTER (WHERE source != '{_DRIFT_SRC}') AS BIGINT) AS n_rest
  FROM tok GROUP BY term
),
tot AS (
  SELECT CAST(SUM(n_src) AS BIGINT) AS a_tot, CAST(SUM(n_rest) AS BIGINT) AS b_tot
  FROM per
),
sc AS (
  SELECT term, n_src, n_rest,
         ROUND(
           ((CAST(n_src AS DOUBLE) - ea) * (CAST(n_src AS DOUBLE) - ea)) / ea
         + ((CAST(n_rest AS DOUBLE) - eb) * (CAST(n_rest AS DOUBLE) - eb)) / eb, 6) AS chi2
  FROM (
    SELECT term, n_src, n_rest,
           CAST(n_src + n_rest AS DOUBLE) * (CAST(a_tot AS DOUBLE) / CAST(a_tot + b_tot AS DOUBLE)) AS ea,
           CAST(n_src + n_rest AS DOUBLE) * (CAST(b_tot AS DOUBLE) / CAST(a_tot + b_tot AS DOUBLE)) AS eb
    FROM per CROSS JOIN tot
  )
)
SELECT term, n_src, n_rest, chi2 FROM sc
ORDER BY chi2 DESC, term ASC LIMIT {_DRIFT_TOPK}
""".replace("{TOKEN_RE}", TOKEN_RE),
    doc=f"chi-square term-drift report of source '{_DRIFT_SRC}' vs the rest of the corpus (top-{_DRIFT_TOPK} divergent terms): ONE tokenize pass -> per-term (n_src, n_rest) via two count_ifs in one aggregate -> totals as a second aggregate over the SKINNY per-term relation (never a second corpus scan) broadcast back by a 1-row cross join -> pure-arithmetic 2x2 chi-square (x*x, no pow, no log -- engine-identical where KL/JS would diverge on libm) -> TakeOrderedAndProject; the corpus-mix monitoring gate: run per source after each ingest batch and alert on new high-chi2 terms",
)
def term_drift_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = _docs(spark, sf_dir)
    tok = docs.select(
        "source",
        F.explode(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).alias("term"),
    )
    per = tok.groupBy("term").agg(
        F.count_if(F.col("source") == _DRIFT_SRC).alias("n_src"),
        F.count_if(F.col("source") != _DRIFT_SRC).alias("n_rest"),
    )
    tot = per.agg(
        F.sum("n_src").alias("a_tot"), F.sum("n_rest").alias("b_tot")
    )
    j = per.crossJoin(F.broadcast(tot))
    a = F.col("n_src").cast("double")
    b = F.col("n_rest").cast("double")
    at = F.col("a_tot").cast("double")
    bt = F.col("b_tot").cast("double")
    ea = (F.col("n_src") + F.col("n_rest")).cast("double") * (at / (at + bt))
    eb = (F.col("n_src") + F.col("n_rest")).cast("double") * (bt / (at + bt))
    chi2 = F.round(((a - ea) * (a - ea)) / ea + ((b - eb) * (b - eb)) / eb, 6)
    return (
        j.select("term", "n_src", "n_rest", chi2.alias("chi2"))
        .orderBy(F.col("chi2").desc(), F.col("term").asc())
        .limit(_DRIFT_TOPK)
    )
