"""Training-data preparation operators (round 3): deterministic dataset
splitting, seeded global shuffle + sharding, and z-order layout keys.

These are the ops a 100-TB pretraining pipeline runs after curation and
dedup (operators/curation.py, operators/dedup.py): assign every document
to a train/val/test split reproducibly, write the corpus as a seeded
pseudo-random shard layout (so a sequential reader sees an unbiased
sample without a global sort by random()), and lay files out for
multi-column data skipping.

Determinism strategy: all randomness is md5 over a seed-prefixed key —
content-addressed, so re-runs, retries, and incremental additions keep
every existing assignment stable (a rand()-based split re-rolls the
whole corpus on every run). md5 hex strings compare identically in
Spark and DuckDB (hex digits are ASCII-ordered), so thresholds are
engine-exact with zero numeric conversion.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from github_etl_pipeline_spark.functions.zorder import zorder_sql
from github_etl_pipeline_spark.plans.registry import register
from github_etl_pipeline_spark.sources.tables import read_table as _t

# 2-hex-digit (256-bucket) thresholds: train < 0xe6 (230/256 = 89.8%),
# val < 0xf3 (13/256 = 5.1%), test otherwise (13/256 = 5.1%)
_SPLIT_SEED = "split-v1:"
_TRAIN_HI = "e6"
_VAL_HI = "f3"


@register(
    "split_documents_hash",
    oracle=f"""
WITH h AS (
  SELECT doc_id, substr(md5('{_SPLIT_SEED}' || CAST(doc_id AS VARCHAR)), 1, 2) AS hh
  FROM documents
)
SELECT doc_id,
       CASE WHEN hh < '{_TRAIN_HI}' THEN 'train'
            WHEN hh < '{_VAL_HI}' THEN 'val'
            ELSE 'test' END AS split
FROM h
""",
    doc="deterministic content-addressed train/val/test split (89.8/5.1/5.1): "
    "bucket = first md5 byte of a seed-prefixed doc key, thresholds compared as "
    "hex STRINGS (ASCII order == numeric order) so both engines cut identically; "
    "re-runs and incremental corpus additions never re-roll existing assignments, "
    "unlike rand()-based splitting — pure projection, no shuffle, no UDF",
)
def split_documents_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.functions.hashing import split_bucket_hex

    d = _t(spark, sf_dir, "documents")
    hh = split_bucket_hex(F.col("doc_id"), _SPLIT_SEED)
    split = (
        F.when(hh < _TRAIN_HI, "train").when(hh < _VAL_HI, "val").otherwise("test")
    )
    return d.select("doc_id", split.alias("split"))


_SHUFFLE_SEED = "shuffle-epoch0:"
_N_SHARDS = 16


@register(
    "shuffle_documents_shards",
    oracle=f"""
WITH h AS (
  SELECT doc_id, md5('{_SHUFFLE_SEED}' || CAST(doc_id AS VARCHAR)) AS ord_key
  FROM documents
)
SELECT doc_id,
       substr(ord_key, 1, 1) AS shard,
       CAST(ROW_NUMBER() OVER (PARTITION BY substr(ord_key, 1, 1)
                               ORDER BY ord_key, doc_id) AS BIGINT) AS pos
FROM h
""",
    doc=f"seeded global training shuffle as a shard layout: shard = first md5 "
    f"nibble ({_N_SHARDS} shards), within-shard order = full md5 — reading shards "
    "sequentially replays one fixed pseudo-random permutation of the corpus. At "
    "100 TB this is ONE hash-partitioned exchange + per-shard sort (each shard "
    "sorts independently); a global ORDER BY rand() would need a full range "
    "exchange AND re-rolls every epoch-0 guarantee on re-run",
)
def shuffle_documents_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    d = _t(spark, sf_dir, "documents")
    ord_key = F.md5(F.concat(F.lit(_SHUFFLE_SEED), F.col("doc_id").cast("string")))
    h = d.select("doc_id", ord_key.alias("ord_key"))
    w = Window.partitionBy(F.substring("ord_key", 1, 1)).orderBy("ord_key", "doc_id")
    return h.select(
        "doc_id",
        F.substring("ord_key", 1, 1).alias("shard"),
        F.row_number().over(w).cast("long").alias("pos"),
    )


_ZBITS = 8


@register(
    "zorder_key_events",
    oracle=f"""
WITH b AS (
  SELECT event_id,
         CAST(user_id % {2**_ZBITS} AS BIGINT) AS ub,
         CAST(LEAST(GREATEST(CAST(FLOOR(value) AS BIGINT), 0), {2**_ZBITS - 1}) AS BIGINT) AS vb
  FROM events
)
SELECT event_id, {zorder_sql(['ub', 'vb'], _ZBITS)} AS zkey
FROM b
""",
    doc="z-order (Morton) layout key interleaving user-bucket and value-bucket "
    "bits (functions/zorder.py) — a sort key for a sorted parquet write's "
    "multi-column row-group skipping; generated shift/and/or SQL runs "
    "IDENTICALLY on both engines (no UDF, codegen-friendly)",
)
def zorder_key_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _t(spark, sf_dir, "events")
    b = e.select(
        "event_id",
        (F.col("user_id") % (2**_ZBITS)).cast("long").alias("ub"),
        F.least(
            F.greatest(F.floor(F.col("value")).cast("long"), F.lit(0)),
            F.lit(2**_ZBITS - 1),
        ).cast("long").alias("vb"),
    )
    return b.select("event_id", F.expr(zorder_sql(["ub", "vb"], _ZBITS)).alias("zkey"))


def _leakage_oracle() -> str:
    from github_etl_pipeline_spark.plans.extensions import _dup_clusters_oracle

    split_train = (
        f"substr(md5('{_SPLIT_SEED}' || CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_HI}'"
    )
    # composed via _dup_clusters_oracle's final_select parameter, not a
    # string .replace on its default select — a reworded anchor would
    # have silently no-opped the replace and degenerated this oracle to
    # the dup-clusters query (ADVICE r11)
    return _dup_clusters_oracle(
        0.2,
        final_select=f"""SELECT cluster_id, n_members, n_train, n_eval,
       CAST(n_train > 0 AND n_eval > 0 AS INTEGER) AS leaky
FROM (
  SELECT cluster_id,
         CAST(COUNT(*) AS BIGINT) AS n_members,
         CAST(SUM(CASE WHEN {split_train} THEN 1 ELSE 0 END) AS BIGINT) AS n_train,
         CAST(SUM(CASE WHEN {split_train} THEN 0 ELSE 1 END) AS BIGINT) AS n_eval
  FROM cl GROUP BY cluster_id
) WHERE n_members >= 2""",
    )


@register(
    "split_leakage_audit_documents",
    oracle=_leakage_oracle(),
    doc="train/eval leakage audit of the shipped content-addressed split: "
    "near-dup connected components (MinHash+LSH pairs -> min-label closure, "
    "the dup_clusters_documents machinery at threshold 0.2) crossed with "
    "split_documents_hash's assignment — a cluster with members on both the "
    "train and eval sides (leaky=1) is an eval document whose near-duplicate "
    "trains, the leak n-gram decontamination misses when no exact 8-gram is "
    "shared; emits EVERY multi-member cluster with per-side counts so a clean "
    "split still yields an auditable non-vacuous inventory; the audit rides "
    "the dedup pipeline's banded shuffles and adds only a skinny id-derived "
    "projection + one count aggregate (the split hash derives from doc_id — "
    "no join against a split table, text is never re-read)",
)
def split_leakage_audit_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    from github_etl_pipeline_spark.operators.curation import split_leakage_audit

    return split_leakage_audit(
        _t(spark, sf_dir, "documents"),
        threshold=0.2,
        split_seed=_SPLIT_SEED,
        train_hi=_TRAIN_HI,
    )
