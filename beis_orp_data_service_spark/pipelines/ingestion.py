"""End-to-end document ingestion — the reference's whole Step Functions
pipeline (SURVEY §3.1) as ONE Spark job.

Reference flow (one Lambda per arrow, JSON events between them):
  S3 upload → {pdf,docx,odf,html}_to_orpml → title_generation →
  keyword_extraction → summarisation → date_generation →
  legislative_origin_extraction → check_duplicate → finalise_orpml →
  typedb_ingestion → (SQS) → graph upsert

Engine flow (one DataFrame, stages are column-producing
transformations; the only process boundaries left are task dispatch and
the dedup/upsert shuffles):
  scan_binary → convert (format dispatch) → clean_text → model
  enrichments → minhash signature → duplicate classification vs the
  existing store → SCD-2 upsert → ORPML serialization

Every stage is an operator from this package — this module only
composes them.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from beis_orp_data_service_spark.checkpointing import stage_checkpoint

from beis_orp_data_service_spark.functions.text import clean_text, hash_id
from beis_orp_data_service_spark.operators import converters as conv
from beis_orp_data_service_spark.operators import models
from beis_orp_data_service_spark.operators.dedup import (
    band_key_array,
    exact_dup_groups,
    minhash_sig_udf,
    quantized_cosine_cols,
    scd_versions,
)
from beis_orp_data_service_spark.sources.readers import orpml_serialize

DUP_COSINE_CUTOFF = 0.95  # check_duplicate.py:19


def convert_stage(binaries: DataFrame) -> DataFrame:
    """binary (media_id, document_format, content) → cleaned text rows.
    Parse failures stay as rows with parse_error set (bulk-job
    tolerance, notebook cell 4)."""
    converted = conv.convert_documents(binaries)
    return converted.withColumn("text", clean_text("text"))


def enrich_stage(docs: DataFrame) -> DataFrame:
    """Model enrichments (title/keywords/summary/language) + metadata
    derivations; one projection per enrichment, all lazy."""
    enriched = models.enrich_documents(docs, "text")
    return enriched.withColumn(
        "node_id", hash_id("document_format", "title", "language")
    )


def signature_stage(docs: DataFrame) -> DataFrame:
    """MinHash signature columns computed IN PLACE (pandas-UDF
    projection, no join-back — joining a sig table onto its own source
    would execute the converter/enrichment lineage twice)."""
    sig = minhash_sig_udf()
    return docs.withColumn("sig", sig(F.col("text"))).withColumn(
        "sig_text",
        F.concat_ws("_", F.expr("transform(sig, x -> cast(x as string))")),
    )


#: metadata fields compared for the duplicate-vs-version decision — the
#: engine's stand-in for the reference's return_vals dict
#: (regulatory_topic / document_type / status, check_duplicate.py:18)
CLASSIFY_META_COLS = ("document_format", "title", "language")

#: floor(0.95² · 1000) — the quantized-sim² form of the reference's
#: cosine cutoff (check_duplicate.py:19)
SIM2_MILLI_CUTOFF = 902


def classify_stage(incoming: DataFrame, existing: DataFrame | None) -> DataFrame:
    """Three-way duplicate / version / new against the existing store —
    the reference's is_duplicate rule (check_duplicate.py:154-211): an
    existing doc is *similar* when signature cosine ≥ 0.95 (exact
    content-hash equality is the cosine=1 fast path). Similar with
    identical metadata on ``CLASSIFY_META_COLS`` → 'duplicate' (reject
    incoming); similar with any metadata difference → 'version'; no
    similar doc → 'new'.

    Scale shape: both sides are LSH-band-keyed and meet in an equi-join
    (identical text ⇒ identical bands, so exact dups always collide);
    the quantized cosine runs only on band candidates, never all pairs.
    """
    hashed = incoming.withColumn("content_hash", F.md5("text"))
    if existing is None:
        return hashed.withColumn("classification", F.lit("new"))
    ex = existing.select(
        F.col("media_id").alias("ex_id"),
        F.col("content_hash").alias("ex_hash"),
        F.col("sig").alias("ex_sig"),
        *[F.col(c).alias(f"ex_{c}") for c in CLASSIFY_META_COLS],
    ).dropDuplicates(["ex_id"])
    a_keyed = hashed.select(
        "media_id", F.explode(band_key_array("sig")).alias("band_key")
    )
    b_keyed = ex.select(
        "ex_id", F.explode(band_key_array("ex_sig")).alias("band_key")
    )
    candidates = (
        a_keyed.join(b_keyed, "band_key").select("media_id", "ex_id").distinct()
    )
    pairs = candidates.join(
        hashed.select("media_id", "content_hash", "sig", *CLASSIFY_META_COLS),
        "media_id",
    ).join(ex, "ex_id")
    sim2 = quantized_cosine_cols("sig", "ex_sig")["sim2_milli"]
    similar = (F.col("content_hash") == F.col("ex_hash")) | (
        sim2 >= SIM2_MILLI_CUTOFF
    )
    meta_same = F.lit(True)
    for c in CLASSIFY_META_COLS:
        meta_same = meta_same & F.col(c).eqNullSafe(F.col(f"ex_{c}"))
    verdicts = (
        pairs.filter(similar)
        .groupBy("media_id")
        .agg(F.max(meta_same.cast("int")).alias("_meta_dup"))
    )
    return (
        hashed.join(verdicts, "media_id", "left")
        .withColumn(
            "classification",
            F.when(F.col("_meta_dup") == 1, "duplicate")
            .when(F.col("_meta_dup").isNotNull(), "version")
            .otherwise("new"),
        )
        .drop("_meta_dup")
    )


def ingest(
    binaries: DataFrame,
    existing_store: DataFrame | None = None,
    ingest_ts_col: str = "media_id",
) -> dict[str, DataFrame]:
    """Run the full pipeline; returns the materializable outputs:
    - 'documents': upserted store with SCD-2 versions/status
    - 'rejected': exact duplicates (reject + notify path,
      check_duplicate.py:264-289)
    - 'orpml': serialized ORPML rows for the object sink
    - 'stats': conversion failure accounting
    """
    # Stage boundaries are MATERIALIZED (eager localCheckpoint): the
    # classify stage's LSH self-joins and the stats/orpml branches all
    # fan out from these frames, and without a boundary each consumer
    # re-executes the converter + model-UDF lineage (2 MapInPandas + 2
    # ArrowEvalPython nodes in the unboundaried plan). The reference has the
    # same discipline physically — every Step Functions stage writes to
    # S3 before the next reads. On a cluster, swap the stage boundary
    # for a parquet/Delta stage table (or SPARK_GRAFT_CHECKPOINT=
    # reliable); "local" blocks are MEMORY_AND_DISK and cleaner-reclaimed when
    # the frames go out of scope.
    converted = convert_stage(binaries).transform(
        stage_checkpoint, label="ingest:converted"
    )
    ok = converted.filter(F.col("parse_error").isNull())
    signed = signature_stage(enrich_stage(ok)).transform(
        stage_checkpoint, label="ingest:signed"
    )
    classified = classify_stage(signed, existing_store)

    accepted = classified.filter(F.col("classification") != "duplicate")
    merged = (
        accepted
        if existing_store is None
        else existing_store.select(accepted.columns).unionByName(accepted)
    )
    store = scd_versions(
        merged, key_col="node_id", order_col=ingest_ts_col, tiebreak_col="media_id"
    )
    orpml = store.select(
        F.col("media_id"),
        orpml_serialize(
            uid_col="media_id",
            title_col="title",
            regulator_col="language",
            date_col=F.lit(None).cast("timestamp"),
            body_col="text",
        ).alias("orpml"),
    )
    return {
        "documents": store,
        "rejected": classified.filter(F.col("classification") == "duplicate"),
        "orpml": orpml,
        "stats": conv.conversion_stats(converted),
    }
