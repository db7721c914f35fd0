"""Streaming ingest-time dedup screen — the ``readStream`` form of
``dedup_incremental_against_corpus``'s exact stage.

Production split this module encodes (and the batch twin documents): the
STREAM performs the cheap, stateless screen inline — md5 digest of each
incoming document joined against the frozen corpus digest index (a
stream-static join: the static side is planned once per micro-batch,
broadcast while it fits, a bucketed index at 100 TB) — while the
expensive near-dup screen (shingle postings + Jaccard verify) runs in
the asynchronous batch compactor over the accepted drop
(``queries_dedup.dedup_incremental_against_corpus``). Inline screening
must not add join-state or shuffle barriers to the hot ingest path;
digest lookup is exactly the screen that fits that budget.

Cited for parity: the reference's only dedup is batch
``drop_duplicates()`` (pandas_DataModel.py:161); this is extension
surface per the survey's north star.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.sources.readers import footer_schema, read_table


def corpus_digest_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The frozen corpus side: (dig, keep_id) — smallest doc_id per
    digest among corpus docs (doc_id % 5 != 4, the same split the batch
    twin uses). 16-byte digest + 8-byte id per distinct content; the
    maintained-index shape that makes per-drop cost scale with the drop."""
    d = read_table(spark, sf_dir, "documents")
    return (
        d.filter(F.col("doc_id") % 5 != 4)
        .select(F.md5("text").alias("dig"), "doc_id")
        .groupBy("dig")
        .agg(F.min("doc_id").cast("long").alias("keep_id"))
    )


def stream_documents(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``readStream`` over the documents parquet, filtered to the
    incoming-drop split (doc_id % 5 == 4). The schema is the footer's, as
    ``read_table`` reads it."""
    schema = footer_schema(spark, os.path.join(sf_dir, "documents.parquet"))
    return (
        spark.readStream.schema(schema)
        .option("pathGlobFilter", "documents.parquet")
        .parquet(sf_dir)
        .filter(F.col("doc_id") % 5 == 4)
    )


def exact_screen(incoming: DataFrame, corpus_index: DataFrame) -> DataFrame:
    """Stateless stream-static screen: each incoming doc becomes
    (doc_id, status, match_id) with status ``exact_dup`` (digest present
    in the corpus index) or ``pending_near_screen`` (accepted inline;
    the batch compactor owns the near-dup decision). Works identically
    on a batch frame — the oracle/batch twin runs the same function."""
    screened = incoming.select(
        "doc_id", F.md5("text").alias("dig")
    ).join(F.broadcast(corpus_index), "dig", "left")
    return screened.select(
        "doc_id",
        F.when(F.col("keep_id").isNotNull(), F.lit("exact_dup"))
        .otherwise(F.lit("pending_near_screen"))
        .alias("status"),
        F.coalesce("keep_id", F.lit(-1).cast("long")).alias("match_id"),
    )
