"""Training-data curation CLI — the extension-surface counterpart of the
clinical ``pipeline`` CLI: run the screen → dedup → mixture → pack chain
over a documents table and write the curated, bin-assigned corpus.

    python -m datamodel_clinicaldata_spark.curate \
        --input /root/testdata/sf0.001 --output /tmp/curated \
        --min-tokens 50 --max-tokens 1000 --budget 512 --format jsonl

Output rows: (doc_id, source, n_tokens, bin_id, text) — the packed corpus
with payloads re-attached by a broadcast-of-assignments join, written as
JSONL (default; the training-data interchange format) or parquet.
"""

from __future__ import annotations

import argparse

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from datamodel_clinicaldata_spark.functions.sampling import knuth_mod
from datamodel_clinicaldata_spark.functions.text import tokens
from datamodel_clinicaldata_spark.operators.dedup import dedup_keep_first
from datamodel_clinicaldata_spark.operators.packing import quota_chunk_bins
from datamodel_clinicaldata_spark.sources.readers import read_table
from datamodel_clinicaldata_spark.sources.writers import write_jsonl, write_parquet

def curate_documents(
    docs: DataFrame,
    min_tokens: int = 50,
    max_tokens: int = 1000,
    keep_pct: int = 100,
    budget: int = 512,
) -> DataFrame:
    """Screen → exact dedup → uniform hash-mod sample → pack. Dedup is
    the single-shuffle window survivor (no keeper join — a keeper set is
    corpus-sized and must never broadcast); the packing assignment then
    re-attaches to payloads with a doc_id equi-join that AQE sizes at
    runtime (broadcast locally, shuffle at corpus scale)."""
    tok = docs.select(
        "doc_id", "source", "text", F.size(tokens(F.col("text"))).alias("n_tokens")
    )
    screened = tok.filter(F.col("n_tokens").between(min_tokens, max_tokens))
    deduped = dedup_keep_first(screened)
    if keep_pct < 100:
        deduped = deduped.filter(knuth_mod("doc_id", 100) < keep_pct)
    packed = quota_chunk_bins(deduped.select("doc_id", "source", "n_tokens"), budget=budget)
    return deduped.select("doc_id", "text").join(packed, "doc_id").select(
        "doc_id", "source", "n_tokens", "bin_id", "text"
    )


def main(argv: list[str] | None = None) -> None:
    ap = argparse.ArgumentParser(description=__doc__)
    ap.add_argument("--input", required=True, help="dir containing documents.parquet")
    ap.add_argument("--output", required=True)
    ap.add_argument("--min-tokens", type=int, default=50)
    ap.add_argument("--max-tokens", type=int, default=1000)
    ap.add_argument("--keep-pct", type=int, default=100)
    ap.add_argument("--budget", type=int, default=512)
    ap.add_argument("--format", choices=["jsonl", "parquet"], default="jsonl")
    ap.add_argument(
        "--layout",
        choices=["plain", "clustered"],
        default="plain",
        help="parquet only: 'clustered' range-partitions + sorts the output "
        "by (source, bin_id) so per-source / per-bin training reads skip "
        "files on parquet footers (sources/writers.write_sorted_parquet)",
    )
    args = ap.parse_args(argv)

    from datamodel_clinicaldata_spark.session import get_spark

    spark = get_spark("curate")
    docs = read_table(spark, args.input, "documents")
    out = curate_documents(
        docs,
        min_tokens=args.min_tokens,
        max_tokens=args.max_tokens,
        keep_pct=args.keep_pct,
        budget=args.budget,
    )
    if args.format == "jsonl":
        write_jsonl(out, args.output)
    elif args.layout == "clustered":
        from datamodel_clinicaldata_spark.sources.writers import (
            write_sorted_parquet,
        )

        write_sorted_parquet(out, args.output, ["source", "bin_id"])
    else:
        write_parquet(out, args.output)
    print(f"curated corpus written to {args.output}")


if __name__ == "__main__":
    main()
