"""Seed-free hashing and the KMV (k-minimum-values) distinct-count
sketch shared by the catalog's ``a24`` entries; the Lehmer bijection
also assigns the k folds of ``ml22``."""

from __future__ import annotations

from pyspark.sql import SparkSession, Window
from pyspark.sql import functions as F

from chronicle_sniffer_spark.tables import load_table

_LEHMER_A, _LEHMER_M = 48271, 2147483647

KMV_K = 64


def _kmv_ranked(spark: SparkSession, sf_dir: str):
    """Shared KMV sketch pipeline: hashed keys → per-batch pre-shuffle
    K-minima cap (mapInPandas at the scan edge) → dedup →
    window-ranked minima.  Returns (hashed base, ranked minima)."""
    base = load_table(spark, sf_dir, "orders").select(
        "o_orderpriority",
        ((F.col("o_custkey") * _LEHMER_A) % _LEHMER_M).alias("h"),
    )

    def _kmv_partial(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            yield (
                pdf.drop_duplicates()
                .sort_values("h", kind="mergesort")
                .groupby("o_orderpriority", sort=False)
                .head(KMV_K)
            )

    capped = base.mapInPandas(_kmv_partial, "o_orderpriority string, h bigint")
    ranked = capped.distinct().withColumn(
        "rn", F.row_number().over(Window.partitionBy("o_orderpriority").orderBy("h"))
    )
    return base, ranked
