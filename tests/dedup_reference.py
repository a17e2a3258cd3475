"""Reference pair generators for the dedup parity laws in
tests/test_dedup.py. They compute the same pair sets as the production
operators in operators/dedup.py by the plainest plan available, and
exist only to check those operators' results:

- ``crossjoin_cosine_pairs``: every vector pair through a crossJoin and
  an exact cosine filter — the yardstick for the tiled block-matmul
  ``embedding_cosine_pairs``.
- ``minhash_join_verify_pairs``: LSH candidates from a band-entry
  self-join, verified by joining both gram arrays onto each candidate —
  the yardstick for ``minhash_lsh_pairs``'s per-bucket Arrow verify.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from uma_etl_iis_loader_spark.functions.vectors import cosine_arrow
from uma_etl_iis_loader_spark.operators.dedup import (
    _band_entries,
    minhash_signature,
)


def crossjoin_cosine_pairs(
    embeddings: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id_a < id_b) pairs with cosine ≥ threshold, all pairs compared."""
    v = embeddings.select(F.col(id_col).alias("id"), F.col(vec_col).alias("vec"))
    a, b = v.alias("a"), v.alias("b")
    return (
        a.crossJoin(b)
        .filter(F.col("a.id") < F.col("b.id"))
        .filter(cosine_arrow(F.col("a.vec"), F.col("b.vec")) >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
    )


def minhash_join_verify_pairs(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
    threshold: float = 0.5,
    char_level: bool = True,
) -> DataFrame:
    """Banded-collision ∩ exact-Jaccard pairs via candidate joins. Two
    zero-gram docs share the sentinel signature and collide; their 0/0
    Jaccard is NULL under ``try_divide`` and drops out."""
    sigs = minhash_signature(docs, id_col, text_col, num_hashes, n, char_level)
    banded = _band_entries(sigs, bands, num_hashes // bands)
    la, lb = banded.alias("a"), banded.alias("b")
    candidates = (
        la.join(lb, ["band", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    ga = sigs.select(F.col("id").alias("id_a"), F.col("grams").alias("grams_a"))
    gb = sigs.select(F.col("id").alias("id_b"), F.col("grams").alias("grams_b"))
    return (
        candidates.join(ga, "id_a")
        .join(gb, "id_b")
        .filter(
            F.try_divide(
                F.size(F.array_intersect("grams_a", "grams_b")),
                F.size(F.array_union("grams_a", "grams_b")),
            )
            >= threshold
        )
        .select("id_a", "id_b")
    )
