"""Semantic-channel blocking over an embedding column (array<float>).

:func:`embedding_candidates` pairs names whose embeddings collide in a
random-hyperplane (sign) LSH bucket in any of ``tables`` independent hash
tables.  Hyperplanes are derived deterministically (seeded) at plan-build
time and shipped as ONE broadcast constant nested-array column (a
single-row cross join) — no state, reproducible across runs, and plan
node count flat in tables*bits*dim (per-element literals were a plan-size
hazard at real embedding dims, 384+).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from name_matching_spark.operators.blocking import capped_block_pairs


def _hyperplanes(dim: int, bits: int, tables: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((tables, bits, dim))


def _with_constant_array(df: DataFrame, value, col_name: str, sql_type: str) -> DataFrame:
    """Attach a constant (nested) array as ONE column via a broadcast
    single-row cross join.  Inlining per-element ``F.lit`` literals puts
    tables*bits*dim Literal nodes into the plan — fine at dim 32, a
    plan-size/codegen hazard at real embedding dims (384+) where a single
    projection would carry tens of thousands of expression nodes.  The
    broadcast join adds one constant row; plan node count stays flat in
    the tensor size."""
    spark = df.sparkSession
    one = spark.createDataFrame([(value,)], schema=f"{col_name} {sql_type}")
    return df.crossJoin(F.broadcast(one))


def _all_buckets(vec: Column, planes_col: Column, bits: int) -> Column:
    """Per-table sign-LSH bucket ids (array<int>, one per hash table) from
    an attached (tables, bits, dim) planes column — pure higher-order
    functions, zero per-plane literals.  Bit i of a table's bucket is set
    when the projection onto plane i is >= 0 (identical semantics to the
    former per-literal expression)."""
    return F.transform(
        planes_col,
        lambda tbl: F.aggregate(
            F.zip_with(
                tbl,
                F.sequence(F.lit(0), F.lit(bits - 1)),
                lambda p, i: F.struct(p.alias("p"), i.alias("i")),
            ),
            F.lit(0),
            lambda acc, pi: acc
            + F.when(
                F.aggregate(
                    F.zip_with(
                        vec, pi["p"], lambda x, y: x.cast("double") * y.cast("double")
                    ),
                    F.lit(0.0),
                    lambda dot, v: dot + v,
                )
                >= 0,
                F.pow(F.lit(2.0), pi["i"]).cast("int"),
            ).otherwise(F.lit(0)),
        ),
    )


def embedding_candidates(
    emb: DataFrame,
    name_col: str = "name",
    vec_col: str = "embedding",
    dim: int = 32,
    bits: int = 12,
    tables: int = 4,
    seed: int = 42,
    max_bucket: int = 200,
) -> DataFrame:
    """Canonical (name_x < name_y) candidate pairs from sign-LSH bucket
    collisions over a pre-computed embedding column — the semantic
    channel's analog of string blocking (zero-lexical-overlap aliases
    never co-block on tokens/phonetics/shingles, so without this the
    scorer's embedding OR-rule would have nothing to score).  Buckets
    are capped at ``max_bucket`` names by the rule that caps blocking's
    hot sub-blocks (``blocking.capped_block_pairs``)."""
    planes = _hyperplanes(dim, bits, tables, seed)
    rows = emb.select(F.col(name_col).alias("name"), F.col(vec_col).alias("v"))
    keyed = _with_constant_array(
        rows, planes.tolist(), "_planes", "array<array<array<double>>>"
    ).select(
        "name",
        F.posexplode(_all_buckets(F.col("v"), F.col("_planes"), bits)).alias(
            "tbl", "bucket"
        ),
    ).select(F.concat_ws("_", "tbl", "bucket").alias("key"), "name")
    return capped_block_pairs(keyed, max_bucket).dropDuplicates(
        ["name_x", "name_y"]
    )
