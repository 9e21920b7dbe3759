"""Incremental entity resolution over a transcript stream.

The reference's closest thing to streaming is its row-at-a-time Flask
scorer (app.py:101-369 in vietexob/name-matching), which the north star
explicitly replaces with batch.  This module provides the Structured
Streaming counterpart for *incremental* arrivals: new transcript turns
stream in, are canonicalized per conversation inside event-time windows
(watermarked so late turns within the allowance still collapse into their
conversation), and each micro-batch of new names is scored against the
existing entity table with the same Arrow-batched scorer the batch
pipeline uses.

Design: stream-side work is append-only and bounded per micro-batch; the
entity table is a broadcast-joined lookup refreshed from the batch
pipeline's warehouse.  Names that match an existing entity adopt it; the
rest are emitted as pending singletons for the next batch-pipeline run to
cluster (streaming transitive closure would need unbounded state, so the
lambda split batch=clustering / stream=assignment is deliberate).
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from name_matching_spark.functions.normalize import normalize_text_col
from name_matching_spark.operators.scoring import score_pairs

# Shortest token that blocks a stream name against an entity: the index
# side and the micro-batch side must apply the same rule, or a name's
# token can never meet the entity token it would have matched.
MIN_TOKEN_LEN = 2


def stream_canonical_names(
    stream: DataFrame,
    watermark: str = "10 minutes",
    extract_pattern: str = r'name="([^"]+)"',
) -> DataFrame:
    """Streaming turn-collapse: watermarked event-time aggregation per
    conversation; emits (conv_id, name) in append mode once the watermark
    passes (late turns inside the allowance are still included)."""
    # Parquet sources surface TIMESTAMP_NTZ; event-time semantics need the
    # instant type.
    stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    t = stream.withWatermark("ts", watermark).select(
        "conv_id",
        "ts",
        F.regexp_extract(F.col("text"), extract_pattern, 1).alias("mention"),
        F.col("turn_idx"),
    )
    agg = t.groupBy(
        F.col("conv_id"),
        F.session_window(F.col("ts"), watermark).alias("w"),
    ).agg(
        F.min(
            F.when(F.col("mention") != "", F.struct("turn_idx", "mention"))
        )["mention"].alias("name_raw")
    )
    return agg.select(
        "conv_id",
        normalize_text_col(F.col("name_raw"), upper=True).alias("name"),
    ).where(F.col("name").isNotNull() & (F.length("name") > 0))


_COLLAPSE_STATE = StructType(
    [
        StructField("turn_idx", ArrayType(IntegerType())),
        StructField("turn_text", ArrayType(StringType())),
    ]
)

_COLLAPSE_OUT = StructType(
    [
        StructField("conv_id", StringType()),
        StructField("canonical_text", StringType()),
        StructField("n_turns", IntegerType()),
    ]
)


def stateful_turn_collapse(stream: DataFrame) -> DataFrame:
    """Custom stateful operator (``applyInPandasWithState``): per-conversation
    turn accumulation with an explicit state schema.

    Unlike the watermarked window aggregation in
    :func:`stream_canonical_names` (which emits once, after the watermark
    closes), this maintains each conversation's turns as GroupState and
    emits a REFRESHED canonical snapshot in every micro-batch that touches
    the conversation (``update`` mode) — turns may arrive out of order
    across batches and the snapshot stays sorted by ``turn_idx``.  The
    final snapshot per conversation equals the batch pipeline's
    ``canonicalize`` output for the same rows (tested).
    """

    def _update(
        key, pdfs: Iterator[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        (conv_id,) = key
        if state.exists:
            idxs, txts = state.get
            idxs, txts = list(idxs), list(txts)
        else:
            idxs, txts = [], []
        for pdf in pdfs:
            idxs.extend(int(i) for i in pdf["turn_idx"])
            txts.extend(str(t) for t in pdf["text_norm"])
        state.update((idxs, txts))
        order = sorted(range(len(idxs)), key=lambda i: idxs[i])
        yield pd.DataFrame(
            {
                "conv_id": [conv_id],
                "canonical_text": [" ".join(txts[i] for i in order)],
                "n_turns": [len(idxs)],
            }
        )

    t = stream.select(
        "conv_id",
        "turn_idx",
        normalize_text_col(F.col("text"), upper=True).alias("text_norm"),
    )
    return t.groupBy("conv_id").applyInPandasWithState(
        _update,
        outputStructType=_COLLAPSE_OUT,
        stateStructType=_COLLAPSE_STATE,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


def stream_dedup(
    stream: DataFrame,
    text_col: str = "text",
    ts_col: str = "ts",
    watermark: str = "10 minutes",
) -> DataFrame:
    """Streaming exact dedup — the ingestion-side counterpart of the batch
    ``exact_dedup`` operator: fingerprint the text (md5, the same
    oracle-stable hash the batch ops use) and drop duplicates WITHIN the
    event-time watermark via ``dropDuplicatesWithinWatermark``.

    Plain ``dropDuplicates`` on a stream keeps every key seen forever
    (unbounded state — the thing that dies first at 10^12-row scale);
    the watermarked variant evicts fingerprints once the watermark
    passes, bounding state to the late-data allowance.  Duplicates
    arriving later than the watermark are a declared miss (they fall to
    the batch dedup pass — the standard lambda split)."""
    s = stream.withColumn(ts_col, F.col(ts_col).cast("timestamp")).withColumn(
        "fp", F.md5(F.col(text_col))
    )
    return s.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(["fp"])


class EntityTokenIndex:
    """The stream-side blocking index over the entity table: the exploded
    ``(tok, entity_key, cand)`` rows, materialized ONCE per entity-table
    refresh and reused by every micro-batch.

    The entity table only changes when the batch pipeline reruns, while
    :func:`assign_stream_batch` fires per trigger — without this, each
    micro-batch re-scans and re-explodes the full entity table (at design
    scale that table is large; per-trigger recompute is the cost that
    kills the lambda split).  ``localCheckpoint`` (eager) truncates the
    lineage so the explode runs exactly once; when the index is small
    enough we also attach a broadcast hint so the per-batch token join is
    map-side, shuffling only the (tiny) micro-batch side."""

    def __init__(
        self,
        entities: DataFrame,
        broadcast_max_rows: int = 2_000_000,
    ):
        et = (
            entities.select("entity_key", F.col("resolved_name").alias("cand"))
            .dropDuplicates(["entity_key"])
            .withColumn("tok", F.explode(F.split(F.col("cand"), " ")))
            .where(F.length("tok") >= MIN_TOKEN_LEN)
        )
        self.index = et.localCheckpoint()  # eager: explode runs here, once
        self.n_rows = self.index.count()  # cheap over the checkpointed RDD
        self.broadcastable = self.n_rows <= broadcast_max_rows
        # Known-member lookup: the entity table is per NAME, so a stream
        # name already clustered by the batch pipeline resolves by EXACT
        # join — scoring it against the cluster's canonical form would
        # re-litigate (and sometimes lose) a decision the batch already made.
        member_col = "name" if "name" in entities.columns else "resolved_name"
        self.members = (
            entities.select(F.col(member_col).alias("name"), "entity_key")
            .dropDuplicates(["name"])
            .localCheckpoint()
        )
        self._members_bc = self.members.count() <= broadcast_max_rows

    def join_side(self) -> DataFrame:
        return F.broadcast(self.index) if self.broadcastable else self.index

    def members_side(self) -> DataFrame:
        return F.broadcast(self.members) if self._members_bc else self.members


def assign_stream_batch(
    new_names: DataFrame,
    entities: DataFrame | EntityTokenIndex,
    model_json: str,
    tfidf_json: str,
    threshold: float = 0.85,
) -> DataFrame:
    """foreachBatch body: score each new name against existing entity
    canonical names that share a token (cheap blocking), assign the best
    match >= threshold, else mark pending.

    entities: the batch pipeline's (entity_key, resolved_name) output, or —
    preferred for a long-running query — a prebuilt :class:`EntityTokenIndex`
    so the entity-side explode is NOT recomputed every micro-batch."""
    idx = entities if isinstance(entities, EntityTokenIndex) else EntityTokenIndex(entities)
    nn = new_names.select("conv_id", "name").dropDuplicates(["name", "conv_id"])
    # Exact-member fast path: names the batch pipeline has already
    # clustered adopt their entity directly (broadcast hash join) — only
    # genuinely NEW surface forms pay the token-block + scorer path.
    exact = nn.join(
        idx.members_side().withColumnRenamed("entity_key", "_ek"), "name"
    )
    nn = nn.join(exact.select("conv_id", "name"), ["conv_id", "name"], "left_anti")
    nt = nn.select(
        "conv_id", "name", F.explode(F.split("name", " ")).alias("tok")
    ).where(F.length("tok") >= MIN_TOKEN_LEN)
    cands = (
        nt.join(idx.join_side(), "tok")
        .select("conv_id", "name", "entity_key", "cand")
        .dropDuplicates(["conv_id", "name", "entity_key"])
    )
    scored = score_pairs(
        cands,
        model_json,
        tfidf_json,
        threshold=threshold,
        name_x="name",
        name_y="cand",
        keep_features=False,
    )
    # highest probability wins; equal probabilities tie-break to the
    # SMALLEST entity_key — deterministic across partitionings/reruns and
    # the same min-key direction as the batch pipeline's cluster labels
    best = (
        scored.where(F.col("prediction") == 1)
        .groupBy("conv_id", "name")
        .agg(
            F.min_by(
                "entity_key", F.struct(-F.col("probability"), F.col("entity_key"))
            ).alias("entity_key")
        )
    )
    return (
        nn.join(best, ["conv_id", "name"], "left")
        .unionByName(
            exact.select(
                "conv_id", "name", F.col("_ek").alias("entity_key")
            )
        )
        .withColumn(
            "status",
            F.when(F.col("entity_key").isNotNull(), F.lit("assigned")).otherwise(
                F.lit("pending")
            ),
        )
    )
