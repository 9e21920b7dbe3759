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
entity table is an in-memory index (member map + token postings) built on
the driver once per refresh of the batch pipeline's warehouse and shipped
in one broadcast, so a micro-batch's assignment is one Spark job of one
task.  Names that match an existing entity adopt it; the rest are emitted
as pending singletons for the next batch-pipeline run to cluster
(streaming transitive closure would need unbounded state, so the lambda
split batch=clustering / stream=assignment is deliberate).
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import BooleanType, StringType, StructField, StructType

from name_matching_spark.functions.normalize import normalize_text_col
# Shortest token that blocks a stream name against an entity: the batch
# blocking rule, applied alike on the index side and the micro-batch side.
from name_matching_spark.operators.blocking import MIN_TOKEN_LEN
# Called through this module's name: perfbench's trace wraps it here to
# count the candidate pairs of each micro-batch.
from name_matching_spark.operators.scoring import score_pairs


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


class EntityTokenIndex:
    """The stream-side lookup over the entity table, built ONCE per
    entity-table refresh and shipped to the workers in ONE broadcast that
    every micro-batch reuses.

    The entity table only changes when the batch pipeline reruns, while
    :func:`assign_stream_batch` fires per trigger, so the index is built
    on the driver from one collect: the member map (name -> entity_key)
    for the exact lookup, and the token postings (token -> entities whose
    canonical name holds it) for blocking.  ``n_rows`` is the number of
    (token, entity) rows the postings hold, i.e. the size of the exploded
    token table a join-based index would materialize.

    ``entities`` is the batch pipeline's entity table: one row per member
    ``name`` with its ``entity_key`` and the entity's ``resolved_name``."""

    def __init__(self, entities: DataFrame):
        # Known members: the entity table is per NAME, so a stream name
        # already clustered by the batch pipeline resolves by EXACT lookup
        # — scoring it against the cluster's canonical form would
        # re-litigate (and sometimes lose) a decision the batch already
        # made.  Rows are sorted, so a name listed under several keys (or
        # a key with several canonical forms) resolves to the smallest,
        # whatever the table's partitioning.
        rows = sorted(
            (tuple(r) for r in entities.select("entity_key", "resolved_name", "name")
             .where(F.col("entity_key").isNotNull()).collect()),
            key=lambda r: (r[0], r[1] or "", r[2] or ""),
        )
        members: dict = {}
        keys: list = []
        cands: list = []
        postings: dict = {}
        for ek, cand, member in rows:
            if member is not None:
                members.setdefault(member, ek)
            if cand is None or (keys and keys[-1] == ek):
                continue
            for tok in cand.split(" "):
                if len(tok) >= MIN_TOKEN_LEN:
                    postings.setdefault(tok, []).append(len(keys))
            keys.append(ek)
            cands.append(cand)
        self.n_rows = sum(len(v) for v in postings.values())
        self.key_type = entities.schema["entity_key"].dataType
        # The column expressions of every micro-batch plan, built here once
        # (each costs py4j round trips): the (conv_id, name) refs, and the
        # pick with its status.  An exact member wins outright; otherwise
        # the highest (4-dp) probability among the matches wins, equal
        # probabilities tie-break to the SMALLEST entity_key —
        # deterministic across partitionings/reruns and the same min-key
        # direction as the batch pipeline's cluster labels.  The status
        # repeats the pick, which Spark evaluates once.
        self.name_cols = (F.col("conv_id"), F.col("name"))
        hit = F.col("exact") | (F.col("prediction") == 1)
        pick = F.min_by(
            F.when(hit, F.col("entity_key")),
            F.struct(~hit, -F.col("probability"), F.col("entity_key")),
        )
        self.pick_cols = (
            pick.alias("entity_key"),
            F.when(pick.isNotNull(), F.lit("assigned"))
            .otherwise(F.lit("pending"))
            .alias("status"),
        )
        self.broadcast = entities.sparkSession.sparkContext.broadcast(
            (members, keys, cands, postings)
        )


def _block(bc) -> Callable[[Iterator[pd.DataFrame]], Iterator[pd.DataFrame]]:
    """The mapInPandas body over an index broadcast: one row per distinct
    (conv_id, name) of the partition that the member map resolves
    (``exact``), else one row per entity sharing a token with the name,
    else one row with no candidate (the name stays pending)."""

    def block(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        members, keys, cands, postings = bc.value
        seen: set = set()
        for pdf in batches:
            rows = []
            for conv_id, name in zip(pdf["conv_id"], pdf["name"]):
                if (conv_id, name) in seen:
                    continue
                seen.add((conv_id, name))
                ek = members.get(name)
                if ek is not None:
                    rows.append((conv_id, name, ek, None, True))
                    continue
                hits = sorted(
                    {
                        i
                        for tok in (name or "").split(" ")
                        if len(tok) >= MIN_TOKEN_LEN
                        for i in postings.get(tok, ())
                    }
                )
                rows += [(conv_id, name, keys[i], cands[i], False) for i in hits]
                if not hits:
                    rows.append((conv_id, name, None, None, False))
            yield pd.DataFrame(
                rows, columns=["conv_id", "name", "entity_key", "cand", "exact"]
            )

    return block


def assign_stream_batch(
    new_names: DataFrame,
    index: EntityTokenIndex,
    model_json: str,
    tfidf_json: str,
) -> DataFrame:
    """foreachBatch body: score each new name against existing entity
    canonical names that share a token (cheap blocking), assign the best
    match at or above ``DEFAULT_THRESHOLD``, else mark pending.  One row
    per distinct ``(conv_id, name)``: ``conv_id, name, entity_key,
    status``.

    index: the :class:`EntityTokenIndex` of the batch pipeline's entity
    table, built once per refresh of that table and reused by every
    micro-batch.

    The plan is one Spark job of one task.  The micro-batch is coalesced
    to a single partition (a micro-batch is bounded by its trigger), so
    the index's ``mapInPandas`` pass sees every copy of a name; it does
    the exact lookup and the token blocking.  :func:`score_pairs` scores
    the candidates with the batch pipeline's decision rule and rounding,
    and the best pick per name aggregates in place.  Correctness does not
    rest on the single partition: copies of a ``(conv_id, name)`` that
    reach different partitions still collapse in the aggregate.

    Building the plan on the driver costs about 76 py4j round trips and
    30-40 ms per call, before the one job runs (seed-1 ``stream_fixture``
    of 200 entities, ``local[4]``, 4-core host): every column expression
    is made once, by the index and by :func:`score_pairs`' cached
    projection, so only the input frame is new.  Most of the rest is the
    ``mapInPandas`` UDF, built anew per call (about 33 round trips)."""
    nn = new_names.select(*index.name_cols)
    pairs = nn.coalesce(1).mapInPandas(
        _block(index.broadcast),
        StructType(
            [
                *nn.schema.fields,
                StructField("entity_key", index.key_type),
                StructField("cand", StringType()),
                StructField("exact", BooleanType()),
            ]
        ),
    )
    scored = score_pairs(
        pairs,
        model_json,
        tfidf_json,
        name_x="name",
        name_y="cand",
        keep_features=False,
    )
    # Spark does not carry the single partition through the Python nodes;
    # restating it lets the aggregate (the index's pick and status) run
    # without an exchange (which would be a second job)
    return scored.coalesce(1).groupBy(*index.name_cols).agg(*index.pick_cols)
