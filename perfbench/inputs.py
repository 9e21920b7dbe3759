"""Seeded inputs for the workloads.

Every table is derived from the workload seed and written under the run's
scratch directory; the program only ever sees those tables.  The same
seed gives the same inputs.
"""

from __future__ import annotations

import os

import numpy as np

# Sub-seed offsets keep the inputs a run draws independent of each other.
WARMUP_SEED = 7919
NEW_ENTITY_SEED = 104729

# stream_assign: the share of the fixture's entities that are new since the
# batch run.  An entity brings all its conversations, so a tenth of the
# entities makes about a third of the arrivals (5 of 14 at the generator's
# 5 conversations per entity); the rest are known entities.
NEW_ENTITY_SHARE = 0.1


def transcript_fixture(root: str, name: str, n_entities: int, seed: int) -> str:
    """A transcripts.parquet + truth.parquet fixture (5 conversations per
    entity, the generator's default shape)."""
    from name_matching_spark.datagen import write_fixture

    out = os.path.join(root, name)
    write_fixture(out, n_entities=n_entities, convs_per_entity=5, seed=seed)
    return out


def stream_fixture(root: str, n_entities: int, seed: int) -> str:
    """A transcript fixture split in time into a history and the arrivals
    after it, for stream assignment.

    ``history/transcripts.parquet`` is what the batch pipeline resolves
    into the entity index.  ``arrivals/transcripts.parquet`` is what the
    stream then assigns: the latest conversation of every entity in the
    history, and every conversation of the entities that are new since (a
    seeded ``NEW_ENTITY_SHARE`` of them).  Every name is one the fixture
    generator wrote: an arrival of a known entity is one of its aliases
    (the generator's typo alias included), either already in the history
    or new to it.  ``truth.parquet`` adds each conversation's start time
    and whether its entity is new."""
    from name_matching_spark.datagen import generate_transcripts

    transcripts, truth = generate_transcripts(n_entities, convs_per_entity=5, seed=seed)
    rng = np.random.default_rng(seed + NEW_ENTITY_SEED)
    new = rng.choice(
        n_entities, size=max(1, round(n_entities * NEW_ENTITY_SHARE)), replace=False
    )
    truth = truth.join(transcripts.groupby("conv_id")["ts"].min().rename("start"), on="conv_id")
    truth = truth.sort_values(["start", "conv_id"], ignore_index=True)
    truth["new"] = truth["entity_id"].isin(new)
    latest = truth.groupby("entity_id")["conv_id"].last()
    arrives = set(truth.loc[truth["new"], "conv_id"]) | set(latest)

    out = os.path.join(root, "stream")
    for part, keep in (("history", False), ("arrivals", True)):
        os.makedirs(os.path.join(out, part))
        transcripts[transcripts["conv_id"].isin(arrives) == keep].to_parquet(
            os.path.join(out, part, "transcripts.parquet"), index=False
        )
    truth.to_parquet(os.path.join(out, "truth.parquet"), index=False)
    return out
