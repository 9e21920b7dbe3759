"""Entity assignment: components -> entity table -> resolved records.

Mirrors the reference's assignment semantics (entity_resolution.py:255-338
in vietexob/name-matching):

* canonical ("resolved") name per entity = the longest member name, with a
  lexicographic tiebreak (the reference's tie behavior is set-iteration
  order, i.e. unspecified — we pin it down);
* names that appear in no matched pair become singleton entities whose
  resolved name is themselves (the ``get_entity_id`` else-branch,
  :316-326), realized as a left-anti join — no stateful driver closure;
* entity ids: the clusterer's component label is the stable string key
  (a deterministic member name: the min member name of a component, but
  a name attached by subsumption takes its target's label, which can sort
  after it); a 64-bit ``xxhash64`` of it is exposed as ``entity_id``.  A global
  dense-rank enumeration like the reference's would serialize on one
  partition at 10^12 scale, so it is deliberately not the default.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def entity_table(components: DataFrame, all_names: DataFrame) -> DataFrame:
    """Build (name, entity_key, entity_id, resolved_name) covering every
    name in ``all_names`` (column ``name``), including singletons.

    ``components`` is the (name, component) output of
    :func:`~name_matching_spark.operators.clustering.subsumption_aware_components`
    (one row per name).  ``all_names`` must hold each name once: it is not
    deduplicated again, and a repeated name repeats its entity row.
    """
    canon = components.groupBy("component").agg(
        F.max_by("name", F.struct(F.length("name"), F.col("name"))).alias(
            "resolved_name"
        )
    )
    clustered = components.join(canon, "component").select(
        "name",
        F.col("component").alias("entity_key"),
        F.col("resolved_name"),
    )
    singles = (
        all_names.select("name")
        .join(components, "name", "left_anti")
        .select(
            "name",
            F.col("name").alias("entity_key"),
            F.col("name").alias("resolved_name"),
        )
    )
    return clustered.unionByName(singles).withColumn(
        "entity_id", F.xxhash64("entity_key")
    )


def resolve_records(
    records: DataFrame,
    entities: DataFrame,
    name_cols: list[str],
) -> DataFrame:
    """Join entity assignments back onto a record table for each name
    column; appends ``<col>_entity_key`` / ``<col>_entity_id`` /
    ``<col>_resolved`` per input column.

    The entity table is ~#distinct-names rows (small next to the record
    table), so it is broadcast — the reference's dict ``.map`` lookups
    (entity_resolution.py:328-333) become broadcast-hash joins.  Names
    absent from the entity table (e.g. filtered empties) fall back to
    themselves, mirroring the singleton rule.
    """
    out = records
    ent = entities.select("name", "entity_key", "entity_id", "resolved_name")
    for col in name_cols:
        e = F.broadcast(
            ent.select(
                F.col("name").alias(col),
                F.col("entity_key").alias(f"{col}_entity_key"),
                F.col("entity_id").alias(f"{col}_entity_id"),
                F.col("resolved_name").alias(f"{col}_resolved"),
            )
        )
        out = (
            out.join(e, col, "left")
            .withColumn(
                f"{col}_entity_key", F.coalesce(F.col(f"{col}_entity_key"), F.col(col))
            )
            .withColumn(
                f"{col}_entity_id",
                F.coalesce(F.col(f"{col}_entity_id"), F.xxhash64(F.col(col))),
            )
            .withColumn(
                f"{col}_resolved", F.coalesce(F.col(f"{col}_resolved"), F.col(col))
            )
        )
    return out
