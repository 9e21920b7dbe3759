"""End-to-end ER quality vs ground truth at two fixture scales.

Blocking recall alone (scripts/blocking_recall_at_scale.py) is not the
product metric: the pipeline clusters TRANSITIVELY, so a true alias pair
purged from blocking is still resolved together whenever any path of
scored matches connects it.  This script runs the full pipeline and
computes exact pair-counting precision / recall / F1 of the resolved
conversation->entity assignment against the fixture's truth table, from
the truth-x-resolved contingency counts (no pair materialization):

  pairs(n) = n*(n-1)/2
  TP = sum over contingency cells pairs(n_cell)
  recall    = TP / sum over truth entities pairs(n_truth)
  precision = TP / sum over resolved keys pairs(n_resolved)

Each line also carries the clustering's cost and size: the match-edge
count clustering collected (``clustering.MAX_EDGES`` bounds it), the
``entities`` stage wall time, the driver Python process's peak RSS so
far, and an md5 over the sorted entity rows, so two source trees
cluster identically exactly when their digests are equal.

Usage: python scripts/er_quality_at_scale.py [n_entities ...]
(defaults: 10000 100000)
"""

from __future__ import annotations

import hashlib
import json
import os
import resource
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def pair_f1(spark, resolved, truth_path: str) -> dict:
    truth = spark.read.parquet(truth_path).select("conv_id", "entity_id")
    # NULL keys (no extractable name) are unresolvable by design — they must
    # not be lumped into one giant predicted cluster, which would distort
    # precision in both directions.  (The standard fixtures have none.)
    j = (
        resolved.select("conv_id", F.col("name_entity_key").alias("entity_key"))
        .where(F.col("entity_key").isNotNull())
        .join(truth, "conv_id")
    )

    def pairs(col):
        return (F.col(col) * (F.col(col) - 1) / 2).cast("double")

    tp = (
        j.groupBy("entity_id", "entity_key")
        .agg(F.count("*").alias("n"))
        .agg(F.sum(pairs("n")))
        .first()[0]
        or 0.0
    )
    truth_pairs = (
        j.groupBy("entity_id").agg(F.count("*").alias("n")).agg(F.sum(pairs("n"))).first()[0]
        or 0.0
    )
    pred_pairs = (
        j.groupBy("entity_key").agg(F.count("*").alias("n")).agg(F.sum(pairs("n"))).first()[0]
        or 0.0
    )
    recall = tp / truth_pairs if truth_pairs else 0.0
    precision = tp / pred_pairs if pred_pairs else 0.0
    f1 = 2 * precision * recall / (precision + recall) if precision + recall else 0.0
    return {
        "pair_recall": round(recall, 4),
        "pair_precision": round(precision, 4),
        "pair_f1": round(f1, 4),
    }


def main() -> None:
    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.session import get_spark

    sizes = [int(x) for x in sys.argv[1:]] or [10_000, 100_000]
    spark = get_spark(app_name="er-quality")
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        fixture = os.path.join(REPO, "data", f"bench_transcripts_e{n}")
        if not os.path.exists(os.path.join(fixture, "truth.parquet")):
            # Generate only when the fixture is absent entirely: a
            # transcripts.parquet without truth.parquet means a
            # partially-built or foreign fixture — overwriting it with
            # seed-42 defaults would silently change bench numbers.
            if os.path.exists(os.path.join(fixture, "transcripts.parquet")):
                raise SystemExit(
                    f"{fixture} has transcripts.parquet but no truth.parquet; "
                    "remove the directory (or supply truth.parquet) before rerunning"
                )
            from name_matching_spark.datagen import write_fixture

            write_fixture(fixture, n_entities=n, convs_per_entity=5, seed=42)
        transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
        wh = tempfile.mkdtemp(prefix="nms_quality_")
        try:
            pipe = EntityResolutionPipeline(spark, wh)
            stages = pipe.run(transcripts)
            m = pair_f1(
                spark,
                stages["resolved_conversations"],
                os.path.join(fixture, "truth.parquet"),
            )
            m["n_entities_in"] = n
            m["match_edges"] = (
                stages["scored_pairs"].where(F.col("prediction") == 1).count()
            )
            m["entities_s"] = pipe.timings["entities"]
            # ru_maxrss is in KiB on Linux
            m["driver_peak_rss_mb"] = round(
                resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024
            )
            rows = sorted(repr(tuple(r)) for r in stages["entities"].collect())
            m["entities_md5"] = hashlib.md5("\n".join(rows).encode()).hexdigest()
            print(json.dumps(m), flush=True)
        finally:
            shutil.rmtree(wh, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
