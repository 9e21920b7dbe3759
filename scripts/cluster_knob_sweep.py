"""Sweep clustering-refinement knobs on a fixed scored-edge set.

Runs the pipeline ONCE on a bench fixture (blocking + scoring reused
across variants), then recomputes subsumption_aware_components ->
entities -> resolved under each knob combination and reports ground-truth pair
precision / recall / F1.  Pure measurement — no product code touched.

Usage: python scripts/cluster_knob_sweep.py [n_entities [caps [lm2]]]
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

os.environ.setdefault("SPARK_DRIVER_MEMORY", "24g")

from pyspark.sql import functions as F  # noqa: E402


def main() -> None:
    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
    )
    from name_matching_spark.operators.resolve import entity_table, resolve_records
    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.session import get_spark
    from scripts.er_quality_at_scale import pair_f1

    n = int(sys.argv[1]) if len(sys.argv) > 1 else 10_000
    fixture = os.path.join(REPO, "data", f"bench_transcripts_e{n}")
    spark = get_spark(app_name="knob-sweep", master="local[32]", shuffle_partitions=64)
    spark.sparkContext.setLogLevel("ERROR")
    transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    truth_path = os.path.join(fixture, "truth.parquet")

    wh = tempfile.mkdtemp(prefix="nms_sweep_")
    try:
        pipe = EntityResolutionPipeline(spark, wh)
        stages = pipe.run(transcripts)
        conv = stages["conversations"].localCheckpoint()
        names = stages["names"].localCheckpoint()
        sp = stages["scored_pairs"]
        matches = (
            sp.where(F.col("prediction") == 1)
            .select(
                F.col("name_x").alias("src"),
                F.col("name_y").alias("dst"),
                "probability",
                "cosine_sim",
                "align_edit",
                "token_weakest_link",
                *(["margin"] if "margin" in sp.columns else []),
            )
            .localCheckpoint()
        )
        _L = (0.92, 0.96, 0.99, 0.995, 0.999)
        # margin rungs: ladder values above 0.999 compare the raw GBM
        # margin against logit(t) — the 4dp probability saturates there
        _LM1 = _L + (0.9999,)
        _LM2 = _L + (0.9999, 0.99999)
        _LM3 = _L + (0.9999, 0.99999, 0.999999)
        if len(sys.argv) > 2:
            # cap-only sweep: `python scripts/cluster_knob_sweep.py 300000 5,6,7,8
            # [lm2]` — optional third arg switches to the margin-rung
            # ladder (clustering.LADDER) to re-measure the shipped cap
            # clustering.MAX_COMPONENT.
            mode = sys.argv[3] if len(sys.argv) > 3 else ""
            lad = _LM2 if mode == "lm2" else _L
            grid = [
                {"max_component": int(c), "ladder": lad, "evidence_min_size": 2}
                for c in sys.argv[2].split(",")
            ]
        else:
            grid = _default_grid(_L, _LM1, _LM2, _LM3)
        for knobs in grid:
            comp = subsumption_aware_components(matches, **knobs)
            entities = entity_table(comp, names)
            resolved = resolve_records(conv, entities, ["name"])
            m = pair_f1(spark, resolved, truth_path)
            print(json.dumps({**knobs, "ladder": list(knobs["ladder"]), **m}), flush=True)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    spark.stop()


def _default_grid(_L, _LM1, _LM2, _LM3):
    return [
        {"max_component": 5, "ladder": _L, "evidence_min_size": 2},
        {"max_component": 5, "ladder": _LM1, "evidence_min_size": 2},
        {"max_component": 5, "ladder": _LM2, "evidence_min_size": 2},
        {"max_component": 5, "ladder": _LM3, "evidence_min_size": 2},
        {"max_component": 4, "ladder": _LM2, "evidence_min_size": 2},
        {"max_component": 6, "ladder": _LM2, "evidence_min_size": 2},
        # evidence bound 1: HALF of final clusters are 2-name; bound 2
        # exempts them from the evidence rung entirely, and the 100k
        # FP mass now sits in small mixed clusters
        {"max_component": 5, "ladder": _L, "evidence_min_size": 1},
        {"max_component": 5, "ladder": _LM2, "evidence_min_size": 1},
    ]


if __name__ == "__main__":
    main()
