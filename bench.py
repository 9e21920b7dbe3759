"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR (default
/root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints ONE JSON line:
  {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}

Headline set = the end-to-end entity-resolution pipeline on a
deterministically generated transcripts table (sized to the scale factor)
plus representative operator queries from __spark_entry__ on the driver
tables.  The ER pipeline also reports candidate-pairs-scored/sec — the
BASELINE.json throughput metric.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")  # local mode: one JVM hosts everything

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1

OPERATOR_QUERIES = [
    "a7_turn_collapse",
    "j1_block_pairs",
    "j4_broadcast_lookup",
    "a6_tfidf_vocab",
]


def _ensure_fixture(sf: float) -> str:
    from name_matching_spark.datagen import write_fixture

    n_entities = max(100, int(10000 * sf))
    out = os.path.join(
        os.path.dirname(os.path.abspath(__file__)),
        "data",
        f"bench_transcripts_e{n_entities}",
    )
    if not os.path.exists(os.path.join(out, "transcripts.parquet")):
        write_fixture(out, n_entities=n_entities, convs_per_entity=5, seed=42)
    return out


def main() -> None:
    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="nms-bench",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )
    timings: dict[str, float] = {}

    # --- untimed warm-up lap ---
    # A cold VM (dropped page cache after memory churn) reads the first
    # lap up to 3x slow — r4's recorded 111s vs 35s steady-state.  One
    # full untimed pass (ER pipeline + every operator query) faults the
    # parquet pages, JIT-compiles the codegen, and imports the Arrow
    # workers, so the timed min-of-N below measures steady state.
    fixture = _ensure_fixture(SF)
    transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    qs_warm = entry_mod.queries()
    wh = tempfile.mkdtemp(prefix="nms_bench_warmup_")
    try:
        EntityResolutionPipeline(spark, wh).run(transcripts)
    finally:
        shutil.rmtree(wh, ignore_errors=True)
    for name in OPERATOR_QUERIES:
        qs_warm[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()

    # --- ER pipeline (the flagship job) ---
    # min-of-2 like the operator queries below: the sandbox VM
    # intermittently stalls 10-20s on arbitrary work (hypervisor
    # co-tenancy); a single sample can report the stall instead of the
    # pipeline.  Each run gets a fresh warehouse (no checkpoint reuse).
    er_sec = float("inf")
    er_stages: dict[str, float] = {}
    for _ in range(2):
        wh = tempfile.mkdtemp(prefix="nms_bench_wh_")
        try:
            t0 = time.time()
            pipe = EntityResolutionPipeline(spark, wh)
            stages = pipe.run(transcripts)
            n_ent_run = stages["entities"].select("entity_key").distinct().count()
            run_sec = time.time() - t0
            pairs_run = pipe.ckpt.read("scored_pairs").count()
            # ALL reported ER fields come from the single fastest run so
            # the JSON line is internally consistent (er_stages, the
            # pairs/sec denominator, and er_pipeline describe ONE run).
            if run_sec < er_sec:
                er_sec = run_sec
                er_stages = pipe.timings
                pairs_scored = pairs_run
                n_entities = n_ent_run
        finally:
            shutil.rmtree(wh, ignore_errors=True)
    score_sec = max(er_stages.get("scored_pairs", er_sec), 1e-9)
    timings["er_pipeline"] = round(er_sec, 3)

    # --- representative operator queries on the driver tables ---
    # min of two executions per query: the sandbox VM intermittently
    # stalls 10-20s on arbitrary work (hypervisor co-tenancy); a single
    # sample can report the stall instead of the query.
    qs = entry_mod.queries()
    for name in OPERATOR_QUERIES:
        best = float("inf")
        for _ in range(2):
            t0 = time.time()
            df = qs[name](spark, SF_DIR)
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        timings[name] = round(best, 3)

    total = round(sum(timings.values()), 3)
    print(
        json.dumps(
            {
                "metric": "total_bench_seconds",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": SF,
                "cpus": CPUS,
                "er_candidate_pairs_scored": pairs_scored,
                "er_pairs_scored_per_sec": round(pairs_scored / score_sec, 1),
                "er_entities": n_entities,
                "er_stages": er_stages,
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
