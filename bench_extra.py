"""Optimization-round instrumentation harness (bench.py stays frozen).

Per-query noop-sink timing (guide §1.4), formatted-plan capture
(guide §7.2), and per-stage ER pipeline timing.  Usage:

  python bench_extra.py --queries j1_block_pairs,a6_tfidf_vocab
  python bench_extra.py --er                  # ER pipeline stage timings
  python bench_extra.py --plans before        # dump plans/r06/<q>_before.txt
  python bench_extra.py                       # all bench queries, 2 reps
"""

from __future__ import annotations

import argparse
import contextlib
import io
import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

os.environ.setdefault("SPARK_DRIVER_MEMORY", "16g")

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
SF = float(SF_DIR.rstrip("/").split("sf")[-1]) if "sf" in SF_DIR else 0.1

BENCH_QUERIES = [
    "a7_turn_collapse",
    "j1_block_pairs",
    "j4_broadcast_lookup",
    "a6_tfidf_vocab",
]


def _noop(df):
    df.write.format("noop").mode("overwrite").save()


def _plan_text(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--queries", default=None, help="comma list; default = bench set")
    ap.add_argument("--repeat", type=int, default=2)
    ap.add_argument("--er", action="store_true", help="time ER pipeline stages")
    ap.add_argument("--plans", default=None, help="suffix: dump plans/r06/<q>_<suffix>.txt")
    ap.add_argument("--no-warm", action="store_true")
    args = ap.parse_args()

    from name_matching_spark.session import get_spark

    import __spark_entry__ as entry_mod

    spark = get_spark(
        app_name="nms-bench-extra",
        master=f"local[{CPUS}]",
        shuffle_partitions=2 * CPUS,
    )
    qs = entry_mod.queries()
    names = args.queries.split(",") if args.queries else BENCH_QUERIES
    out: dict = {}

    if args.plans:
        os.makedirs("plans/r06", exist_ok=True)
        for name in names:
            df = qs[name](spark, SF_DIR)
            with open(f"plans/r06/{name}_{args.plans}.txt", "w") as f:
                f.write(_plan_text(df))
            print(f"plan -> plans/r06/{name}_{args.plans}.txt")

    if args.er:
        from name_matching_spark.pipeline import EntityResolutionPipeline

        from name_matching_spark.datagen import write_fixture

        n_entities = max(100, int(10000 * SF))
        fixture = os.path.join(
            os.path.dirname(os.path.abspath(__file__)),
            "data",
            f"bench_transcripts_e{n_entities}",
        )
        if not os.path.exists(os.path.join(fixture, "transcripts.parquet")):
            write_fixture(fixture, n_entities=n_entities, convs_per_entity=5, seed=42)
        transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
        reps = []
        for i in range(max(args.repeat, 1) + (0 if args.no_warm else 1)):
            wh = tempfile.mkdtemp(prefix="nms_bx_wh_")
            try:
                t0 = time.time()
                pipe = EntityResolutionPipeline(spark, wh)
                pipe.run(transcripts)
                total = round(time.time() - t0, 3)
                reps.append({"total": total, **pipe.timings})
            finally:
                shutil.rmtree(wh, ignore_errors=True)
        if not args.no_warm:
            reps = reps[1:]  # drop warm-up lap
        out["er_stages_runs"] = reps
        best = min(reps, key=lambda r: r["total"])
        out["er_best"] = best
    else:
        if not args.no_warm:
            for name in names:
                spark.sparkContext.setJobDescription(f"warm:{name}")
                _noop(qs[name](spark, SF_DIR))
        for name in names:
            samples = []
            for i in range(max(args.repeat, 1)):
                spark.sparkContext.setJobDescription(f"bx:{name}:{i}")
                t0 = time.time()
                _noop(qs[name](spark, SF_DIR))
                samples.append(round(time.time() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            out[name] = {"min": min(samples), "samples": samples}

    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
