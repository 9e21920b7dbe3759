"""Blocking recall against GROUND TRUTH at two fixture scales.

The block-size purge caps quadratic hot blocks, so candidate-pair growth
stays under input growth (measured 3.25x pairs for 10x entities).  The
question that raises — did the purge cost recall at the larger scale? —
is answered here directly: every same-entity pair of distinct normalized
aliases in the fixture's truth table is checked for membership in
``candidate_pairs`` at the pipeline's default ``max_block``.

Usage: python scripts/blocking_recall_at_scale.py [n_entities ...]
(defaults: 10000 100000 — the sf1-bench and 10x fixtures)
"""

from __future__ import annotations

import json
import os
import sys
from itertools import combinations

import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from name_matching_spark.functions.normalize import preprocess_name  # noqa: E402
from name_matching_spark.operators.blocking import candidate_pairs  # noqa: E402
from name_matching_spark.session import get_spark  # noqa: E402


def measure(spark, fixture: str, max_block: int = 100) -> dict:
    truth = pd.read_parquet(os.path.join(fixture, "truth.parquet"))
    truth["name"] = truth["alias"].map(preprocess_name)
    ents = truth[["entity_id", "name"]].drop_duplicates()
    ents = ents[ents["name"].str.len() > 0]
    rows = []
    for _eid, grp in ents.groupby("entity_id")["name"]:
        ns = sorted(set(grp))
        rows.extend(combinations(ns, 2))
    true_df = spark.createDataFrame(rows, ["name_x", "name_y"]).distinct()
    names_df = spark.createDataFrame(
        [(n,) for n in sorted(set(ents["name"]))], ["name"]
    )
    pairs = candidate_pairs(names_df, max_block=max_block)
    n_true = true_df.count()
    hits = true_df.join(pairs, ["name_x", "name_y"], "left_semi").count()
    return {
        "fixture": os.path.basename(fixture),
        "names": names_df.count(),
        "true_pairs": n_true,
        "recalled": hits,
        "recall": round(hits / max(n_true, 1), 4),
        "max_block": max_block,
    }


def main() -> None:
    sizes = [int(x) for x in sys.argv[1:]] or [10_000, 100_000]
    spark = get_spark(app_name="blocking-recall")
    spark.sparkContext.setLogLevel("ERROR")
    out = []
    for n in sizes:
        fixture = os.path.join(REPO, "data", f"bench_transcripts_e{n}")
        if not os.path.exists(os.path.join(fixture, "truth.parquet")):
            print(f"skip {fixture}: no truth.parquet", file=sys.stderr)
            continue
        r = measure(spark, fixture)
        out.append(r)
        print(json.dumps(r), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
