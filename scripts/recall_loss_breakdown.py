"""Attribute cluster-recall loss to pipeline stages at fixture scale.

BENCH/QUALITY.md measures WHAT the final pair recall is (0.834 at 10k,
0.717 at 100k vs truth-access ceilings of 0.990/0.973); this script
measures WHERE the loss happens.  Every same-entity pair of distinct
normalized aliases is classified by its terminal outcome:

  recalled            both names land in the same final component;
  lost:blocking       never generated as a candidate pair (and transitivity
                      did not recover it);
  lost:scorer         candidate, but prediction == 0 (probability below the
                      0.85 threshold);
  lost:refine-sub     matched, but the edge is SUBSUMPTION-shaped
                      (token_weakest_link == 1 via initial/prefix credit)
                      and attachment routed the two names to different
                      clusters;
  lost:refine-glue    matched on a glue edge, but a refinement rung
                      (ladder / evidence / Louvain) separated the names.

For the scorer and refine buckets it prints probability/evidence feature
quantiles so the next fix can be chosen from measurement, not guesswork.
Pure measurement — no product code touched.

Usage: python scripts/recall_loss_breakdown.py [n_entities ...]
(defaults: 10000)
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
from itertools import combinations

import numpy as np
import pandas as pd

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402


def truth_name_pairs(fixture: str) -> pd.DataFrame:
    truth = pd.read_parquet(os.path.join(fixture, "truth.parquet"))
    from name_matching_spark.functions.normalize import preprocess_name

    truth["name"] = truth["alias"].map(preprocess_name)
    ents = truth[["entity_id", "name"]].drop_duplicates()
    ents = ents[ents["name"].str.len() > 0]
    rows = []
    for _eid, grp in ents.groupby("entity_id")["name"]:
        rows.extend(combinations(sorted(set(grp)), 2))
    return pd.DataFrame(sorted(set(rows)), columns=["name_x", "name_y"])


def main() -> None:
    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.session import get_spark

    sizes = [int(x) for x in sys.argv[1:]] or [10_000]
    spark = get_spark(app_name="recall-loss")
    spark.sparkContext.setLogLevel("ERROR")
    for n in sizes:
        fixture = os.path.join(REPO, "data", f"bench_transcripts_e{n}")
        if not os.path.exists(os.path.join(fixture, "truth.parquet")):
            from name_matching_spark.datagen import write_fixture

            write_fixture(fixture, n_entities=n, convs_per_entity=5, seed=42)
        tp = truth_name_pairs(fixture)
        transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
        wh = tempfile.mkdtemp(prefix="nms_rloss_")
        try:
            pipe = EntityResolutionPipeline(spark, wh, keep_features=True)
            stages = pipe.run(transcripts)
            # join in SPARK and collect only the truth-pair-sized result:
            # even the bare candidate-pairs table at 100k crosses
            # spark.driver.maxResultSize (measured 1.05 GiB)
            tp_sdf = spark.createDataFrame(tp)
            cand = stages["candidate_pairs"].withColumn("cand", F.lit(True))
            scored = stages["scored_pairs"].select(
                "name_x", "name_y", "prediction", "probability",
                "cosine_sim", "align_edit", "token_weakest_link",
                "token_set_ratio", "ratio",
            )
            comp = stages["components"]
            df = (
                tp_sdf.join(cand, ["name_x", "name_y"], "left")
                .join(scored, ["name_x", "name_y"], "left")
                .join(
                    comp.select(
                        F.col("name").alias("name_x"), F.col("component").alias("cx")
                    ),
                    "name_x",
                    "left",
                )
                .join(
                    comp.select(
                        F.col("name").alias("name_y"), F.col("component").alias("cy")
                    ),
                    "name_y",
                    "left",
                )
            ).toPandas()
            df["cand"] = df["cand"].fillna(False)
            df["cx"] = df["cx"].fillna(df["name_x"])
            df["cy"] = df["cy"].fillna(df["name_y"])
            df["recalled"] = df["cx"] == df["cy"]
            df["matched"] = df["prediction"].fillna(0).astype(int) == 1
            twl = df.get("token_weakest_link")
            al = df.get("align_edit")
            df["is_sub"] = (twl >= 0.999999) & (al >= 1)

            lost = df[~df["recalled"]]
            buckets = {
                "lost:blocking": lost[~lost["cand"]],
                "lost:scorer": lost[lost["cand"] & ~lost["matched"]],
                "lost:refine-sub": lost[lost["matched"] & lost["is_sub"]],
                "lost:refine-glue": lost[lost["matched"] & ~lost["is_sub"]],
            }
            out = {
                "n_entities_in": n,
                "truth_pairs": len(df),
                "recalled": int(df["recalled"].sum()),
                "name_pair_recall": round(df["recalled"].mean(), 4),
            }
            for k, b in buckets.items():
                out[k] = len(b)
            print(json.dumps(out), flush=True)

            def qshow(label, b, cols):
                if not len(b):
                    return
                print(f"-- {label} ({len(b)} pairs) feature quantiles:")
                for c in cols:
                    if c in b and b[c].notna().any():
                        qs = np.nanpercentile(
                            b[c].astype(float), [10, 50, 90]
                        )
                        print(f"   {c:22s} p10/p50/p90 = "
                              + "/".join(f"{q:.3f}" for q in qs))

            feat = ["probability", "cosine_sim", "align_edit",
                    "token_weakest_link", "token_set_ratio", "ratio"]
            qshow("lost:scorer", buckets["lost:scorer"], feat)
            qshow("lost:refine-glue", buckets["lost:refine-glue"], feat)
            qshow("lost:refine-sub", buckets["lost:refine-sub"], feat)
            for k in ("lost:refine-glue", "lost:scorer", "lost:refine-sub"):
                b = buckets[k]
                if len(b):
                    print(f"-- {k} examples:")
                    cols = [c for c in ("name_x", "name_y", "probability",
                                        "cosine_sim", "align_edit",
                                        "token_weakest_link") if c in b]
                    print(b[cols].head(8).to_string(index=False))

            if os.environ.get("RECALL_DEEP"):
                _deep_dive(buckets["lost:refine-sub"], scored, comp, fixture)
        finally:
            shutil.rmtree(wh, ignore_errors=True)
    spark.stop()


def _deep_dive(lost_sub: pd.DataFrame, scored: pd.DataFrame,
               comp: pd.Series, fixture: str) -> None:
    """For sample names in lost subsumption pairs, dump every match edge
    with its component + truth so the attach decision can be audited."""
    from name_matching_spark.functions.normalize import preprocess_name

    truth = pd.read_parquet(os.path.join(fixture, "truth.parquet"))
    truth["name"] = truth["alias"].map(preprocess_name)
    n2e = truth.groupby("name")["entity_id"].agg(set).to_dict()
    m = scored[scored["prediction"] == 1]
    csize = comp.groupby(comp).size()
    sample = sorted(set(lost_sub["name_x"]))[:12]
    for nx in sample:
        ex = n2e.get(nx, set())
        mycomp = comp.get(nx, nx)
        print(f"== {nx!r} truth_ents={sorted(ex)} comp={mycomp!r} "
              f"(size {csize.get(mycomp, 1)})")
        edges = m[(m["name_x"] == nx) | (m["name_y"] == nx)]
        rows = []
        for _, r in edges.iterrows():
            other = r["name_y"] if r["name_x"] == nx else r["name_x"]
            oc = comp.get(other, other)
            rows.append({
                "other": other,
                "p": round(r["probability"], 4),
                "cos": round(r["cosine_sim"], 3),
                "al": r["align_edit"],
                "twl": round(r["token_weakest_link"], 3),
                "sub": bool(r["token_weakest_link"] >= 0.999999
                            and r["align_edit"] >= 1),
                "o_comp": oc,
                "o_csize": int(csize.get(oc, 1)),
                "same_truth": bool(ex & n2e.get(other, set())),
            })
        rows.sort(key=lambda d: -d["p"])
        print(pd.DataFrame(rows).to_string(index=False))


if __name__ == "__main__":
    main()
