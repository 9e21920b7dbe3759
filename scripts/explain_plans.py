"""Regenerate docs/PLANS.md: formatted physical plans for the load-bearing
operators, with the properties each plan must exhibit (predicate pushdown,
column pruning, whole-stage codegen spans, broadcast joins, AQE)."""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import functions as F  # noqa: E402

from name_matching_spark.session import get_spark  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"


def grab(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main() -> None:
    spark = get_spark(master="local[8]", shuffle_partitions=16)
    sections = []

    # 1. Scan with filter + projection: pushdown and pruning.
    li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
    q1 = li.where(F.col("l_shipdate") >= "1995-01-01").select("l_orderkey", "l_quantity")
    sections.append((
        "Filtered projected scan (pushdown + pruning)",
        "PushedFilters must contain the l_shipdate predicate; ReadSchema "
        "must be only (l_orderkey, l_quantity, l_shipdate).",
        grab(q1),
    ))

    # 2. Normalization: pure whole-stage-codegen column expressions.
    from name_matching_spark.functions.normalize import normalize_text_col

    d = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    q2 = d.select(normalize_text_col(F.col("text"), upper=True).alias("norm"))
    sections.append((
        "Text normalization (operator P1)",
        "One WholeStageCodegen span over the scan — no UDFs, no exchange.",
        grab(q2),
    ))

    # 3. Blocked self-join (candidate pairs).
    from name_matching_spark.operators.blocking import candidate_pairs

    names = d.select(normalize_text_col(F.col("text"), upper=True).alias("name")).limit(200)
    q3 = candidate_pairs(names)
    sections.append((
        "Blocked self-join (operator J1 replacement)",
        "Exchanges only on the blocking key; the size-filter join and the "
        "self-join share the key partitioning; ArrowEvalPython appears only "
        "for the metaphone key UDF.",
        grab(q3),
    ))

    # 4. Scorer: single ArrowEvalPython node.
    from name_matching_spark.model.train import load_artifacts
    from name_matching_spark.operators.scoring import score_pairs

    model, tfidf = load_artifacts()
    pairs = spark.createDataFrame(
        [("JOHN WICK", "JON WHICK")], ["name_x", "name_y"]
    )
    q4 = score_pairs(pairs, model.to_json(), tfidf.to_json())
    sections.append((
        "Pairwise scorer (operators F1-F8 + M2-M4)",
        "Exactly ONE ArrowEvalPython node evaluates the full-feature+prob "
        "struct; everything downstream is codegen'd projection.",
        grab(q4),
    ))

    # 5. Broadcast entity lookup.
    from name_matching_spark.operators.resolve import entity_table, resolve_records
    from name_matching_spark.operators.clustering import connected_components

    comps = connected_components(
        spark.createDataFrame([("A B", "A BC")], ["src", "dst"])
    )
    ents = entity_table(comps, spark.createDataFrame([("A B",), ("A BC",)], ["name"]))
    recs = spark.createDataFrame([("r1", "A B")], ["id", "nm"])
    q5 = resolve_records(recs, ents, ["nm"])
    sections.append((
        "Entity assignment (operators J3/J4)",
        "BroadcastHashJoin (the entity table is broadcast), no shuffle of "
        "the record side.",
        grab(q5),
    ))

    # 6. Turn collapse.
    from name_matching_spark.operators.canonicalize import canonicalize

    tr = spark.createDataFrame(
        [("c1", 0, "user", "HI", "", None)],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    q6 = canonicalize(tr)
    sections.append((
        "Turn collapse (operator A7)",
        "Single hash-aggregate exchange on conv_id; sort happens inside "
        "array_sort (no global sort).",
        grab(q6),
    ))

    out = ["# Physical plans (regenerate: `python scripts/explain_plans.py`)\n"]
    for title, props, plan in sections:
        out.append(f"## {title}\n\n{props}\n\n```\n{plan}```\n")
    os.makedirs(os.path.join(REPO, "docs"), exist_ok=True)
    with open(os.path.join(REPO, "docs", "PLANS.md"), "w") as f:
        f.write("\n".join(out))
    print("wrote docs/PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
