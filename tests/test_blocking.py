"""Blocking: recall on the labeled positive pairs, hot-block cap, pair shape."""

import pandas as pd
import pytest
from pyspark.sql import functions as F

from name_matching_spark.model.train import POS_CSV
from name_matching_spark.functions.normalize import preprocess_name
from name_matching_spark.operators.blocking import (
    block_stats,
    blocking_keys,
    candidate_pairs,
)


@pytest.fixture(scope="module")
def labeled_sample():
    pos = pd.read_csv(POS_CSV).dropna().sample(n=1500, random_state=42)
    pos["x"] = pos["NAME_X"].map(preprocess_name)
    pos["y"] = pos["NAME_Y"].map(preprocess_name)
    pos = pos[(pos.x.str.len() > 0) & (pos.y.str.len() > 0) & (pos.x != pos.y)]
    return pos


def test_blocking_recall_on_labeled_positives(spark, labeled_sample):
    names = sorted(set(labeled_sample.x) | set(labeled_sample.y))
    names_df = spark.createDataFrame([(n,) for n in names], ["name"])
    pairs = candidate_pairs(names_df, max_block=200)
    got = {
        (r["name_x"], r["name_y"]) for r in pairs.collect()
    }
    want = {
        (min(a, b), max(a, b)) for a, b in zip(labeled_sample.x, labeled_sample.y)
    }
    recall = len(want & got) / len(want)
    assert recall >= 0.995, f"blocking recall {recall:.4f}"


def test_blocking_pairs_canonical_and_deduped(spark):
    names = spark.createDataFrame(
        [("JOHN WICK",), ("JON WHICK",), ("J WICK",), ("HELEN WICK",)], ["name"]
    )
    pairs = candidate_pairs(names).collect()
    seen = set()
    for r in pairs:
        assert r["name_x"] < r["name_y"]
        assert (r["name_x"], r["name_y"]) not in seen
        seen.add((r["name_x"], r["name_y"]))
    # all four share token WICK -> all 6 pairs are candidates
    assert len(seen) == 6


def test_block_hot_cap(spark):
    # 150 otherwise-dissimilar names sharing one short hot token ("LLC"):
    # the tok:LLC block (150 names) exceeds max_block=100 and must be
    # routed through sub-blocking, never paired quadratically — the
    # dissimilar members land in (mostly singleton) MinHash sub-blocks, so
    # total pairs stay far below the 150*149/2 = 11,175 full quadratic.
    import random

    rng = random.Random(7)
    letters = "BCDFGHJKLMNPQRSTVWXZ"
    rows = [
        (
            "".join(rng.choice(letters) for _ in range(10))
            + " "
            + "".join(rng.choice(letters) for _ in range(8))
            + " LLC",
        )
        for _ in range(150)
    ]
    names = spark.createDataFrame(rows, ["name"])
    stats = block_stats(names, max_block=100)
    hot = {r["key"] for r in stats.where(F.col("hot")).collect()}
    assert "tok:LLC" in hot
    # no non-hot block exceeds the cap
    assert stats.where(~F.col("hot") & (F.col("block_size") > 100)).count() == 0
    pairs = candidate_pairs(names, max_block=100)
    assert pairs.count() < 6000


def test_hot_block_subblocking_recovers_recall(spark):
    # The corpus-scale regime in miniature (bands=0 / no metaphone to
    # isolate it — at small n the LSH band buckets stay small and would
    # catch every pair through a non-hot route, which is exactly what
    # stops happening at 100k names): each typo pair's ONLY shared key is
    # the hot token block.  The old purge semantics dropped such pairs
    # entirely (recall ~0 here); MinHash sub-blocking must recover the
    # overwhelming majority (a true pair shares most full-name shingles,
    # so at least one of the 4 secondary rows agrees w.p. 1-(1-J)^4).
    import random

    rng = random.Random(13)
    letters = "BCDFGHJKLMNPQRSTVWXZ"
    base = ["".join(rng.choice(letters) for _ in range(9)) for _ in range(40)]
    names, want = [], set()
    for core in base:
        a = f"{core} LLC"
        typo = rng.choice([c for c in letters if c != core[0]]) + core[1:]
        b = f"{typo} LLC"
        names += [(a,), (b,)]
        want.add((min(a, b), max(a, b)))
    names_df = spark.createDataFrame(names, ["name"])
    kw = dict(max_block=5, bands=0, use_metaphone=False)
    sub = candidate_pairs(names_df, **kw)
    got = {(r["name_x"], r["name_y"]) for r in sub.collect()}
    recall = len(want & got) / len(want)
    assert recall >= 0.85, f"sub-blocking recall {recall:.3f}"


def test_candidate_pairs_rejects_keys_frame_missing_columns(spark):
    """A prebuilt keys frame without the block sizes or the sub-block
    signature must fail loudly: falling back silently would give NULL
    sub-keys that merge every hot-block member into one bucket."""
    names = spark.createDataFrame(
        [("JOHN WICK",), ("JON WICK",), ("J WICK",)], ["name"]
    )
    bare = blocking_keys(names)
    with pytest.raises(ValueError, match="block_size"):
        candidate_pairs(names, keys=bare)
    sizes = bare.groupBy("key").agg(F.count("*").alias("block_size"))
    with pytest.raises(ValueError, match="_ss"):
        candidate_pairs(names, keys=bare.drop("_ss").join(sizes, "key"))


def test_hot_block_pair_volume_stays_linear(spark):
    # Star cap + sub-block cap: 300 members of one hot token at
    # max_block=10 must produce pair volume linear-ish in members, not the
    # 300*299/2 = 44,850 quadratic.
    import random

    rng = random.Random(99)
    letters = "BCDFGHJKLMNPQRSTVWXZ"
    rows = [
        (
            "".join(rng.choice(letters) for _ in range(12)) + " ZZHOT",
        )
        for _ in range(300)
    ]
    names = spark.createDataFrame(rows, ["name"])
    pairs = candidate_pairs(names, max_block=10)
    assert pairs.count() < 15_000


def test_pipeline_blocking_keys_computed_once(spark, tmp_path, monkeypatch):
    """candidate_pairs and block_metrics consume the same blocking-key
    table; a fresh pipeline run must build it exactly once (the metaphone
    UDF + MinHash signatures are the expensive part of blocking — at sf1
    the redundant metrics-side recompute cost as much as pairing itself)."""
    import os

    from name_matching_spark.datagen import write_fixture
    from name_matching_spark.operators import blocking as bk
    from name_matching_spark.pipeline import EntityResolutionPipeline

    calls = []
    real = bk.blocking_keys

    def counting(*a, **kw):
        calls.append(1)
        return real(*a, **kw)

    monkeypatch.setattr(bk, "blocking_keys", counting)
    fixture = str(tmp_path / "fx_keys")
    write_fixture(fixture, n_entities=15, convs_per_entity=2, seed=3)
    transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    pipe = EntityResolutionPipeline(spark, str(tmp_path / "wh_keys"))
    pipe.run(transcripts)
    assert len(calls) == 1


def test_scorer_plan_single_udf_evaluation(spark):
    """Regression lock for the double-evaluation bug: a filter on the
    scorer's output pushed through the repartition exchange used to
    DUPLICATE the ArrowEvalPython node (running the whole GBM scorer
    twice, the first copy at pre-shuffle parallelism).  The plan must
    contain exactly ONE ArrowEvalPython, above the exchange."""
    from name_matching_spark.model.train import load_artifacts
    from name_matching_spark.operators.scoring import score_pairs

    model, tfidf = load_artifacts()
    pairs = spark.createDataFrame(
        [("A B", "A C")] * 10, ["name_x", "name_y"]
    ).localCheckpoint()
    out = score_pairs(
        pairs.repartition(8), model.to_json(), tfidf.to_json()
    ).where(F.col("prediction") == 1)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert plan.count("ArrowEvalPython") == 1, plan
    # the single evaluation sits ABOVE the exchange (post-shuffle)
    assert plan.index("ArrowEvalPython") < plan.index("Exchange"), plan


def test_python_worker_reuse_across_scorer_jobs(spark):
    """spark.python.worker.reuse (default on) is what amortizes numpy
    first-touch cold-start across jobs; verify it survives the scorer's
    iterator-UDF execution path — the SAME python worker processes must
    serve a second scoring job."""
    import os

    import pandas as pd

    from name_matching_spark.model.train import load_artifacts
    from name_matching_spark.operators.scoring import score_pairs

    assert spark.conf.get("spark.python.worker.reuse", "true") == "true"
    model, tfidf = load_artifacts()
    # enough partitions to touch the whole worker pool: with a large pool
    # (shared test session) a few tasks can legitimately land on disjoint
    # workers even with reuse on
    n_part = spark.sparkContext.defaultParallelism * 2
    pairs = spark.createDataFrame(
        [("JOHN WICK", "JON WICK")] * (4 * n_part), ["name_x", "name_y"]
    ).repartition(n_part).localCheckpoint()

    def pid_batches(it):
        for pdf in it:
            yield pd.DataFrame({"pid": [os.getpid()] * len(pdf)})

    def run_once():
        score_pairs(pairs, model.to_json(), tfidf.to_json()).count()
        return {
            r["pid"] for r in pairs.mapInPandas(pid_batches, "pid long").collect()
        }

    runs = [run_once() for _ in range(3)]
    assert any(
        a & b for a, b in zip(runs, runs[1:])
    ), f"no python worker survived across any consecutive jobs: {runs}"
