"""Structured-streaming surface: streaming canonicalization + incremental
entity assignment (the batch-clustering / stream-assignment lambda split)."""

import gc
import os

import pytest
from pyspark.sql import functions as F

from name_matching_spark.datagen import write_fixture
from name_matching_spark.model.train import load_artifacts
from name_matching_spark.streaming.stream_resolve import (
    assign_stream_batch,
    stream_canonical_names,
)


@pytest.mark.slow
def test_stream_canonicalize_file_source(spark, tmp_path):
    fixture = str(tmp_path / "fx")
    write_fixture(fixture, n_entities=10, convs_per_entity=2, seed=5)
    static = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    stream = spark.readStream.schema(static.schema).parquet(
        os.path.join(fixture)
    )
    out = stream_canonical_names(stream, watermark="10 minutes")
    q = (
        out.writeStream.format("memory")
        .queryName("canon_stream")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = spark.sql("select * from canon_stream").collect()
    assert len(got) > 0
    names = {r["name"] for r in got}
    # names come out normalized (uppercase, punctuation-free)
    assert all(n == n.upper() for n in names)


def test_assign_stream_batch(spark):
    model, tfidf = load_artifacts()
    entities = spark.createDataFrame(
        [("JONATHAN WICK", "JONATHAN WICK"), ("HOTEL CONTINENTAL", "HOTEL CONTINENTAL")],
        ["entity_key", "resolved_name"],
    )
    new = spark.createDataFrame(
        [("c1", "JOHN WICK"), ("c2", "ZEBRA QUARRY")], ["conv_id", "name"]
    )
    out = {r["conv_id"]: r for r in assign_stream_batch(
        new, entities, model.to_json(), tfidf.to_json()
    ).collect()}
    assert out["c1"]["status"] == "assigned"
    assert out["c1"]["entity_key"] == "JONATHAN WICK"
    assert out["c2"]["status"] == "pending"


def test_entity_token_index_built_once(spark):
    """The entity-side explode must run exactly once per index build; every
    micro-batch reuses the materialized index (no per-trigger recompute)."""
    from pyspark.sql.types import StringType

    from name_matching_spark.streaming.stream_resolve import EntityTokenIndex

    acc = spark.sparkContext.accumulator(0)

    def bump(s):
        acc.add(1)
        return s

    bump_udf = F.udf(bump, StringType()).asNondeterministic()
    entities = spark.createDataFrame(
        [("JONATHAN WICK", "JONATHAN WICK"), ("HOTEL CONTINENTAL", "HOTEL CONTINENTAL")],
        ["entity_key", "resolved_name"],
    ).withColumn("resolved_name", bump_udf("resolved_name"))
    idx = EntityTokenIndex(entities)
    built = acc.value
    assert built > 0
    # the (token, entity) rows: JONATHAN, WICK, HOTEL, CONTINENTAL
    assert idx.n_rows == 4
    model, tfidf = load_artifacts()
    new = spark.createDataFrame(
        [("c1", "JOHN WICK"), ("c2", "ZEBRA QUARRY")], ["conv_id", "name"]
    )
    for _ in range(2):  # two simulated micro-batch triggers
        out = {
            r["conv_id"]: r
            for r in assign_stream_batch(
                new, idx, model.to_json(), tfidf.to_json()
            ).collect()
        }
        assert out["c1"]["status"] == "assigned"
        assert out["c2"]["status"] == "pending"
    # the entity-side scan + explode did NOT rerun per trigger
    assert acc.value == built


def _wick_entities(spark):
    return spark.createDataFrame(
        [("JONATHAN WICK", "JONATHAN WICK"), ("HOTEL CONTINENTAL", "HOTEL CONTINENTAL")],
        ["entity_key", "resolved_name"],
    )


def test_assign_stream_batch_dedups_across_partitions(spark):
    """Copies of a (conv_id, name) that arrive in different input
    partitions still come out as one row per distinct pair."""
    model, tfidf = load_artifacts()
    pairs = [("c1", "JOHN WICK"), ("c2", "ZEBRA QUARRY"), ("c3", "HOTEL CONTINENTAL")]
    new = spark.createDataFrame(
        spark.sparkContext.parallelize(pairs + pairs[::-1] + pairs, 3), ["conv_id", "name"]
    )
    parts = new.rdd.glom().collect()
    assert all(set(map(tuple, p)) == set(pairs) for p in parts)  # every copy split
    out = assign_stream_batch(new, _wick_entities(spark), model.to_json(), tfidf.to_json())
    assert sorted(tuple(r) for r in out.collect()) == [
        ("c1", "JOHN WICK", "JONATHAN WICK", "assigned"),
        ("c2", "ZEBRA QUARRY", None, "pending"),
        ("c3", "HOTEL CONTINENTAL", "HOTEL CONTINENTAL", "assigned"),
    ]


def test_assign_stream_batch_is_one_spark_job(spark):
    """A micro-batch is one Spark job: the whole assignment runs in one
    pass over the batch (a plan with a join or shuffle runs more)."""
    import pandas as pd

    from name_matching_spark.streaming.stream_resolve import EntityTokenIndex

    model, tfidf = load_artifacts()
    idx = EntityTokenIndex(_wick_entities(spark))
    names = ["JOHN WICK", "ZEBRA QUARRY", "HOTEL CONTINENTAL", "JON WICK"] * 16
    new = spark.createDataFrame(
        pd.DataFrame({"conv_id": [f"c{i % 40}" for i in range(64)], "name": names})
    )
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    for call in range(2):
        group = f"assign-one-job-{call}"
        sc.setJobGroup(group, "one micro-batch")
        try:
            rows = assign_stream_batch(new, idx, model.to_json(), tfidf.to_json()).collect()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(rows) == len({(f"c{i % 40}", n) for i, n in enumerate(names)})
        assert len(tracker.getJobIdsForGroup(group)) == 1


def _round_trips(spark, build) -> tuple:
    """``build()`` and the py4j round trips the driver made for it.  The
    cyclic GC is held off, so a collection of unrelated JavaObjects
    cannot add its deletes to the count."""
    client = type(spark.sparkContext._gateway._gateway_client)
    send = client.send_command
    calls = []

    def counting(self, *args, **kwargs):
        calls.append(1)
        return send(self, *args, **kwargs)

    gc.collect()
    gc.disable()
    client.send_command = counting
    try:
        out = build()
    finally:
        client.send_command = send
        gc.enable()
    return len(calls), out


def test_stream_plan_round_trip_budget(spark):
    """A warm micro-batch builds its plan from expressions made once:
    only the new input frame changes from one call to the next.  Making
    every Column tree anew per call cost 637 round trips per plan, 385 of
    them in ``score_pairs``."""
    from name_matching_spark.operators.scoring import score_pairs
    from name_matching_spark.streaming.stream_resolve import EntityTokenIndex

    model, tfidf = load_artifacts()
    mj, tj = model.to_json(), tfidf.to_json()
    idx = EntityTokenIndex(_wick_entities(spark))

    for _ in range(2):  # the second call is warm
        new = spark.createDataFrame(
            [("c1", "JOHN WICK"), ("c2", "ZEBRA QUARRY")], "conv_id string, name string"
        )
        trips, plan = _round_trips(spark, lambda: assign_stream_batch(new, idx, mj, tj))
    assert trips <= 150
    assert len(plan.collect()) == 2

    pairs = spark.createDataFrame(
        [("JOHN WICK", "JONATHAN WICK")], "name string, cand string"
    )
    kwargs = dict(name_x="name", name_y="cand", keep_features=False)
    score_pairs(pairs, mj, tj, **kwargs)
    trips, _ = _round_trips(spark, lambda: score_pairs(pairs, mj, tj, **kwargs))
    assert trips <= 60


def test_assign_stream_batch_scores_one_candidate_frame_per_batch(spark, monkeypatch):
    """The traced benchmark run reads each micro-batch's candidate pairs
    by wrapping this module's ``score_pairs``: a micro-batch calls it
    exactly once, on a frame with one row per exact hit, per candidate
    and per name without a candidate."""
    import name_matching_spark.streaming.stream_resolve as stream_mod
    from name_matching_spark.streaming.stream_resolve import EntityTokenIndex

    model, tfidf = load_artifacts()
    entities = spark.createDataFrame(
        [
            ("E1", "JONATHAN WICK", "JONATHAN WICK"),
            ("E1", "JONATHAN WICK", "JOHNNY WICK"),
            ("E2", "HOTEL CONTINENTAL", "HOTEL CONTINENTAL"),
            ("E3", "WICK ENTERPRISES", "WICK ENTERPRISES"),
        ],
        ["entity_key", "resolved_name", "name"],
    )
    idx = EntityTokenIndex(entities)
    frames = []
    score_orig = stream_mod.score_pairs

    def recording(pairs, *args, **kwargs):
        frames.append(pairs)
        return score_orig(pairs, *args, **kwargs)

    monkeypatch.setattr(stream_mod, "score_pairs", recording)
    batches = [
        # JOHNNY WICK and HOTEL CONTINENTAL are members (2 exact hits);
        # WICK blocks JOHN WICK to E1 and E3, twice (c2 arrives twice);
        # ZEBRA QUARRY shares no token
        [("c1", "JOHNNY WICK"), ("c2", "JOHN WICK"), ("c3", "ZEBRA QUARRY"),
         ("c4", "HOTEL CONTINENTAL"), ("c2", "JOHN WICK"), ("c5", "JOHN WICK")],
        [("c6", "ZEBRA QUARRY")],
    ]
    want = [(2, 4, 1), (0, 0, 1)]
    for k, batch in enumerate(batches):
        new = spark.createDataFrame(batch, "conv_id string, name string")
        rows = assign_stream_batch(new, idx, model.to_json(), tfidf.to_json()).collect()
        assert len(frames) == k + 1
        pairs = frames[k].toPandas()
        exact = int(pairs["exact"].sum())
        cands = int((~pairs["exact"] & pairs["cand"].notna()).sum())
        bare = int(pairs["cand"].isna().sum()) - exact
        assert (exact, cands, bare) == want[k]
        assert frames[k].count() == sum(want[k])
        assert len(rows) == len(set(batch))


def _retired_join_plan(new_names, entities, model_json, tfidf_json, threshold=0.85):
    """The join-based plan assign_stream_batch used before the one-pass
    rewrite (exact join, anti-join, token explode + join, scorer, min_by,
    union), kept here as the reference the pass must reproduce."""
    from name_matching_spark.operators.scoring import score_pairs
    from name_matching_spark.streaming.stream_resolve import MIN_TOKEN_LEN

    index = (
        entities.select("entity_key", F.col("resolved_name").alias("cand"))
        .dropDuplicates(["entity_key"])
        .withColumn("tok", F.explode(F.split(F.col("cand"), " ")))
        .where(F.length("tok") >= MIN_TOKEN_LEN)
    )
    members = entities.select("name", F.col("entity_key").alias("_ek")).dropDuplicates(["name"])
    nn = new_names.select("conv_id", "name").dropDuplicates(["name", "conv_id"])
    exact = nn.join(members, "name")
    nn = nn.join(exact.select("conv_id", "name"), ["conv_id", "name"], "left_anti")
    nt = nn.select("conv_id", "name", F.explode(F.split("name", " ")).alias("tok")).where(
        F.length("tok") >= MIN_TOKEN_LEN
    )
    cands = (
        nt.join(index, "tok")
        .select("conv_id", "name", "entity_key", "cand")
        .dropDuplicates(["conv_id", "name", "entity_key"])
    )
    scored = score_pairs(
        cands, model_json, tfidf_json, threshold=threshold,
        name_x="name", name_y="cand", keep_features=False,
    )
    best = (
        scored.where(F.col("prediction") == 1)
        .groupBy("conv_id", "name")
        .agg(
            F.min_by(
                "entity_key", F.struct(-F.col("probability"), F.col("entity_key"))
            ).alias("entity_key")
        )
    )
    out = nn.join(best, ["conv_id", "name"], "left").unionByName(
        exact.select("conv_id", "name", F.col("_ek").alias("entity_key"))
    )
    return out.withColumn(
        "status",
        F.when(F.col("entity_key").isNotNull(), F.lit("assigned")).otherwise(F.lit("pending")),
    )


def test_assign_stream_batch_matches_retired_join_plan(spark):
    """The one-pass assignment reproduces the join-based plan row for row
    on a datagen entity table: exact members, aliases and typos that must
    be scored, names no entity shares a token with, duplicate arrivals,
    and an exact probability tie between two keys with the same canonical
    name (the smaller key wins on both)."""
    from name_matching_spark.datagen import generate_entities
    from name_matching_spark.streaming.stream_resolve import EntityTokenIndex

    model, tfidf = load_artifacts()
    ents = generate_entities(60, seed=3)
    table = [
        (alias, ent.full_name, ent.full_name)
        for ent in ents.itertuples()
        for alias in ent.aliases[:2]
    ]
    table += [
        # two keys, one canonical form: their probabilities tie exactly
        ("TIE ALIAS B", "TIE KEY B", "MARGARETHE QUENNEVILLE"),
        ("TIE ALIAS A", "TIE KEY A", "MARGARETHE QUENNEVILLE"),
        # several matches for one name, the best under the largest key:
        # JOHN WICK scores 0.9992 / 0.9934 / 0.9925 against them
        ("WICK ALIAS 1", "K WICK 1", "JOHN WICKS"),
        ("WICK ALIAS 2", "K WICK 2", "J WICK"),
        ("WICK ALIAS 3", "K WICK 3", "JONATHAN WICK"),
        # ACME HOLDINGS LTD scores 1.0 / 0.9211
        ("ACME ALIAS Z", "ACME Z", "ACME HOLDINGS"),
        ("ACME ALIAS A", "ACME A", "ACMEE HOLDINGS LTD"),
    ]
    entities = spark.createDataFrame(table, ["name", "entity_key", "resolved_name"])
    names = [a for ent in ents.itertuples() for a in ent.aliases]
    names += ["MARGARETHE QUENNEVILE", "JOHN WICK", "ACME HOLDINGS LTD", "ZEBRA QUARRY", "", "X"]
    batch = [(f"c{i % 97}", n) for i, n in enumerate(names)]
    new = spark.createDataFrame(batch + batch[:25], "conv_id string, name string")
    mj, tj = model.to_json(), tfidf.to_json()
    got = sorted(
        tuple(r)
        for r in assign_stream_batch(new, EntityTokenIndex(entities), mj, tj).collect()
    )
    want = sorted(tuple(r) for r in _retired_join_plan(new, entities, mj, tj).collect())
    assert got == want
    picked = {n: k for _, n, k, _ in got}
    assert picked["MARGARETHE QUENNEVILE"] == "TIE KEY A"
    assert picked["JOHN WICK"] == "K WICK 3"
    assert picked["ACME HOLDINGS LTD"] == "ACME Z"
    assert picked["ZEBRA QUARRY"] is None
    assert {s for *_, s in got} == {"assigned", "pending"}


@pytest.mark.slow
def test_stream_vs_batch_agreement_10k(spark, tmp_path):
    """End-to-end lambda split at bench scale: batch pipeline resolves the
    10k-entity fixture; the SAME transcripts then replay as a stream in
    >= 3 micro-batches with turns shuffled out of order inside each
    chunk, and every conversation's streamed assignment must agree with
    the batch assignment for >= 0.99 of conversations (exact-member fast
    path + scored fallback, streaming canonicalization included)."""
    import tempfile

    from name_matching_spark.pipeline import EntityResolutionPipeline
    from name_matching_spark.streaming.stream_resolve import EntityTokenIndex

    REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    fixture = os.path.join(REPO, "data", "bench_transcripts_e10000")
    if os.path.exists(fixture):
        transcripts = spark.read.parquet(
            os.path.join(fixture, "transcripts.parquet")
        )
    else:  # fallback: generate a smaller one on the fly
        fx = str(tmp_path / "fx10k")
        write_fixture(fx, n_entities=1000, convs_per_entity=3, seed=77)
        transcripts = spark.read.parquet(os.path.join(fx, "transcripts.parquet"))
    wh = tempfile.mkdtemp(prefix="nms_stream10k_")
    stages = EntityResolutionPipeline(spark, wh).run(transcripts)
    batch_keys = {
        r["conv_id"]: r["name_entity_key"]
        for r in stages["resolved_conversations"]
        .select("conv_id", "name_entity_key")
        .collect()
    }
    idx = EntityTokenIndex(stages["entities"])
    model, tfidf = load_artifacts()

    # 3 arrival chunks by conversation start time (watermark-friendly),
    # turns SHUFFLED within each chunk (out-of-order arrival)
    multi = str(tmp_path / "chunks")
    conv_t0 = transcripts.groupBy("conv_id").agg(F.min("ts").alias("t0"))
    tiles = conv_t0.withColumn(
        "chunk", F.ntile(3).over(__import__("pyspark").sql.Window.orderBy("t0"))
    )
    src = transcripts.join(tiles.select("conv_id", "chunk"), "conv_id")
    for c in (1, 2, 3):
        (
            src.where(F.col("chunk") == c)
            .drop("chunk")
            .orderBy(F.rand(41 + c))
            .coalesce(1)
            .write.mode("append")
            .parquet(multi)
        )
    stream = (
        spark.readStream.schema(transcripts.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(multi)
    )
    names = stream_canonical_names(stream, watermark="10 minutes")
    got: dict = {}
    n_batches = [0]

    def sink(batch_df, _bid):
        n_batches[0] += 1
        out = assign_stream_batch(batch_df, idx, model.to_json(), tfidf.to_json())
        for r in out.where(F.col("status") == "assigned").collect():
            got[r["conv_id"]] = r["entity_key"]

    q = (
        names.writeStream.foreachBatch(sink)
        .option("checkpointLocation", str(tmp_path / "ckpt10k"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    assert n_batches[0] >= 3, f"only {n_batches[0]} micro-batches ran"
    compared = [c for c in got if batch_keys.get(c) is not None]
    assert len(compared) >= 0.9 * len(batch_keys), (
        f"stream resolved only {len(compared)}/{len(batch_keys)} conversations"
    )
    agree = sum(got[c] == batch_keys[c] for c in compared)
    rate = agree / max(len(compared), 1)
    assert rate >= 0.99, f"stream-vs-batch agreement {rate:.4f}"
