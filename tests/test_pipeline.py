"""End-to-end pipeline tests: golden txns cluster parity, synthetic
transcripts cluster agreement, checkpoint resume."""

import os
import subprocess
import sys
from collections import defaultdict

import pytest
from pyspark.sql import functions as F

from name_matching_spark.datagen import write_fixture
from name_matching_spark.functions.normalize import normalize_text_col
from name_matching_spark.model.train import load_artifacts
from name_matching_spark.operators.blocking import candidate_pairs
from name_matching_spark.operators.clustering import connected_components
from name_matching_spark.operators.resolve import entity_table
from name_matching_spark.operators.scoring import score_pairs
from name_matching_spark.pipeline import EntityResolutionPipeline, input_fingerprint

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

GOLDEN_CLUSTERS = [
    # data/golden_resolved_txns.csv (reference entity_resolution.py output)
    {"JOHN WICK", "JONATHAN WICK", "JON WHICK", "J WICK"},
    {"CONTINENTAL HOTEL", "HOTEL CONTINENTAL", "HOTEL CONT L"},
    {"WINSTON SCOTT", "W SCOTT", "WIN SCOTT", "SCOTT WINSTON"},
    {"HELEN WICK"},
]


def test_golden_txns_clusters(spark):
    """Reproduce the reference's resolved_txns.csv entity groupings."""
    model, tfidf = load_artifacts()
    txn = spark.read.option("header", True).csv(os.path.join(REPO, "data/sample_txns.csv"))
    txn = txn.toDF(*[c.strip("﻿") for c in txn.columns])
    names = (
        txn.select(normalize_text_col(F.col("Cust_Name"), upper=True).alias("name"))
        .union(txn.select(normalize_text_col(F.col("Counterpart_Name"), upper=True)))
        .distinct()
    )
    pairs = candidate_pairs(names)
    scored = score_pairs(pairs, model.to_json(), tfidf.to_json())
    comps = connected_components(
        scored.where("prediction = 1").selectExpr("name_x as src", "name_y as dst")
    )
    ents = entity_table(comps, names)
    clusters = defaultdict(set)
    for r in ents.collect():
        clusters[r["entity_key"]].add(r["name"])
    got = sorted(
        (frozenset(v) for v in clusters.values()), key=lambda s: sorted(s)[0]
    )
    want = sorted((frozenset(s) for s in GOLDEN_CLUSTERS), key=lambda s: sorted(s)[0])
    assert got == want
    # canonical names: longest member (lexicographic tiebreak pinned)
    resolved = {r["entity_key"]: r["resolved_name"] for r in ents.collect()}
    assert "JONATHAN WICK" in resolved.values()
    assert "HOTEL CONTINENTAL" in resolved.values()


@pytest.mark.slow
def test_synthetic_fixture_cluster_agreement(spark, tmp_path):
    fixture = str(tmp_path / "fixture")
    write_fixture(fixture, n_entities=60, convs_per_entity=4, seed=123)
    wh = str(tmp_path / "warehouse")
    pipe = EntityResolutionPipeline(spark, wh)
    transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    stages = pipe.run(transcripts)
    res = stages["resolved_conversations"].select("conv_id", "name_entity_key")
    truth = spark.read.parquet(os.path.join(fixture, "truth.parquet"))
    rows = res.join(truth, "conv_id").collect()
    pred, true = defaultdict(set), defaultdict(set)
    for r in rows:
        pred[r["name_entity_key"]].add(r["conv_id"])
        true[r["entity_id"]].add(r["conv_id"])

    def pair_set(cl):
        out = set()
        for members in cl.values():
            ms = sorted(members)
            out.update((ms[i], ms[j]) for i in range(len(ms)) for j in range(i + 1, len(ms)))
        return out

    P, T = pair_set(pred), pair_set(true)
    tp = len(P & T)
    prec = tp / max(len(P), 1)
    rec = tp / max(len(T), 1)
    f1 = 2 * prec * rec / max(prec + rec, 1e-9)
    print(f"cluster agreement: precision={prec:.4f} recall={rec:.4f} F1={f1:.4f}")
    assert f1 >= 0.9, f"cluster pairwise F1 {f1:.4f}"
    # The shipped evidence_min_size=2 default prunes glue edges with
    # neither a shared informative token nor a near-exact relation —
    # at this 60-entity fixture that costs a few true diminutive links
    # (recall 0.92, precision 1.0) and buys the measured precision jump
    # at 10k/100k entities (BENCH/QUALITY.md).  Gate both sides of the
    # trade so a regression in either direction fails.
    assert rec >= 0.90
    assert prec >= 0.99


@pytest.mark.slow
def test_checkpoint_resume(spark, tmp_path):
    fixture = str(tmp_path / "fx")
    write_fixture(fixture, n_entities=20, convs_per_entity=3, seed=99)
    wh = str(tmp_path / "wh")
    transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    p1 = EntityResolutionPipeline(spark, wh)
    first = p1.run(transcripts)
    ents1 = sorted(
        (r["name"], r["entity_key"]) for r in first["entities"].collect()
    )
    # Second run resumes: every stage must come from checkpoint (manifest
    # present), results identical.
    p2 = EntityResolutionPipeline(spark, wh)
    for stage in ["conversations", "names", "candidate_pairs", "scored_pairs",
                  "entities", "resolved_conversations"]:
        assert p2.ckpt.is_complete(stage), stage
    second = p2.run(transcripts)
    ents2 = sorted(
        (r["name"], r["entity_key"]) for r in second["entities"].collect()
    )
    assert ents1 == ents2
    # lineage manifests carry per-partition row counts
    import json

    with open(p2.ckpt.manifest_path("entities")) as f:
        man = json.load(f)
    assert man["rows"] == len(ents2)
    assert man["partitions"] and all("rows" in p for p in man["partitions"])
    # the entities manifest records the shipped refinement configuration
    params = man["params"]
    assert params["max_component"] == 4
    assert params["ladder"] == [0.92, 0.96, 0.99, 0.995, 0.999, 0.9999, 0.99999]
    assert params["evidence_min_size"] == 2


@pytest.mark.slow
def test_clustering_writes_no_stage_of_its_own(spark, tmp_path):
    """The entities stage clusters the matches itself: the warehouse holds
    seven stage tables and no ``components`` table, and the returned
    ``components`` view has the clusterer's rows over the scored
    matches."""
    from name_matching_spark.io.checkpoint import MANIFEST
    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
    )

    fixture = str(tmp_path / "fx_fused")
    write_fixture(fixture, n_entities=20, convs_per_entity=3, seed=99)
    wh = str(tmp_path / "wh_fused")
    stages = EntityResolutionPipeline(spark, wh).run(
        spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    )
    tables = sorted(d for d in os.listdir(wh) if os.path.isdir(os.path.join(wh, d)))
    assert tables == sorted([
        "conversations", "names", "candidate_pairs", "block_metrics",
        "scored_pairs", "entities", "resolved_conversations",
    ])
    assert all(os.path.exists(os.path.join(wh, t, MANIFEST)) for t in tables)

    m = stages["scored_pairs"].where(F.col("prediction") == 1).select(
        F.col("name_x").alias("src"),
        F.col("name_y").alias("dst"),
        "probability",
        "cosine_sim",
        "align_edit",
        "token_weakest_link",
        "margin",
    )
    want = sorted(tuple(r) for r in subsumption_aware_components(m).collect())
    got = sorted(tuple(r) for r in stages["components"].collect())
    assert stages["components"].columns == ["name", "component"]
    assert want and got == want


@pytest.mark.slow
def test_input_fingerprint_survives_a_new_process(spark, tmp_path):
    """Every stage manifest keys on the input fingerprint, so a resume from
    a new process must compute the same value for the same parquet read,
    and a different one for a filtered read of it or for the same path
    rewritten with other rows."""
    fixture = str(tmp_path / "fx_fp")
    write_fixture(fixture, n_entities=5, convs_per_entity=2, seed=3)
    path = os.path.join(fixture, "transcripts.parquet")
    code = (
        "import sys\n"
        "from name_matching_spark.pipeline import input_fingerprint\n"
        "from name_matching_spark.session import get_spark\n"
        "spark = get_spark(master='local[1]')\n"
        "print('fp', input_fingerprint(spark.read.parquet(sys.argv[1])))\n"
        "spark.stop()\n"
    )
    env = {**os.environ, "PYTHONPATH": REPO, "SPARK_DRIVER_MEMORY": "512m"}
    out = subprocess.run(
        [sys.executable, "-c", code, path],
        capture_output=True, text=True, env=env, timeout=600, check=True,
    ).stdout
    theirs = [ln.split()[1] for ln in out.splitlines() if ln.startswith("fp ")]

    transcripts = spark.read.parquet(path)
    assert theirs == [input_fingerprint(transcripts)]
    col = transcripts.columns[0]
    assert input_fingerprint(transcripts.where(F.col(col).isNotNull())) != theirs[0]

    write_fixture(fixture, n_entities=6, convs_per_entity=2, seed=4)
    rewritten = spark.read.parquet(path)
    assert rewritten.inputFiles() == transcripts.inputFiles()
    assert input_fingerprint(rewritten) != theirs[0]


@pytest.mark.slow
def test_submit_script_runs_outside_the_repo(tmp_path):
    """``scripts/submit.sh`` ships the package only as a --py-files zip and
    the model artifacts as --files.  Run from another directory, with the
    package on no Python path, the pipeline must still resolve both."""
    write_fixture(str(tmp_path / "fx"), n_entities=20, convs_per_entity=3, seed=5)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_MASTER"] = "local[2]"
    run = subprocess.run(
        [os.path.join(REPO, "scripts", "submit.sh"), "fx/transcripts.parquet", "wh"],
        cwd=tmp_path, capture_output=True, text=True, env=env, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "entities: 20" in run.stdout.splitlines()


@pytest.mark.slow
def test_checkpoint_invalidates_on_param_change(spark, tmp_path):
    """A resume with different stage parameters (or a different input
    table) must recompute, not serve results from the old configuration."""
    fixture = str(tmp_path / "fx2")
    write_fixture(fixture, n_entities=15, convs_per_entity=3, seed=7)
    wh = str(tmp_path / "wh2")
    transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    p1 = EntityResolutionPipeline(spark, wh)
    p1.run(transcripts)
    import json

    with open(p1.ckpt.manifest_path("scored_pairs")) as f:
        params = json.load(f)["params"]
    # the fixed decision rule and block cap are still recorded
    assert (params["threshold"], params["max_block"]) == (0.85, 100)
    run1_scored = json.load(open(p1.ckpt.manifest_path("scored_pairs")))["run_id"]

    # Same params -> resume (run_id in manifest unchanged).
    p2 = EntityResolutionPipeline(spark, wh)
    p2.run(transcripts)
    assert json.load(open(p2.ckpt.manifest_path("scored_pairs")))["run_id"] == run1_scored
    # Upstream stages also resumed.
    assert json.load(open(p2.ckpt.manifest_path("conversations")))["run_id"] != p2.ckpt.run_id

    # Different scoring params -> scored_pairs and every stage downstream
    # of it recompute (serving entities built from the old scores would be
    # silent staleness), while the input-only stages still resume.
    p3 = EntityResolutionPipeline(spark, wh, keep_features=True)
    p3.run(transcripts)
    for stage in ["scored_pairs", "entities", "resolved_conversations"]:
        man3 = json.load(open(p3.ckpt.manifest_path(stage)))
        assert man3["run_id"] == p3.ckpt.run_id, f"{stage} served stale results"
        assert man3["params"]["keep_features"] is True
    conv3 = json.load(open(p3.ckpt.manifest_path("conversations")))
    assert conv3["run_id"] != p3.ckpt.run_id  # untouched by the scoring params


@pytest.mark.slow
def test_tfidf_sidecar_invalidates_on_input_change(spark, tmp_path):
    """The TF-IDF vocabulary sidecar must follow the same param-aware
    resume rule as the table stages: resuming an existing warehouse
    against a DIFFERENT transcripts table refits the vocabulary (and
    rescores), instead of silently serving the one fitted on the old
    corpus."""
    import json

    fx_a = str(tmp_path / "fxa")
    fx_b = str(tmp_path / "fxb")
    write_fixture(fx_a, n_entities=15, convs_per_entity=3, seed=7)
    write_fixture(fx_b, n_entities=15, convs_per_entity=3, seed=8)
    wh = str(tmp_path / "wh_tfidf")
    ta = spark.read.parquet(os.path.join(fx_a, "transcripts.parquet"))
    tb = spark.read.parquet(os.path.join(fx_b, "transcripts.parquet"))

    p1 = EntityResolutionPipeline(spark, wh)
    p1.run(ta)
    tfidf_path = os.path.join(wh, "tfidf.json")
    with open(tfidf_path) as f:
        vocab_a = f.read()
    with open(tfidf_path + ".meta") as f:
        meta_a = json.load(f)

    # Same input -> sidecar resumes (no refit timing recorded).
    p2 = EntityResolutionPipeline(spark, wh)
    p2.run(ta)
    assert "tfidf" not in p2.timings
    with open(tfidf_path) as f:
        assert f.read() == vocab_a

    # Different input -> refit: meta fingerprint changes, vocabulary
    # refitted, and scored_pairs recomputed under the new tfidf identity.
    p3 = EntityResolutionPipeline(spark, wh)
    p3.run(tb)
    assert "tfidf" in p3.timings
    with open(tfidf_path + ".meta") as f:
        meta_b = json.load(f)
    assert meta_b["input"] != meta_a["input"]
    man = json.load(open(p3.ckpt.manifest_path("scored_pairs")))
    assert man["run_id"] == p3.ckpt.run_id
    assert man["params"]["tfidf"] == meta_b


def test_pipeline_tfidf_fit_failure_stops_the_run(spark, tmp_path, monkeypatch):
    """A TF-IDF fit that raises must make run() raise with its message,
    and no stage after the fit (candidate_pairs onward) may write a
    manifest: the run is one thread, so nothing keeps going past it."""
    from name_matching_spark.functions.tfidf import TfidfModel

    def failing_fit(*args, **kwargs):
        raise RuntimeError("tfidf fit exploded")

    monkeypatch.setattr(TfidfModel, "fit_spark", staticmethod(failing_fit))
    fixture = str(tmp_path / "fx_fail")
    write_fixture(fixture, n_entities=5, convs_per_entity=2, seed=3)
    transcripts = spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    pipe = EntityResolutionPipeline(spark, str(tmp_path / "wh_fail"))
    with pytest.raises(RuntimeError, match="tfidf fit exploded"):
        pipe.run(transcripts)
    assert pipe.ckpt.is_complete("names")
    for stage in ["candidate_pairs", "block_metrics", "scored_pairs",
                  "entities", "resolved_conversations"]:
        assert not pipe.ckpt.is_complete(stage), stage


def test_pipeline_empty_input(spark, tmp_path):
    """Degenerate inputs must flow through every stage without raising:
    an empty transcript table yields empty entities/resolved tables (the
    empty-partition day-one case, not an exotic one at 10^12-row scale)."""
    empty = spark.createDataFrame(
        [],
        "conv_id string, turn_idx int, role string, text string, "
        "tool string, ts timestamp",
    )
    stages = EntityResolutionPipeline(spark, str(tmp_path / "wh_empty")).run(empty)
    assert stages["entities"].count() == 0
    assert stages["resolved_conversations"].count() == 0


def test_embedding_channel_scorer_or_rule(spark):
    """Pre-computed embedding channel (the reference's F7 sentence-vector
    slot, build_features.py:89-116): a zero-lexical-overlap alias pair
    whose vectors agree crosses the decision threshold via the native
    cosine OR-rule; without the columns the output is unchanged."""
    model, tfidf = load_artifacts()
    va = [1.0, 0.0, 0.5]
    vb = [0.99, 0.01, 0.52]          # cosine(va, vb) ~ 0.9996
    vc = [-0.2, 1.0, -0.6]           # far from va
    rows = [
        ("IBM", "INTERNATIONAL BUSINESS MACHINES", va, vb),
        ("IBM", "APEX LOGISTICS", va, vc),
        ("IBM", "NO VECTOR CORP", va, None),
    ]
    pairs = spark.createDataFrame(
        rows, "name_x string, name_y string, emb_x array<double>, emb_y array<double>"
    )
    scored = {
        (r["name_x"], r["name_y"]): (
            r["prediction"], r["emb_cosine"], r["probability"], r["margin"]
        )
        for r in score_pairs(pairs, model.to_json(), tfidf.to_json()).collect()
    }
    pred, cos, prob, margin = scored[("IBM", "INTERNATIONAL BUSINESS MACHINES")]
    assert pred == 1 and cos > 0.99
    # The emb-verified match CARRIES its confidence: probability lifts to
    # the embedding cosine and margin to its logit, so the clustering
    # refinement ladder (which ranks by probability / raw margin) never
    # cuts a zero-lexical-overlap match at the first rung.
    assert prob >= 0.99, prob
    assert margin > 2.0, margin
    assert scored[("IBM", "APEX LOGISTICS")][0] == 0
    # a non-qualifying pair keeps its string probability untouched
    assert scored[("IBM", "APEX LOGISTICS")][2] <= 0.85
    assert scored[("IBM", "NO VECTOR CORP")][0] == 0  # NULL vec: string path
    # without the columns: byte-identical legacy behavior, no emb_cosine
    plain = score_pairs(
        pairs.select("name_x", "name_y"), model.to_json(), tfidf.to_json()
    )
    assert "emb_cosine" not in plain.columns
    assert all(r["prediction"] == 0 for r in plain.collect())


@pytest.mark.slow
def test_embedding_channel_end_to_end(spark, tmp_path):
    """Pipeline accepts an optional (name, embedding) table: semantic LSH
    candidates + the scorer OR-rule resolve two zero-overlap aliases into
    ONE entity; the same run without embeddings keeps them apart."""
    import datetime

    def conv(cid, alias, t0):
        return [
            (cid, 0, "user", f"I NEED HELP WITH A PAYMENT INVOLVING {alias}. OK", "", t0),
            (cid, 1, "tool", f'lookup_customer(name="{alias}") -> status=OK', "lookup_customer", t0),
        ]

    t0 = datetime.datetime(2026, 1, 1)
    rows = conv("c1", "IBM", t0) + conv("c2", "INTERNATIONAL BUSINESS MACHINES", t0) + conv(
        "c3", "APEX LOGISTICS", t0
    )
    transcripts = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    dim = 8
    base = [1.0, 0.2, -0.3, 0.7, 0.0, 0.5, -0.1, 0.9]
    other = [-0.6, 1.0, 0.4, -0.2, 0.8, -0.5, 0.3, 0.1]
    emb = spark.createDataFrame(
        [
            ("IBM", base),
            ("INTERNATIONAL BUSINESS MACHINES", [v + 0.01 for v in base]),
            ("APEX LOGISTICS", other),
        ],
        "name string, embedding array<double>",
    )
    with_emb = EntityResolutionPipeline(spark, str(tmp_path / "wh_e")).run(
        transcripts, embeddings=emb
    )
    keys = {
        r["conv_id"]: r["name_entity_key"]
        for r in with_emb["resolved_conversations"].collect()
    }
    assert keys["c1"] == keys["c2"], "semantic aliases must co-resolve"
    assert keys["c1"] != keys["c3"]
    without = EntityResolutionPipeline(spark, str(tmp_path / "wh_p")).run(transcripts)
    keys0 = {
        r["conv_id"]: r["name_entity_key"]
        for r in without["resolved_conversations"].collect()
    }
    assert keys0["c1"] != keys0["c2"]
