"""Louvain option: agreement with CC on alias-shaped graphs, the
documented divergence on weakly-joined cliques, golden-cluster parity."""

import os
from collections import defaultdict

from pyspark.sql import functions as F

from name_matching_spark.operators.clustering import connected_components
from name_matching_spark.operators.louvain import louvain_communities, louvain_driver

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _clusters(rows):
    out = defaultdict(set)
    for r in rows:
        out[r["component"]].add(r["name"])
    return sorted((frozenset(v) for v in out.values()), key=lambda s: sorted(s)[0])


def test_louvain_matches_cc_on_alias_cliques(spark):
    # near-clique alias groups (the threshold-0.85 match-graph shape)
    edges = []
    for g in range(6):
        members = [f"g{g}x{i}" for i in range(5)]
        edges += [(a, b) for a in members for b in members if a < b]
    df = spark.createDataFrame(edges, ["src", "dst"])
    assert _clusters(louvain_communities(df).collect()) == _clusters(
        connected_components(df).collect()
    )


def test_louvain_splits_weakly_joined_cliques():
    # two 6-cliques joined by ONE edge: CC merges them; Louvain's
    # modularity objective keeps them apart — the semantic difference vs
    # transitive clustering, documented.
    a = [f"a{i}" for i in range(6)]
    b = [f"b{i}" for i in range(6)]
    edges = [(x, y) for x in a for y in a if x < y]
    edges += [(x, y) for x in b for y in b if x < y]
    edges += [("a0", "b0")]
    labels = louvain_driver(edges)
    comms = defaultdict(set)
    for node, c in labels.items():
        comms[c].add(node)
    assert sorted(map(sorted, comms.values())) == [sorted(a), sorted(b)]


def test_louvain_deterministic():
    edges = [("a", "b"), ("b", "c"), ("c", "a"), ("d", "e"), ("e", "f"), ("f", "d"), ("c", "d")]
    assert louvain_driver(edges) == louvain_driver(list(reversed(edges)))


def test_louvain_golden_txns_parity(spark):
    """The reference clusters the txn fixture with louvain_communities;
    our Louvain must reproduce the same four entity groups."""
    from name_matching_spark.functions.normalize import normalize_text_col
    from name_matching_spark.model.train import load_artifacts
    from name_matching_spark.operators.blocking import candidate_pairs
    from name_matching_spark.operators.scoring import score_pairs

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
    comps = louvain_communities(
        scored.where("prediction = 1").selectExpr("name_x as src", "name_y as dst")
    )
    got = _clusters(comps.collect())
    want = sorted(
        (
            frozenset({"JOHN WICK", "JONATHAN WICK", "JON WHICK", "J WICK"}),
            frozenset({"CONTINENTAL HOTEL", "HOTEL CONTINENTAL", "HOTEL CONT L"}),
            frozenset({"WINSTON SCOTT", "W SCOTT", "WIN SCOTT", "SCOTT WINSTON"}),
        ),
        key=lambda s: sorted(s)[0],
    )
    assert got == want


def test_louvain_raises_above_max_edges(spark, monkeypatch):
    """Louvain counts the deduplicated undirected edges against the
    clustering ceiling: a 15-edge clique, listed in both directions, runs
    at ``MAX_EDGES`` 15 and raises ``ValueError`` at 14, never truncating
    the graph."""
    import pytest

    import name_matching_spark.operators.clustering as clustering_mod

    m = [f"n{i}" for i in range(6)]
    edges = [(a, b) for a in m for b in m if a != b]  # one clique, 30 rows
    df = spark.createDataFrame(edges, ["src", "dst"])
    monkeypatch.setattr(clustering_mod, "MAX_EDGES", 15)
    assert _clusters(louvain_communities(df).collect()) == [frozenset(m)]
    monkeypatch.setattr(clustering_mod, "MAX_EDGES", 14)
    with pytest.raises(ValueError, match=r"15 edges.*MAX_EDGES = 14"):
        louvain_communities(df)
