"""Connected components + entity assignment semantics."""

import math

import pytest
from pyspark.sql import functions as F

from name_matching_spark.operators import clustering
from name_matching_spark.operators.clustering import connected_components
from name_matching_spark.operators.louvain import louvain_communities
from name_matching_spark.operators.resolve import entity_table, resolve_records


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["name"]: r["component"] for r in connected_components(df).collect()
    }


# The scorer's match frame, as pipeline.cluster_fn builds it.
MATCH_SCHEMA = (
    "src string, dst string, probability double, cosine_sim double, "
    "align_edit double, token_weakest_link double, margin double"
)


def _matches(spark, rows):
    """A match frame from ``(src, dst, probability, *rest)`` rows whose
    missing trailing columns take inert values: cosine_sim 1.0 and
    align_edit 0 pass the evidence rung, token_weakest_link 0.5 marks no
    subsumption edge, and margin is logit(probability), so a margin rung
    or tie-break decides as the probability does."""
    inert = (1.0, 0.0, 0.5)
    full = []
    for src, dst, p, *rest in rows:
        rest = [*rest, *inert[len(rest):]]
        if len(rest) == 3:
            rest.append(math.log(p / (1 - p)))
        full.append((src, dst, float(p), *map(float, rest)))
    return spark.createDataFrame(full, MATCH_SCHEMA)


def test_cc_two_components(spark):
    comp = _cc(spark, [("a", "b"), ("b", "c"), ("x", "y")])
    assert comp["a"] == comp["b"] == comp["c"] == "a"
    assert comp["x"] == comp["y"] == "x"


def test_cc_long_chain(spark):
    # chain of 12 nodes: exercises multi-iteration label propagation
    edges = [(f"n{i:02d}", f"n{i + 1:02d}") for i in range(12)]
    comp = _cc(spark, edges)
    assert set(comp.values()) == {"n00"}


def test_cc_partitioning_invariant(spark):
    edges = [("a", "b"), ("c", "b"), ("d", "e"), ("e", "a"), ("p", "q")]
    df1 = spark.createDataFrame(edges, ["src", "dst"]).repartition(7)
    df2 = spark.createDataFrame(list(reversed(edges)), ["src", "dst"]).repartition(2)
    c1 = {r["name"]: r["component"] for r in connected_components(df1).collect()}
    c2 = {r["name"]: r["component"] for r in connected_components(df2).collect()}
    assert c1 == c2


def test_entity_table_singletons_and_longest_name(spark):
    comps = connected_components(
        spark.createDataFrame([("JOHN WICK", "JONATHAN WICK")], ["src", "dst"])
    )
    all_names = spark.createDataFrame(
        [("JOHN WICK",), ("JONATHAN WICK",), ("HELEN WICK",)], ["name"]
    )
    ents = {r["name"]: r for r in entity_table(comps, all_names).collect()}
    # longest member is the canonical resolved name
    assert ents["JOHN WICK"]["resolved_name"] == "JONATHAN WICK"
    assert ents["JONATHAN WICK"]["resolved_name"] == "JONATHAN WICK"
    # singleton resolves to itself with its own key
    assert ents["HELEN WICK"]["resolved_name"] == "HELEN WICK"
    assert ents["HELEN WICK"]["entity_key"] == "HELEN WICK"
    # same cluster -> same entity id
    assert ents["JOHN WICK"]["entity_id"] == ents["JONATHAN WICK"]["entity_id"]


def test_longest_name_lexicographic_tiebreak(spark):
    comps = connected_components(
        spark.createDataFrame([("AAA X", "ZZZ X")], ["src", "dst"])
    )
    all_names = spark.createDataFrame([("AAA X",), ("ZZZ X",)], ["name"])
    ents = entity_table(comps, all_names).collect()
    # equal lengths: deterministic lexicographically-larger winner
    assert all(r["resolved_name"] == "ZZZ X" for r in ents)


def test_resolve_records_broadcast_join(spark):
    comps = connected_components(
        spark.createDataFrame([("A B", "A BC")], ["src", "dst"])
    )
    names = spark.createDataFrame([("A B",), ("A BC",)], ["name"])
    ents = entity_table(comps, names)
    recs = spark.createDataFrame([("r1", "A B"), ("r2", "MISSING")], ["id", "nm"])
    out = {r["id"]: r for r in resolve_records(recs, ents, ["nm"]).collect()}
    assert out["r1"]["nm_resolved"] == "A BC"
    # unknown name falls back to itself (singleton rule)
    assert out["r2"]["nm_resolved"] == "MISSING"
    assert out["r2"]["nm_entity_key"] == "MISSING"


def test_cc_shuffled_chains_and_clique(spark):
    """Five 12-node chains, a 6-clique and an isolated pair, in shuffled
    row order: each component takes its minimum member as label."""
    import random

    rng = random.Random(17)
    edges = []
    for c in range(5):
        base = [f"c{c}n{i:02d}" for i in range(12)]
        edges += list(zip(base, base[1:]))
    clique = [f"k{i}" for i in range(6)]
    edges += [(a, b) for a in clique for b in clique if a < b]
    edges += [("solo_a", "solo_b")]
    rng.shuffle(edges)
    comp = _cc(spark, edges)
    assert comp["c3n11"] == "c3n00"
    assert comp["k5"] == "k0"
    assert comp["solo_b"] == "solo_a"
    assert len(set(comp.values())) == 7


def test_labels_frame_is_one_partition(spark):
    """A driver label list becomes a one-partition frame: fanning a few
    hundred rows out to ``defaultParallelism`` partitions only adds tasks
    to every stage that reads the labels."""
    from pyspark.sql.types import StringType

    from name_matching_spark.operators.clustering import labels_frame

    labels = [(f"n{i:03d}", "n000") for i in range(600)]
    frame = labels_frame(spark, labels, StringType())
    assert frame.rdd.getNumPartitions() == 1
    assert sorted(tuple(r) for r in frame.collect()) == labels


@pytest.mark.parametrize(
    "fn",
    [
        connected_components,
        louvain_communities,
        clustering.refined_components,
        clustering.subsumption_aware_components,
    ],
    ids=lambda fn: fn.__name__,
)
def test_clustering_raises_above_max_edges(spark, monkeypatch, fn):
    """Every clusterer collects its edge frame to the driver under one
    ceiling, ``MAX_EDGES``: a graph above it raises ``ValueError`` naming
    its edge count and the bound, and a graph exactly at it clusters."""
    monkeypatch.setattr(clustering, "MAX_EDGES", 6)
    clique = [(f"n{i}", f"n{j}", 0.99) for i in range(4) for j in range(i + 1, 4)]
    above = _matches(spark, clique + [("n3", "n4", 0.99)])
    with pytest.raises(ValueError, match=r"7 edges.*MAX_EDGES = 6"):
        fn(above)
    at_ceiling = {
        r["name"]: r["component"]
        for r in fn(_matches(spark, clique)).collect()
    }
    assert at_ceiling == {f"n{i}": "n0" for i in range(4)}


@pytest.mark.parametrize("fn", ["refined_components", "subsumption_aware_components"])
def test_clustering_rejects_descending_ladder(spark, fn):
    """A descending ladder would re-merge what an earlier rung split; both
    operators refuse it with ``ValueError``."""
    import name_matching_spark.operators.clustering as clustering_mod

    m = spark.createDataFrame(
        [
            ("X Y", "X Z", 0.97, 0.5, 2.0, 1.0, 3.5),
            ("A B", "A C", 0.95, 0.5, 0.0, 0.9, 3.0),
        ],
        "src string, dst string, probability double, cosine_sim double, "
        "align_edit double, token_weakest_link double, margin double",
    )
    with pytest.raises(ValueError, match="ascend"):
        getattr(clustering_mod, fn)(m, ladder=(0.99, 0.90)).collect()


def test_refined_components_splits_weak_bridges(spark):
    """Threshold-ladder refinement: an over-cap component is re-clustered
    on its strong internal edges; weakly-bridged groups split, members
    with no strong edge become singletons, under-cap components are
    untouched (byte-identical to plain CC)."""
    from name_matching_spark.operators.clustering import refined_components

    rows = [
        # strong clique E-F-G ... weak bridge ... strong pair H-I
        ("E", "F", 0.99),
        ("F", "G", 0.99),
        ("G", "H", 0.86),
        ("H", "I", 0.99),
        # weak chain A-B-C-D (over the cap): splits entirely into singletons
        ("A", "B", 0.86),
        ("B", "C", 0.86),
        ("C", "D", 0.86),
        # small strong pair, under the cap: untouched
        ("X", "Y", 0.99),
    ]
    m = _matches(spark, rows)
    out = {
        r["name"]: r["component"]
        for r in refined_components(m, max_component=3, ladder=(0.90,)).collect()
    }
    assert out["E"] == out["F"] == out["G"] == "E"
    assert out["H"] == out["I"] == "H"
    assert all(out[n] == n for n in "ABCD")  # singletons
    assert out["X"] == out["Y"] == "X"
    # with no cap pressure the result equals plain connected_components
    all_cc = {
        r["name"]: r["component"]
        for r in refined_components(m, max_component=100, ladder=(0.90,)).collect()
    }
    plain = {
        r["name"]: r["component"]
        for r in connected_components(m.select("src", "dst")).collect()
    }
    assert all_cc == plain


def test_subsumption_aware_hub_chain_and_isolated_family(spark):
    """subsumption_aware_components (split + refine + attach rounds +
    residual) on a graph mixing glue cliques, a subsumption hub whose best
    partners differ, chained subsumed forms, and an isolated
    all-subsumption family."""
    import random

    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
    )

    rng = random.Random(23)
    rows = []

    def glue(a, b, p):
        rows.append((a, b, p, 0.5, 0.0, 0.9))  # align 0 -> glue

    def sub(a, b, p):
        rows.append((a, b, p, 0.0, 4.0, 1.0))  # twl 1, align 4 -> subsume

    # two glue cliques
    A = [f"A{i}" for i in range(5)]
    B = [f"B{i}" for i in range(5)]
    for grp in (A, B):
        for i in range(len(grp)):
            for j in range(i + 1, len(grp)):
                glue(grp[i], grp[j], 0.96 + 0.04 * rng.random())
    # hub: subsumption edges into BOTH cliques (must attach, never weld)
    sub("HUB", A[0], 0.99)
    sub("HUB", B[0], 0.98)
    # chain: C2 -> C1 -> A2 (rounds must resolve the chain)
    sub("C1", A[2], 0.97)
    sub("C2", "C1", 0.96)
    # isolated all-subsumption family (no glue partner anywhere)
    sub("ISO1", "ISO2", 0.95)
    sub("ISO2", "ISO3", 0.94)
    m = _matches(spark, rows)
    kw = dict(max_component=12, ladder=(0.90, 0.95), evidence_min_size=None)
    fast = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, **kw).collect()
    }
    # hub attached to exactly one clique (its higher-prob partner's)
    assert fast["HUB"] == fast[A[0]]
    assert fast[A[0]] != fast[B[0]]
    # chain resolved into A's cluster
    assert fast["C2"] == fast["C1"] == fast[A[2]]
    # isolated family clustered together, not singletons
    assert fast["ISO1"] == fast["ISO2"] == fast["ISO3"]


def test_refined_components_evidence_min_size(spark):
    """``evidence_min_size`` lowers the bound at which the EVIDENCE rung
    applies: below it (None = the ladder cap) small mixed clusters glued
    by evidence-free edges never face any rung.  With the bound at 2, a
    3-name component keeps only evidence-carrying edges; 2-name
    components stay untouched; None leaves all of them to plain CC."""
    from name_matching_spark.operators.clustering import refined_components

    rows = [
        # A-B: evidence (shared informative token); B-C: evidence-free
        # high-prob glue (the measured FP shape) -> C splits off at ems=2
        ("A", "B", 0.97, 0.40, 0.0),
        ("B", "C", 0.96, 0.00, 5.0),
        # 2-name evidence-free component: at or below the bound, untouched
        ("X", "Y", 0.95, 0.00, 4.0),
    ]
    m = _matches(spark, rows)
    kw = dict(max_component=10, ladder=(0.92,))
    dflt = {
        r["name"]: r["component"]
        for r in refined_components(m, evidence_min_size=None, **kw).collect()
    }
    # None: every component is under the cap -> plain CC, no rung runs
    assert dflt["A"] == dflt["B"] == dflt["C"] == "A"
    assert dflt["X"] == dflt["Y"] == "X"
    ems = {
        r["name"]: r["component"]
        for r in refined_components(m, evidence_min_size=2, **kw).collect()
    }
    assert ems["A"] == ems["B"] == "A"
    assert ems["C"] == "C"  # evidence-free edge pruned -> singleton
    assert ems["X"] == ems["Y"] == "X"  # size 2 never faces the rung


def test_singleton_reattach_unanimous_evidence(spark):
    """A name every refinement rung isolated (glue singleton) re-attaches
    through its subsumption edges ONLY when every evidence-bearing edge to
    an anchored partner points at one component: unanimity attaches S,
    ambiguity (U: evidence into two cliques) and evidence-free edges (T)
    stay singletons."""
    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
    )

    rows = []

    def glue(a, b, p, cos=0.5, al=0.0):
        rows.append((a, b, p, cos, al, 0.9))

    def sub(a, b, p, cos, al):
        rows.append((a, b, p, cos, al, 1.0))

    A = [f"A{i}" for i in range(3)]
    B = [f"B{i}" for i in range(3)]
    for grp in (A, B):
        for i in range(len(grp)):
            for j in range(i + 1, len(grp)):
                glue(grp[i], grp[j], 0.97)
    # evidence-free glue web S-T-U: with evidence_min_size=2 the rung
    # prunes every edge -> three singletons
    glue("S", "T", 0.96, cos=0.0, al=5.0)
    glue("T", "U", 0.96, cos=0.0, al=5.0)
    # S: evidence-bearing sub edges, both into clique A -> unanimous
    sub("S", A[0], 0.99, 0.4, 2.0)
    sub("S", A[1], 0.93, 0.4, 2.0)
    # U: evidence-bearing sub edges into BOTH cliques -> ambiguous
    sub("U", A[0], 0.99, 0.4, 2.0)
    sub("U", B[0], 0.98, 0.4, 2.0)
    # T: only an evidence-free sub edge -> no votes at all
    sub("T", A[0], 0.99, 0.0, 3.0)
    m = _matches(spark, rows)
    kw = dict(max_component=12, ladder=(0.90,), evidence_min_size=2)
    fast = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, **kw).collect()
    }
    assert fast["S"] == fast["A0"] == fast["A1"] == fast["A2"]
    assert fast["B0"] == fast["B1"] == fast["B2"] != fast["A0"]
    assert fast["T"] == "T" and fast["U"] == "U"


def test_singleton_vote_glue_reattach(spark):
    """A glue singleton isolated by a rung may re-attach via its
    evidence-bearing GLUE edges — unanimity over the union of sub + glue
    evidence edges; conflicting targets still abstain."""
    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
    )

    rows = []
    # anchored cliques A and B (strong glue, margin above every rung)
    for grp in ("A", "B"):
        for i in range(3):
            for j in range(i + 1, 3):
                rows.append((f"{grp}{i}", f"{grp}{j}", 1.0, 0.5, 0.0, 0.9, 20.0))
    # S: margin rung isolates it (margin 7 < logit(0.9999)=9.21) but both
    # its glue edges carry near-exact evidence (align<=1) into clique A
    rows.append(("A0", "S", 0.999, 0.0, 1.0, 0.9, 7.0))
    rows.append(("A1", "S", 0.999, 0.0, 1.0, 0.9, 7.0))
    # V: same shape but evidence edges point into BOTH cliques -> abstain
    rows.append(("A0", "V", 0.999, 0.0, 1.0, 0.9, 7.0))
    rows.append(("B0", "V", 0.999, 0.0, 1.0, 0.9, 7.0))
    # W: isolated with an evidence-FREE glue edge only -> no vote
    rows.append(("A0", "W", 0.999, 0.0, 4.0, 0.9, 7.0))
    # Y: ONE evidence-bearing glue edge into B — below the min-vote rule
    # (glue-only votes need >= 2 distinct anchored partners) -> abstain
    rows.append(("B1", "Y", 0.999, 0.0, 1.0, 0.9, 7.0))
    m = spark.createDataFrame(
        rows,
        "src string, dst string, probability double, cosine_sim double, "
        "align_edit double, token_weakest_link double, margin double",
    )
    kw = dict(
        max_component=3,
        ladder=(0.92, 0.96, 0.99, 0.995, 0.999, 0.9999, 0.99999),
        evidence_min_size=2,
    )
    fast = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, **kw).collect()
    }
    assert fast["A0"] == fast["A1"] == fast["A2"]
    assert fast["B0"] == fast["B1"] == fast["B2"] != fast["A0"]
    assert fast["V"] == "V" and fast["W"] == "W"
    assert fast["Y"] == "Y"
    assert fast["S"] == fast["A0"]


def test_absent_attach_vote(spark):
    """A comp-absent floater attaches to the component of its single
    best-probability anchored partner, even when another component holds
    more of its partners."""
    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
    )

    rows = []
    for grp in ("A", "B"):
        for i in range(3):
            for j in range(i + 1, 3):
                rows.append((f"{grp}{i}", f"{grp}{j}", 1.0, 0.5, 0.0, 0.9, 20.0))
    # floater F: ONE max-prob sub edge into A, TWO sub edges into B
    rows.append(("F", "A0", 1.0, 0.0, 4.0, 1.0, 9.0))
    rows.append(("F", "B0", 0.99, 0.0, 4.0, 1.0, 8.0))
    rows.append(("F", "B1", 0.99, 0.0, 4.0, 1.0, 8.0))
    # floater G: a single edge
    rows.append(("G", "A1", 0.98, 0.0, 4.0, 1.0, 7.0))
    m = spark.createDataFrame(
        rows,
        "src string, dst string, probability double, cosine_sim double, "
        "align_edit double, token_weakest_link double, margin double",
    )
    kw = dict(max_component=6, ladder=(0.90, 0.95), evidence_min_size=None)
    fast = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, **kw).collect()
    }
    assert fast["F"] == fast["A0"]
    assert fast["G"] == fast["A1"]


@pytest.mark.slow
def test_subsumption_aware_at_shipped_settings(spark, tmp_path):
    """The clusterer, fed the scored matches of a 60-entity fixture at the
    shipped settings (no configuration arguments, as the pipeline calls
    it), labels exactly the nodes of the match edges, refines away from
    plain connected components, and gives the same labels whatever order
    the match rows arrive in.

    At this scale the graph reaches the evidence rung, the
    subsumption-edge singleton vote and the residual families.  It does
    not reach the glue-edge vote and its min-vote rule, the comp-absent
    margin tie-break, the margin rungs or Louvain: the hand-built tests
    above cover those."""
    import os

    from name_matching_spark.datagen import write_fixture
    from name_matching_spark.operators.clustering import (
        _is_sub_row,
        subsumption_aware_components,
    )
    from name_matching_spark.pipeline import EntityResolutionPipeline

    fixture = str(tmp_path / "fx_shipped")
    write_fixture(fixture, n_entities=60, convs_per_entity=4, seed=123)
    pipe = EntityResolutionPipeline(spark, str(tmp_path / "wh_shipped"))
    stages = pipe.run(
        spark.read.parquet(os.path.join(fixture, "transcripts.parquet"))
    )
    m = stages["scored_pairs"].where(F.col("prediction") == 1).select(
        F.col("name_x").alias("src"),
        F.col("name_y").alias("dst"),
        "probability",
        "cosine_sim",
        "align_edit",
        "token_weakest_link",
        "margin",
    )
    # the fixture exercises both edge kinds
    kinds = {
        _is_sub_row(r["token_weakest_link"], r["align_edit"]) for r in m.collect()
    }
    assert kinds == {True, False}

    def labels(df):
        return {r["name"]: r["component"] for r in df.collect()}

    got = labels(subsumption_aware_components(m))
    # the pipeline's components view (entities of the matched names)
    # relies on the clusterer labelling exactly the nodes of the edges
    nodes = {n for r in m.select("src", "dst").collect() for n in r}
    assert set(got) == nodes
    # refinement and attachment changed something: not plain CC
    assert got != labels(connected_components(m.select("src", "dst")))
    reordered = m.orderBy(F.col("dst").desc(), F.col("src").desc())
    assert labels(subsumption_aware_components(reordered)) == got


@pytest.mark.parametrize(
    "retired",
    [
        {"absent_attach": "vote"},
        {"singleton_attach": False},
        {"singleton_vote_glue": False},
        {"final_louvain": False},
        {"evidence_rung": False},
        {"prob_col": "p"},
        {"evidence_min_cosine": 0.1},
        {"attach_rounds": 1},
        {"driver_max_edges": 1_000_000},
        {"louvain_max_edges": 1_000_000},
    ],
)
def test_subsumption_aware_rejects_retired_options(spark, retired):
    """A retired experiment or size option fails with ``TypeError``
    instead of being silently ignored."""
    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
    )

    m = spark.createDataFrame(
        [("A", "B", 0.9, 0.5, 2, 0.5, 0.1)],
        "src string, dst string, probability double, cosine_sim double, "
        "align_edit int, token_weakest_link double, margin double",
    )
    with pytest.raises(TypeError):
        subsumption_aware_components(m, **retired)
