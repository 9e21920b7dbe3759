"""Connected components + entity assignment semantics."""

import pytest
from pyspark.sql import functions as F

from name_matching_spark.operators.clustering import connected_components
from name_matching_spark.operators.resolve import entity_table, resolve_records


def _cc(spark, edges):
    df = spark.createDataFrame(edges, ["src", "dst"])
    return {
        r["name"]: r["component"] for r in connected_components(df).collect()
    }


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


def test_cc_distributed_star_matches_driver_union_find(spark):
    """The size-gated driver fast path and the distributed star alternation
    must label identically (driver_max_edges=0 forces the star path)."""
    import random

    rng = random.Random(17)
    edges = []
    # several chains + a clique + isolated pair
    for c in range(5):
        base = [f"c{c}n{i:02d}" for i in range(12)]
        edges += list(zip(base, base[1:]))
    clique = [f"k{i}" for i in range(6)]
    edges += [(a, b) for a in clique for b in clique if a < b]
    edges += [("solo_a", "solo_b")]
    rng.shuffle(edges)
    df = spark.createDataFrame(edges, ["src", "dst"])
    driver = {
        r["name"]: r["component"] for r in connected_components(df).collect()
    }
    star = {
        r["name"]: r["component"]
        for r in connected_components(df, driver_max_edges=0).collect()
    }
    assert driver == star
    assert driver["c3n11"] == "c3n00"
    assert star["k5"] == "k0"


def test_cc_star_rounds_then_driver_handoff(spark, monkeypatch):
    """With ``0 < driver_max_edges < edges`` the star alternation runs at
    least one round, then hands the contracted graph to the driver's
    union-find; the labels equal the driver-only run."""
    import name_matching_spark.operators.clustering as clustering_mod

    nodes = [f"n{i:02d}" for i in range(40)]
    # a chain with chords: 114 edges, which contract toward a 39-edge star
    edges = [
        (nodes[i], nodes[j]) for i in range(40) for j in range(i + 1, min(i + 4, 40))
    ]
    df = spark.createDataFrame(edges, ["src", "dst"])
    driver = {r["name"]: r["component"] for r in connected_components(df).collect()}
    calls = {"rounds": 0, "union_find": 0}
    small_star = clustering_mod._small_star
    union_find = clustering_mod._driver_union_find

    def counting_small_star(e):
        calls["rounds"] += 1
        return small_star(e)

    def counting_union_find(rows):
        calls["union_find"] += 1
        return union_find(rows)

    monkeypatch.setattr(clustering_mod, "_small_star", counting_small_star)
    monkeypatch.setattr(clustering_mod, "_driver_union_find", counting_union_find)
    handoff = {
        r["name"]: r["component"]
        for r in connected_components(df, driver_max_edges=60).collect()
    }
    assert calls["rounds"] >= 1 and calls["union_find"] == 1, calls
    assert handoff == driver
    assert set(driver.values()) == {"n00"}


@pytest.mark.parametrize("driver_max_edges", [1_000_000, 0], ids=["driver", "distributed"])
@pytest.mark.parametrize("fn", ["refined_components", "subsumption_aware_components"])
def test_clustering_rejects_descending_ladder(spark, fn, driver_max_edges):
    """A descending ladder would re-merge what an earlier rung split; both
    operators refuse it with ``ValueError`` on either path."""
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
        getattr(clustering_mod, fn)(
            m, ladder=(0.99, 0.90), driver_max_edges=driver_max_edges
        ).collect()


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
    m = spark.createDataFrame(rows, ["src", "dst", "probability"])
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


def test_refined_components_driver_matches_distributed(spark):
    """The size-gated driver fast path must produce byte-identical labels
    to the distributed refinement on the same randomized graph."""
    import random

    from name_matching_spark.operators.clustering import refined_components

    rng = random.Random(17)
    nodes = [f"N{i:03d}" for i in range(120)]
    rows = []
    # dense strong cliques with weak bridges between them, plus noise
    for c in range(6):
        block = nodes[c * 20 : (c + 1) * 20]
        for i in range(len(block)):
            for j in range(i + 1, min(i + 4, len(block))):
                rows.append((block[i], block[j], 0.97 + 0.03 * rng.random()))
        if c:
            rows.append((nodes[c * 20 - 1], nodes[c * 20], 0.86))
    for _ in range(60):
        a, b = rng.sample(nodes, 2)
        rows.append((min(a, b), max(a, b), 0.85 + 0.14 * rng.random()))
    m = spark.createDataFrame(rows, ["src", "dst", "probability"])
    kw = dict(max_component=25, ladder=(0.90, 0.95))
    fast = {
        r["name"]: r["component"] for r in refined_components(m, **kw).collect()
    }
    dist = {
        r["name"]: r["component"]
        for r in refined_components(m, driver_max_edges=0, **kw).collect()
    }
    assert fast == dist


def test_refined_components_oversized_web_kept_not_raised(spark):
    """A residual component whose internal edge count exceeds the Louvain
    gate keeps its ladder labels — the guard must never raise from inside
    louvain_communities' per-component limit — identically on the driver
    and distributed paths."""
    from name_matching_spark.operators.clustering import refined_components

    clique = [f"W{i:02d}" for i in range(30)]
    rows = [(a, b, 0.99) for i, a in enumerate(clique) for b in clique[i + 1 :]]
    m = spark.createDataFrame(rows, ["src", "dst", "probability"])
    kw = dict(max_component=10, ladder=(0.95,), louvain_max_edges=100)
    fast = {r["name"]: r["component"] for r in refined_components(m, **kw).collect()}
    dist = {
        r["name"]: r["component"]
        for r in refined_components(m, driver_max_edges=0, **kw).collect()
    }
    # 435 internal edges > gate 100: the web is kept intact under "W00"
    assert fast == dist
    assert set(fast.values()) == {"W00"} and len(fast) == 30


def test_subsumption_aware_driver_matches_distributed(spark):
    """subsumption_aware_components: the driver fast path (split + refine
    + attach rounds + residual) must label identically to the distributed
    composition on a graph mixing glue cliques, subsumption hubs whose
    best partners differ, chained subsumed forms, and an isolated
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
    m = spark.createDataFrame(
        rows,
        "src string, dst string, probability double, cosine_sim double, "
        "align_edit double, token_weakest_link double",
    )
    kw = dict(max_component=12, ladder=(0.90, 0.95), evidence_min_size=None)
    fast = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, **kw).collect()
    }
    dist = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, driver_max_edges=0, **kw).collect()
    }
    assert fast == dist
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
    components stay untouched; None leaves all of them to plain CC.  Driver and distributed paths must agree."""
    from name_matching_spark.operators.clustering import refined_components

    rows = [
        # A-B: evidence (shared informative token); B-C: evidence-free
        # high-prob glue (the measured FP shape) -> C splits off at ems=2
        ("A", "B", 0.97, 0.40, 0.0),
        ("B", "C", 0.96, 0.00, 5.0),
        # 2-name evidence-free component: at or below the bound, untouched
        ("X", "Y", 0.95, 0.00, 4.0),
    ]
    m = spark.createDataFrame(
        rows, ["src", "dst", "probability", "cosine_sim", "align_edit"]
    )
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
    dist = {
        r["name"]: r["component"]
        for r in refined_components(
            m, evidence_min_size=2, driver_max_edges=0, **kw
        ).collect()
    }
    assert dist == ems


def test_singleton_reattach_unanimous_evidence(spark):
    """A name every refinement rung isolated (glue singleton) re-attaches
    through its subsumption edges ONLY when every evidence-bearing edge to
    an anchored partner points at one component: unanimity attaches S,
    ambiguity (U: evidence into two cliques) and evidence-free edges (T)
    stay singletons.  Driver and distributed paths must agree."""
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
    m = spark.createDataFrame(
        rows,
        "src string, dst string, probability double, cosine_sim double, "
        "align_edit double, token_weakest_link double",
    )
    kw = dict(max_component=12, ladder=(0.90,), evidence_min_size=2)
    fast = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, **kw).collect()
    }
    dist = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(m, driver_max_edges=0, **kw).collect()
    }
    assert fast == dist
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
    dist = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(
            m, driver_max_edges=0, **kw
        ).collect()
    }
    assert fast == dist
    assert fast["A0"] == fast["A1"] == fast["A2"]
    assert fast["B0"] == fast["B1"] == fast["B2"] != fast["A0"]
    assert fast["V"] == "V" and fast["W"] == "W"
    assert fast["Y"] == "Y"
    assert fast["S"] == fast["A0"]


def test_absent_attach_vote(spark):
    """A comp-absent floater attaches to the component of its single
    best-probability anchored partner, even when another component holds
    more of its partners.  Driver and distributed paths must agree."""
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
    dist = {
        r["name"]: r["component"]
        for r in subsumption_aware_components(
            m, driver_max_edges=0, **kw
        ).collect()
    }
    assert fast == dist
    assert fast["F"] == fast["A0"]
    assert fast["G"] == fast["A1"]


@pytest.mark.slow
def test_subsumption_aware_twins_agree_at_shipped_settings(spark, tmp_path):
    """Both clustering twins, fed the scored matches of a 60-entity
    fixture at the shipped settings (no configuration arguments, as the
    pipeline calls them), must give the same labels.

    At this scale the graph reaches the evidence rung, the
    subsumption-edge singleton vote and the residual families.  It does
    not reach the glue-edge vote and its min-vote rule, the comp-absent
    margin tie-break, the margin rungs or Louvain: the hand-built parity
    tests above cover those."""
    import os

    from name_matching_spark.datagen import write_fixture
    from name_matching_spark.operators.clustering import (
        subsumption_aware_components,
        subsumption_edge_cond,
    )
    from name_matching_spark.pipeline import EntityResolutionPipeline

    fixture = str(tmp_path / "fx_twins")
    write_fixture(fixture, n_entities=60, convs_per_entity=4, seed=123)
    pipe = EntityResolutionPipeline(spark, str(tmp_path / "wh_twins"))
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
    assert m.where(subsumption_edge_cond()).count() > 0
    assert m.where(~subsumption_edge_cond()).count() > 0

    def labels(df):
        return {r["name"]: r["component"] for r in df.collect()}

    fast = labels(subsumption_aware_components(m))
    dist = labels(subsumption_aware_components(m, driver_max_edges=0))
    assert dist == fast
    # refinement and attachment changed something: not plain CC
    assert fast != labels(connected_components(m.select("src", "dst")))


@pytest.mark.parametrize(
    "retired",
    [
        {"absent_attach": "vote"},
        {"singleton_attach": False},
        {"singleton_vote_glue": False},
        {"final_louvain": False},
        {"evidence_rung": False},
    ],
)
def test_subsumption_aware_rejects_retired_options(spark, retired):
    """A retired experiment option fails on the driver path (a graph far
    under ``driver_max_edges``) just as on the distributed path, instead
    of being silently ignored."""
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
