"""Transitive clustering: distributed connected components.

Replaces the reference's in-memory NetworkX Louvain communities
(entity_resolution.py:255-288 in vietexob/name-matching) with the
large-star / small-star alternation of Kiveris et al., "Connected
Components in MapReduce and Beyond" (SoCC 2014) — the published
O(log n)-round algorithm — expressed in DataFrame ops.  Design notes:

* At the reference's decision threshold (0.85) the match graph is a sparse
  union of alias groups — near-cliques — so connected components and
  Louvain agree on the fixtures (verified by the golden cluster test), and
  CC is the semantics the north rule names ("transitive clustering").
* Labels are the **min name string** of the component: order-insensitive,
  deterministic across resumes and partitionings (no
  ``monotonically_increasing_id`` anywhere).
* Round structure: large-star hangs every node's larger neighbors onto its
  local minimum; small-star re-hangs the smaller neighbors.  Both preserve
  connectivity and strictly contract toward stars centered at each
  component's global minimum, reaching a fixed point in O(log n) rounds
  even on chain-shaped graphs (min-label propagation, the previous
  implementation here, needed O(diameter) rounds — 17 on the bipartite
  lineitem fixture).
* Each round is one ``localCheckpoint`` (lineage truncation) plus one
  small aggregation for the convergence checksum; on convergence the star
  property is verified exactly and a non-converged loop RAISES instead of
  silently returning split entities.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

# Evidence-rung defaults (shared with the pipeline's checkpoint params):
# an edge may glue an OVERSIZED component only if cosine_sim >= the min
# (a shared IDF-weighted informative token) or align_edit <= the max
# (near-exact string relation: typo / merge / designator variant).
EVIDENCE_MIN_COSINE = 0.05
EVIDENCE_MAX_ALIGN = 1.0

# The shipped refinement configuration: the defaults of
# refined_components and subsumption_aware_components, and the
# components-stage fingerprint in the pipeline.  Measured by the
# three-scale knob sweep (scripts/cluster_knob_sweep.py, BENCH/QUALITY.md):
# - LADDER ends in two margin rungs (above MARGIN_RUNG_MIN_PROB a rung
#   compares the GBM's raw margin against logit(t), because the 4dp
#   probability saturates there).  Pair F1 .852/.734/.763 at 10k/100k/300k
#   entities, against .851/.720/.704 for the 5-rung short ladder
#   (0.92 ... 0.999) with its best cap at each scale.
# - MAX_COMPONENT 4 (about one entity's alias fan-out) is the F1-best cap
#   under LADDER at all three scales (10k: beats 2,3,5,6; 100k: 3,5,6;
#   300k: 3,5,6,8,12,16).  Recall is cap-invariant: the attach recovers
#   what a tighter cap sheds, so the cap buys precision only.
# - EVIDENCE_MIN_SIZE 2 puts every multi-name component through the
#   evidence rung: the fixture-scale FP mass sits in small mixed clusters
#   glued by evidence-free 0.95-0.99 edges (10k F1 .793 -> .826, 100k
#   .704 -> .736 against applying the rung only at the cap).
LADDER = (0.92, 0.96, 0.99, 0.995, 0.999, 0.9999, 0.99999)
MAX_COMPONENT = 4
EVIDENCE_MIN_SIZE = 2

# Star-alternation rounds connected_components runs before it raises, and
# the attach passes attach_subsumed makes (a chain of subsumed forms
# resolves one link per pass).
MAX_CC_ROUNDS = 25
ATTACH_ROUNDS = 3


def _check_ladder(ladder) -> None:
    if list(ladder) != sorted(ladder):
        raise ValueError(
            "ladder must ascend: a descending rung would re-merge components "
            f"the previous rung split ({tuple(ladder)})"
        )


def _unpersist(frames, keep: DataFrame | None = None) -> None:
    """Release retired ``localCheckpoint`` frames, except ``keep``; a frame
    that cannot be released only holds executor storage until the session
    ends, so the error is ignored."""
    for df in frames:
        if df is not keep:
            try:
                df.unpersist()
            except Exception:
                pass


def _canon_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("lo"),
            F.greatest(F.col("src"), F.col("dst")).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .dropDuplicates(["lo", "hi"])
    )


def _large_star(e: DataFrame) -> DataFrame:
    """For every node u, connect each strictly-larger neighbor v to
    m(u) = min(neighbors(u) + {u})."""
    nbr = e.select(F.col("lo").alias("u"), F.col("hi").alias("v")).unionByName(
        e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    )
    mins = nbr.groupBy("u").agg(F.min("v").alias("mn"))
    m = F.least(F.col("u"), F.col("mn"))
    return (
        nbr.join(mins, "u")
        .where(F.col("v") > F.col("u"))
        .select(m.alias("lo"), F.col("v").alias("hi"))
        .dropDuplicates(["lo", "hi"])
    )


def _small_star(e: DataFrame) -> DataFrame:
    """For every node u, hang u and all of its smaller neighbors onto the
    smallest of them."""
    nbr = e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    mins = nbr.groupBy("u").agg(F.min("v").alias("mn"))
    rehung = (
        nbr.join(mins, "u")
        .where(F.col("v") != F.col("mn"))
        .select(F.col("mn").alias("lo"), F.col("v").alias("hi"))
    )
    centers = mins.select(F.col("mn").alias("lo"), F.col("u").alias("hi"))
    return rehung.unionByName(centers).dropDuplicates(["lo", "hi"])


def _checksum(e: DataFrame) -> tuple[int, int]:
    """(edge count, order-insensitive content hash) in one job; decimal sum
    so ANSI mode cannot overflow."""
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(
            F.sum(F.xxhash64("lo", "hi").cast("decimal(38,0)")), F.lit(0)
        ).alias("h"),
    ).collect()[0]
    return int(row["n"]), int(row["h"])


def _collect_bounded(df: DataFrame, max_rows: int):
    """Arrow-batched driver collect of at most ``max_rows`` rows, or None
    when the frame is bigger.  ONE job (limit max_rows+1 -> toPandas)
    replaces the previous probe-count + row-at-a-time ``toLocalIterator``
    pair (guide §5: Arrow for driver transfers — the pickled-row iterator
    path was the components stage's dominant cost at bench scale).  NaN
    floats are mapped back to None so downstream ``x is not None`` checks
    keep their exact semantics."""
    pdf = df.limit(max_rows + 1).toPandas()
    if len(pdf) > max_rows:
        return None
    cols = []
    for c in pdf.columns:
        vals = pdf[c].tolist()
        if pdf[c].dtype.kind == "f":
            vals = [None if v != v else v for v in vals]  # NaN -> None
        cols.append(vals)
    return list(zip(*cols)) if cols else []


def labels_frame(spark, labels, node_t) -> DataFrame:
    """(name, component) DataFrame from driver-side labels via the Arrow
    ``createDataFrame(pandas)`` path — ~2.5x faster than the pickled-row
    path for the ~10^4-row label lists the driver fast paths produce
    (guide §5, same rationale as :func:`_collect_bounded` on the way in).
    ``labels`` is a list of (name, component) tuples (no Nones by
    construction: every node gets a label)."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("name", node_t), StructField("component", node_t)]
    )
    pdf = pd.DataFrame(labels, columns=["name", "component"])
    return spark.createDataFrame(pdf, schema)


def _driver_union_find(rows) -> list[tuple[str, str]]:
    """Min-label union-find over an edge list (driver-side fast path)."""
    parent: dict = {}

    def find(x: str) -> str:
        r = x
        while parent[r] != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for lo, hi in rows:
        if lo not in parent:
            parent[lo] = lo
        if hi not in parent:
            parent[hi] = hi
        ra, rb = find(lo), find(hi)
        if ra != rb:
            # union by MIN label so the root IS the component label
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra
    return [(x, find(x)) for x in parent]


def connected_components(
    edges: DataFrame, driver_max_edges: int = 1_000_000
) -> DataFrame:
    """(name, component) for every node of the (src, dst) ``edges``;
    ``component`` is the lexicographically smallest node name in the
    connected component.

    Size-adaptive execution: when the deduplicated edge set fits the
    ``driver_max_edges`` bound (one count job decides), a driver-side
    union-find labels it in milliseconds — per-round scheduling overhead
    dominates distributed iteration at that size.  Above the bound the
    large-star/small-star alternation runs fully distributed; it strictly
    contracts the graph, and each round re-checks the bound so the tail of
    a huge job finishes on the driver too.  (At the 10^12-turn design
    scale the match graph stays far above the bound for many rounds — the
    collect is explicitly size-gated, never unbounded.)

    Raises ``RuntimeError`` if the star alternation has not reached its
    fixed point within :data:`MAX_CC_ROUNDS` rounds (silently returning
    partial labels would split entities)."""
    spark = edges.sparkSession
    canon = _canon_edges(edges)

    def _labels_df(labels, node_t) -> DataFrame:
        return labels_frame(spark, labels, node_t)

    # Driver fast path, single job: bounded Arrow collect of the canonical
    # edges (no localCheckpoint, no checksum job needed when it fits).
    first = _collect_bounded(canon, driver_max_edges)
    if first is not None:
        return _labels_df(_driver_union_find(first), canon.schema["lo"].dataType)
    e = canon.localCheckpoint()
    retired = [e]

    def _finish_on_driver(cur_e: DataFrame) -> DataFrame:
        # the checksum just counted cur_e within the bound
        labels = _driver_union_find(_collect_bounded(cur_e, driver_max_edges))
        out = _labels_df(labels, cur_e.schema["lo"].dataType)
        _unpersist(retired)
        return out

    prev = _checksum(e)
    if prev[0] <= driver_max_edges:
        return _finish_on_driver(e)
    converged = False
    for _ in range(MAX_CC_ROUNDS):
        nxt = _small_star(_large_star(e)).localCheckpoint()
        cur = _checksum(nxt)
        retired.append(nxt)
        e = nxt
        if cur[0] <= driver_max_edges:
            return _finish_on_driver(e)
        if cur == prev:
            converged = True
            break
        prev = cur
    if not converged and prev[0] > 0:
        _unpersist(retired)
        raise RuntimeError(
            f"connected_components did not converge in {MAX_CC_ROUNDS} rounds"
        )
    # Exact star-property verification: every leaf hangs off exactly one
    # center and no node is both center and leaf (the checksum alone is a
    # probabilistic equality test).
    bad_multi = (
        e.groupBy("hi").agg(F.countDistinct("lo").alias("k")).where(F.col("k") > 1)
    )
    bad_cross = e.select(F.col("lo").alias("n")).intersect(
        e.select(F.col("hi").alias("n"))
    )
    if bad_multi.limit(1).count() > 0 or bad_cross.limit(1).count() > 0:
        raise RuntimeError("connected_components converged to a non-star graph")
    labels = (
        e.select(F.col("hi").alias("name"), F.col("lo").alias("component"))
        .unionByName(
            e.select(F.col("lo").alias("name"), F.col("lo").alias("component"))
        )
        .distinct()
    )
    out = labels.localCheckpoint()
    _unpersist(retired)
    return out


def _logit(t: float) -> float:
    import math

    return math.log(t / (1.0 - t))


# Probability rungs above this use the RAW MARGIN: the
# persisted probability column is rounded to 4 decimals, so every edge
# past 0.99995 is literally equal there — the sigmoid-free margin still
# ranks them (margin >= logit(t) == raw prob >= t, exactly).
MARGIN_RUNG_MIN_PROB = 0.999


def _ev(c, al) -> bool:
    """The evidence rung's edge test (NULL-safe: a None side never
    qualifies, as a NULL fails the SQL comparison)."""
    return (c is not None and c >= EVIDENCE_MIN_COSINE) or (
        al is not None and al <= EVIDENCE_MAX_ALIGN
    )


def _refine_driver(
    rows: list,
    max_component: int,
    ladder: tuple[float, ...],
    louvain_max_edges: int,
    evidence_min_size: int | None,
) -> dict:
    """Driver-side twin of the distributed refinement: identical labels
    (min-name CC, same ladder semantics, same Louvain with the subgraph's
    own 2m).  ``rows`` is the collected (src, dst, prob, cosine, align,
    margin) edge list, a NULL value read as None.  Ladder rungs above
    :data:`MARGIN_RUNG_MIN_PROB` compare the margin against logit(t) —
    identical decision to raw-probability >= t, immune to the 4dp rounding
    of the persisted probability column."""
    from collections import Counter

    def cc_local(pairs) -> dict:
        # the module's one union-find (min-label, path compression)
        return dict(_driver_union_find(pairs))

    def split_big(comps: dict, keep, bound: int | None = None) -> dict:
        bound = max_component if bound is None else bound
        sizes = Counter(comps.values())
        big = {lab for lab, c in sizes.items() if c > bound}
        if not big:
            return comps
        bign = {n for n, lab in comps.items() if lab in big}
        # INTERNAL edges only (comps[a] == comps[b]): a rung may only
        # SPLIT a component, never re-merge two.  Membership in the union
        # of big components is not enough — after earlier splits, sibling
        # components can still share cross edges that pass THIS rung's
        # keep (the evidence keep is not a subset of any probability
        # rung), and including them re-welds what the ladder separated.
        strong = [
            (a, b) for a, b, p, c, al, mg in rows
            if a in bign and b in bign and comps[a] == comps[b]
            and keep(p, c, al, mg)
        ]
        sub = cc_local(strong)
        return {
            n: (sub.get(n, n) if lab in big else lab) for n, lab in comps.items()
        }

    comps = cc_local([(a, b) for a, b, *_ in rows])
    for t in ladder:
        prev = comps
        if t > MARGIN_RUNG_MIN_PROB:
            lt = _logit(t)

            def keep(p, c, al, mg, lt=lt):
                return mg is not None and mg >= lt

        else:

            def keep(p, c, al, mg, t=t):
                return p is not None and p >= t

        comps = split_big(comps, keep)
        if comps is prev:
            break
    comps = split_big(
        comps, lambda p, c, al, mg: _ev(c, al), bound=evidence_min_size
    )
    sizes = Counter(comps.values())
    big = {lab for lab, c in sizes.items() if c > max_component}
    if big:
        from name_matching_spark.operators.louvain import louvain_driver

        bign = {n for n, lab in comps.items() if lab in big}
        internal = sorted(
            {
                (min(a, b), max(a, b))
                for a, b, *_ in rows
                if a in bign and b in bign and a != b
            }
        )
        # same per-internal-component eligibility gate as the
        # distributed path: oversized webs keep their ladder labels
        gcc = cc_local(internal)
        gedges = Counter(gcc[a] for a, _ in internal)
        ok = {g for g, ne in gedges.items() if ne <= louvain_max_edges}
        elig = [e for e in internal if gcc[e[0]] in ok]
        elig_nodes = {n for n, g in gcc.items() if g in ok}
        labels = louvain_driver(iter(elig)) if elig else {}
        comps = {
            n: (labels.get(n, n) if n in elig_nodes else lab)
            for n, lab in comps.items()
        }
    return comps


def subsumption_edge_cond(
    twl_col: str = "token_weakest_link", align_col: str = "align_edit"
) -> "F.Column":
    """Condition marking a match edge as SUBSUMPTION: every aligned token
    pair scores 1.0 purely through exact/initial/prefix credit
    (token_weakest_link == 1.0) while the absolute aligned edit distance
    is non-zero — one surface form EXTENDS the other ("M KASTAR",
    "MAR KASTAR", "HELI KASDRE" vs "MARIA KASTAR"; "PIKDRE" vs
    "PIKDREGRI").  Such an edge is real match EVIDENCE (the pair decision
    keeps it — reference parity) but ambiguous CLUSTER evidence: an
    initial or truncation legitimately extends to MANY entities, so at
    corpus scale these nodes are exactly the hubs that weld unrelated
    alias cliques into mega-components.  Swap / merge / designator
    variants have align_edit 0 and keep gluing; typo pairs have
    token_weakest_link < 1 and keep gluing."""
    return (F.col(twl_col) >= 0.999999) & (F.col(align_col) >= 1)


def attach_subsumed(
    comp: DataFrame, sub_edges: DataFrame, glue_edges: DataFrame
) -> DataFrame:
    """Post-clustering attachment of subsumption-only names.

    ``comp``: (name, component) from clustering the GLUE edges only.
    ``sub_edges``: the subsumption edges excluded from gluing;
    ``glue_edges``: the glue edges ``comp`` was clustered from.  A name is
    SETTLED only when its component has at least two members (anchored);
    the un-anchored endpoints attach by two rules, matched to how each
    kind measured at the 10k/100k quality fixtures (BENCH/QUALITY.md):

    * **comp-absent** (an initial/diminutive form whose every match is
      subsumption): attach to the component of the best-scoring anchored
      partner — highest probability, then raw margin, ties to the
      smallest component label.
    * **glue singletons** (every glue edge pruned by a refinement rung —
      the name sat inside a confusable web, so its prior of ambiguity is
      exactly why the rung isolated it): attach ONLY on a UNANIMOUS
      evidence vote — every evidence-bearing edge (``cosine_sim`` >=
      :data:`EVIDENCE_MIN_COSINE` or ``align_edit`` <=
      :data:`EVIDENCE_MAX_ALIGN`) to an anchored partner must point at
      ONE component.  The vote pools the subsumption edges and
      the rung-cut glue edges; glue-only votes need >= 2 distinct
      anchored partners (one FP glue edge is trivially "unanimous").
      Best-p attach here crashed 100k pair precision 0.76 -> 0.59 (an
      ambiguous initial form picks one of many same-surname clusters
      near-randomly); unanimity keeps the measured 10k recall recovery
      while leaving genuinely shared forms singleton.

    Targets are anchored names only, so attachment maps names INTO
    multi-name components and can never weld two components — and two
    mutual floaters cannot swap singleton labels.  :data:`ATTACH_ROUNDS`
    passes let chains of subsumed forms ("H KASDRE" whose best partner is
    the also-subsumed "HELI KASDRE") resolve: an attached floater is anchored
    for the next round.  Floaters with no (transitively) anchored partner
    are left for the caller (mutual-floater FAMILIES — an entity observed
    only as full + initial + diminutive forms — cluster among themselves
    in :func:`subsumption_aware_components`).  Both edge frames carry the
    scorer's columns (``src, dst, probability, margin, cosine_sim,
    align_edit``)."""

    def _side(frame: DataFrame, a: str, b: str) -> DataFrame:
        return frame.select(
            F.col(a).alias("name"),
            F.col(b).alias("other"),
            F.col("probability").alias("p"),
            F.col("cosine_sim").alias("c"),
            F.col("align_edit").alias("al"),
            F.col("margin").alias("mg"),
        )

    def _both_sides(frame: DataFrame) -> DataFrame:
        return (
            _side(frame, "src", "dst")
            .unionByName(_side(frame, "dst", "src"))
            .localCheckpoint()
        )

    e = _both_sides(sub_edges)
    ge = _both_sides(glue_edges)
    # NULL-safe disjunction (a NULL side never qualifies), byte-matching
    # the driver twin's `_ev`
    ev_cond = F.coalesce(
        (F.col("c") >= F.lit(EVIDENCE_MIN_COSINE))
        | (F.col("al") <= F.lit(EVIDENCE_MAX_ALIGN)),
        F.lit(False),
    )
    for _ in range(ATTACH_ROUNDS):
        anchored = _anchored(comp)
        floaters = (
            e.select("name")
            .distinct()
            .join(anchored.select("name"), "name", "left_anti")
            .join(
                comp.select("name").distinct().withColumn("_sing", F.lit(True)),
                "name",
                "left",
            )
        )
        targets = anchored.select(
            F.col("name").alias("other"), F.col("component").alias("_tc")
        )
        cand = e.join(floaters, "name").join(targets, "other")
        absent_best = (
            cand.where(F.col("_sing").isNull())
            .groupBy("name")
            .agg(
                # probability first, raw margin as the tiebreak (the
                # 4dp-rounded p ties across saturated webs; a missing
                # margin sorts last) — byte-matching the driver twin's key
                F.min_by(
                    "_tc",
                    F.struct(
                        -F.col("p"),
                        -F.coalesce(F.col("mg"), F.lit(float("-inf"))),
                        F.col("_tc"),
                    ),
                ).alias("component")
            )
        )
        sing_pool = cand.where(F.col("_sing") & ev_cond).select(
            "name", "other", "_tc", F.lit(1).alias("_sub")
        )
        # glue singletons whose evidence-bearing GLUE edges reach anchored
        # partners vote too (driver twin: gadj); every glue endpoint is in
        # comp by construction, so _sing is implied — the anti-join
        # against anchored suffices.
        gcand = (
            ge.join(anchored.select("name"), "name", "left_anti")
            .join(targets, "other")
            .where(ev_cond)
            .select("name", "other", "_tc", F.lit(0).alias("_sub"))
        )
        # Unanimity over the union pool, PLUS a minimum-vote rule on
        # glue-only votes: require either one subsumption edge or >= 2
        # DISTINCT anchored glue partners agreeing (driver twin: the
        # sub_t / glue_partners split).
        sing_best = (
            sing_pool.unionByName(gcand)
            .groupBy("name")
            .agg(
                F.count_distinct("_tc").alias("_k"),
                F.max("_sub").alias("_ns"),
                F.count_distinct(
                    F.when(F.col("_sub") == 0, F.col("other"))
                ).alias("_ng"),
                F.min("_tc").alias("component"),
            )
            .where(
                (F.col("_k") == 1)
                & ((F.col("_ns") == 1) | (F.col("_ng") >= 2))
            )
            .select("name", "component")
        )
        best = absent_best.unionByName(sing_best)
        if best.limit(1).count() == 0:
            break
        comp = (
            comp.join(best.select("name"), "name", "left_anti")
            .unionByName(best)
            .localCheckpoint()
        )
    _unpersist((e, ge))
    return comp


def _anchored(comp: DataFrame) -> DataFrame:
    """Rows of ``comp`` whose component has >= 2 members — the names whose
    cluster assignment attachment treats as settled."""
    sizes = comp.groupBy("component").agg(F.count("*").alias("_n"))
    return comp.join(
        sizes.where(F.col("_n") >= 2).select("component"), "component", "left_semi"
    )


def subsumption_aware_components(
    matches: DataFrame,
    max_component: int = MAX_COMPONENT,
    ladder: tuple[float, ...] = LADDER,
    driver_max_edges: int = 1_000_000,
    louvain_max_edges: int = 1_000_000,
    evidence_min_size: int | None = EVIDENCE_MIN_SIZE,
) -> DataFrame:
    """The full subsumption-aware clustering composition:

    1. :func:`refined_components` over the GLUE edges only (subsumption
       edges — :func:`subsumption_edge_cond` — excluded);
    2. :func:`attach_subsumed`: subsumption-only names attach to their
       best clustered partner's component, and rung-isolated glue
       singletons re-attach on a unanimous evidence vote over their
       subsumption AND glue edges (:data:`ATTACH_ROUNDS` passes so
       chains resolve);
    3. residual subsumption families whose members have NO clustered
       partner anywhere (an entity observed only as full + initial +
       diminutive forms has no glue-shaped pair at all) are clustered
       among THEMSELVES under the same refinement discipline — the
       component cap still guards against an isolated web of ambiguous
       forms welding at corpus scale.

    Measured (BENCH/QUALITY.md): at 100k entities this composition holds
    pair precision at 0.66 where gluing subsumption edges collapses to
    0.13 (800-name initial-form welds); at small scale step 3 restores
    the isolated-family recall that attachment alone loses.  The glue
    edges' share of the singleton vote measured net-positive at all three
    sweep scales (100k F1 .734 -> .743, 300k .763 -> .770).

    Size-adaptive like the rest of this module: below ``driver_max_edges``
    the whole composition (split, refine, attach rounds, residual) runs
    driver-side in one collect — the distributed path is ~15 Spark jobs
    of pure scheduling overhead on a graph that fits in memory.  Labels
    are identical (the driver twin mirrors each step's tie-breaks).

    ``matches`` is the scorer's match frame as the pipeline builds it:
    ``src, dst, probability, margin, cosine_sim, align_edit,
    token_weakest_link``.  The keywords are :func:`refined_components`'s."""
    _check_ladder(ladder)
    refine_kw = dict(
        max_component=max_component,
        ladder=ladder,
        driver_max_edges=driver_max_edges,
        louvain_max_edges=louvain_max_edges,
        evidence_min_size=evidence_min_size,
    )
    m = matches.select(
        "src",
        "dst",
        F.col("probability").alias("p"),
        F.col("cosine_sim").alias("c"),
        F.col("align_edit").alias("al"),
        F.col("token_weakest_link").alias("twl"),
        F.col("margin").alias("mg"),
    )
    collected = _collect_bounded(m, driver_max_edges)
    if collected is not None:
        rows = [t for t in collected if t[0] != t[1]]
        labels = _subsumption_aware_driver(
            rows,
            max_component=max_component,
            ladder=tuple(ladder),
            louvain_max_edges=louvain_max_edges,
            evidence_min_size=evidence_min_size,
        )
        node_t = m.schema["src"].dataType
        return labels_frame(
            matches.sparkSession, sorted(labels.items()), node_t
        )
    is_sub = subsumption_edge_cond()
    glue = matches.where(~is_sub)
    sub = matches.where(is_sub)
    comp = refined_components(glue, **refine_kw)
    comp = attach_subsumed(comp, sub, glue)
    # Mutual-floater families: subsumption edges both of whose endpoints
    # stayed un-anchored through every attach round (comp-absent OR glue
    # singletons) cluster among THEMSELVES under the same refinement
    # discipline, replacing any singleton labels they held.
    anames = _anchored(comp).select("name")
    residual = sub.join(
        anames.withColumnRenamed("name", "src"), "src", "left_anti"
    ).join(anames.withColumnRenamed("name", "dst"), "dst", "left_anti")
    if residual.limit(1).count() > 0:
        rlab = refined_components(residual, **refine_kw)
        comp = comp.join(rlab.select("name"), "name", "left_anti").unionByName(
            rlab
        )
    return comp


def _is_sub_row(twl, al) -> bool:
    """Python twin of :func:`subsumption_edge_cond` (NULLs fail the SQL
    comparison, so None here is not subsumption either)."""
    return twl is not None and al is not None and twl >= 0.999999 and al >= 1


def _subsumption_aware_driver(
    rows: list,
    max_component: int,
    ladder: tuple[float, ...],
    louvain_max_edges: int,
    evidence_min_size: int | None,
) -> dict:
    """Driver twin of the distributed composition.  ``rows``:
    (src, dst, p, cosine, align, twl, margin) tuples, self-loops
    pre-dropped."""
    from collections import Counter, defaultdict

    glue = [(a, b, p, c, al, mg) for a, b, p, c, al, twl, mg in rows
            if not _is_sub_row(twl, al)]
    sub = [(a, b, p, c, al, mg) for a, b, p, c, al, twl, mg in rows
           if _is_sub_row(twl, al)]
    comp = _refine_driver(
        glue, max_component, ladder, louvain_max_edges, evidence_min_size
    )
    # attach rounds (driver twin of attach_subsumed): anchored = member of
    # a >= 2-name component; comp-absent floaters attach to the best
    # anchored partner (max prob, then margin, then min component);
    # rung-pruned glue singletons attach only on a UNANIMOUS
    # evidence-bearing vote

    def anchored_names(c: dict) -> set:
        sz = Counter(c.values())
        return {n for n, lab in c.items() if sz[lab] >= 2}

    adj: dict = defaultdict(list)
    for a, b, p, c, al, mg in sub:
        adj[a].append((p, b, c, al, mg))
        adj[b].append((p, a, c, al, mg))
    # Second vote pool for GLUE singletons: a name a refinement rung
    # isolated can sit one evidence-bearing GLUE edge (not just a
    # subsumption edge) away from its entity's cluster — e.g. a token-swap
    # typo pair cut by a margin rung inside an oversized web.  The vote
    # stays UNANIMOUS over the union of both pools: conflicting evidence
    # (sub pointing one way, glue another) is genuine ambiguity → abstain.
    gadj: dict = defaultdict(list)
    for a, b, p, c, al, mg in glue:
        gadj[a].append((p, b, c, al, mg))
        gadj[b].append((p, a, c, al, mg))
    _NEG_INF = float("-inf")
    for _ in range(ATTACH_ROUNDS):
        anc = anchored_names(comp)
        newly = {}
        for n in set(adj) | set(gadj):
            if n in anc:
                continue
            lst = adj.get(n, [])
            if n in comp:  # glue singleton: unanimity over evidence edges
                sub_t = {
                    comp[o]
                    for p, o, c, al, mg in lst
                    if o in anc and _ev(c, al)
                }
                glue_partners = {
                    o
                    for p, o, c, al, mg in gadj.get(n, [])
                    if o in anc and _ev(c, al)
                }
                tcs = sub_t | {comp[o] for o in glue_partners}
                # min-vote rule (matches the distributed _ns/_ng agg):
                # glue-only votes need >= 2 distinct anchored partners —
                # one FP glue edge is trivially "unanimous"
                if len(tcs) == 1 and (sub_t or len(glue_partners) >= 2):
                    newly[n] = min(tcs)
                continue
            best = None
            for p, o, c, al, mg in lst:
                if o not in anc:
                    continue
                # probability first (reference-parity decision value), raw
                # margin as the tiebreak: the 4dp-rounded probability TIES
                # across whole saturated webs, where "smallest component
                # label" was effectively a coin flip — the margin still
                # ranks those partners
                key = (-p, -(mg if mg is not None else _NEG_INF), comp[o])
                if best is None or key < best:
                    best = key
            if best is not None:
                newly[n] = best[2]
        if not newly:
            break
        comp.update(newly)
    # mutual-floater families (comp-absent OR rung-pruned glue singletons
    # on both sides): refine among themselves
    anc = anchored_names(comp)
    residual = [
        (a, b, p, c, al, mg)
        for a, b, p, c, al, mg in sub
        if a not in anc and b not in anc
    ]
    if residual:
        comp.update(
            _refine_driver(
                residual, max_component, ladder, louvain_max_edges, evidence_min_size
            )
        )
    return comp


def refined_components(
    matches: DataFrame,
    max_component: int = MAX_COMPONENT,
    ladder: tuple[float, ...] = LADDER,
    driver_max_edges: int = 1_000_000,
    louvain_max_edges: int = 1_000_000,
    evidence_min_size: int | None = EVIDENCE_MIN_SIZE,
) -> DataFrame:
    """Connected components with per-component threshold refinement — the
    scale guard against transitive snowballing.

    Pure transitive closure at the decision threshold is correct on alias
    groups (near-cliques) but fails open at corpus scale: with 10^5+
    names, CHAINS of individually-plausible 0.85 matches (shared initials,
    common surname tokens) connect unrelated entities into one mega
    component — measured on the 10k-entity synthetic fixture as a single
    cluster holding 71% of all conversations (pairwise precision 2e-4).
    The reference never hits this because its Louvain step (NetworkX)
    breaks weakly-joined groups; this is the distributed, deterministic
    counterpart of that behavior:

    1. run CC on all match edges (the base threshold);
    2. any component with more than ``max_component`` member NAMES is
       suspect: re-run CC on its INTERNAL edges restricted to the next
       ladder threshold, splitting it wherever the stronger evidence does
       not connect; members isolated at the raised threshold become
       singletons;
    3. repeat up the ladder until every component fits the cap or the
       ladder is exhausted;
    3b. EVIDENCE rung: probability saturates on corpus-scale confusable
       webs (the GBM emits 1.0000 for thousands of cross-entity pairs), so
       inside still-oversized components an edge survives only with
       distinctive shared evidence — an IDF-weighted shared token
       (``cosine_sim`` >= :data:`EVIDENCE_MIN_COSINE`) or a near-exact
       string relation (``align_edit`` <= :data:`EVIDENCE_MAX_ALIGN`).
       ``evidence_min_size`` (None = ``max_component``) lowers the size
       at which THIS rung applies: the measured FP mass at fixture scale
       sits in SMALL mixed clusters (3-5 names) glued by evidence-free
       0.95-0.99 edges that never face the ladder — see
       BENCH/QUALITY.md;
    4. components STILL over the cap after the top rung are dense webs of
       genuinely-confusable high-probability aliases (shared surnames,
       initial forms, org cores differing only in designators) — exactly
       the structure the reference's Louvain step slices along community
       boundaries.  Those residual components are re-clustered by the
       per-component distributed Louvain (operators/louvain.py), cutting
       the weak ties between dense alias cliques that transitive closure
       cannot.

    Each rung runs CC on a strictly smaller edge set, so the extra cost
    is bounded by ``len(ladder)`` CC runs plus one Louvain pass over the
    suspect subgraphs only.  Residual components whose INTERNAL edge
    count exceeds ``driver_max_edges`` are left at their ladder result
    rather than crashing Louvain's per-component gate — a dense web
    bigger than that is kept, loudly countable in the component-size
    metrics, not silently split or a stage failure.  Labels stay
    min-name (deterministic); components under the cap are byte-identical
    to plain ``connected_components``.  The defaults are the shipped
    configuration (:data:`LADDER`, :data:`MAX_COMPONENT`,
    :data:`EVIDENCE_MIN_SIZE`).

    ``matches`` is the scorer's match frame as the pipeline builds it
    (``src, dst, probability, margin, cosine_sim, align_edit`` are read).
    """
    _check_ladder(ladder)
    retired: list[DataFrame] = []

    def _ckpt(df: DataFrame) -> DataFrame:
        out = df.localCheckpoint()
        retired.append(out)
        return out

    edges = matches.select("src", "dst")
    # Size-gated driver fast path (same bound as connected_components):
    # each ladder rung is otherwise several Spark jobs over what is, below
    # the gate, a tiny graph — fixed scheduling overhead dominated the
    # components stage (22s of a 62s sf1 pipeline).  Identical labels to
    # the distributed path (parity-tested).  The gate probe is a
    # limit-count — no materialization of the full edge list just to
    # count it.
    m = matches.select(
        "src",
        "dst",
        F.col("probability").alias("p"),
        F.col("cosine_sim").alias("c"),
        F.col("align_edit").alias("al"),
        F.col("margin").alias("mg"),
    )
    collected = _collect_bounded(m, driver_max_edges)
    if collected is not None:
        # Degenerate-edge parity with the distributed path: _canon_edges
        # drops self-loops (src == dst) before CC, and a rung's column
        # comparison drops an edge whose value is NULL; the driver twin
        # mirrors both (its rung tests read None as failing).
        rows = [t for t in collected if t[0] != t[1]]
        labels = _refine_driver(
            rows, max_component, ladder, louvain_max_edges, evidence_min_size
        )
        spark = matches.sparkSession
        node_t = m.schema["src"].dataType
        return labels_frame(spark, sorted(labels.items()), node_t)
    comp = connected_components(edges)

    def _split_big(
        comp: DataFrame, cond, bound: int | None = None
    ) -> tuple[DataFrame, bool]:
        """One refinement rung: re-run CC inside oversized components on
        the internal edges satisfying ``cond``; isolated members become
        singletons.  Returns (new comp, whether any component was big)."""
        bound = max_component if bound is None else bound
        sizes = comp.groupBy("component").agg(F.count("*").alias("n"))
        big = sizes.where(F.col("n") > bound).select("component")
        if big.limit(1).count() == 0:
            return comp, False
        big_names = _ckpt(comp.join(big, "component", "left_semi"))
        # INTERNAL edges only (same current component on both sides): a
        # rung may only SPLIT a component, never re-merge two — sibling
        # components produced by earlier splits can still share cross
        # edges that pass THIS rung's cond (the evidence cond is not a
        # subset of any probability rung), and including them re-welds
        # what the ladder separated.
        strong = (
            matches.where(cond)
            .select("src", "dst")
            .join(
                big_names.select(
                    F.col("name").alias("src"), F.col("component").alias("_cs")
                ),
                "src",
            )
            .join(
                big_names.select(
                    F.col("name").alias("dst"), F.col("component").alias("_cd")
                ),
                "dst",
            )
            .where(F.col("_cs") == F.col("_cd"))
            .select("src", "dst")
        )
        sub = connected_components(strong)
        singles = (
            big_names.select("name")
            .join(sub.select("name"), "name", "left_anti")
            .select("name", F.col("name").alias("component"))
        )
        return (
            _ckpt(
                comp.join(big, "component", "left_anti")
                .unionByName(sub)
                .unionByName(singles)
            ),
            True,
        )

    for t in ladder:
        if t > MARGIN_RUNG_MIN_PROB:
            # identical decision to raw-prob >= t; the persisted
            # probability is 4dp-rounded and saturates at 1.0
            rung_cond = F.col("margin") >= F.lit(_logit(t))
        else:
            rung_cond = F.col("probability") >= t
        comp, had_big = _split_big(comp, rung_cond)
        if not had_big:
            break
    # Evidence rung: probability alone saturates on dense confusable webs
    # (the scorer emits 1.0000 for thousands of cross-entity pairs at
    # corpus scale, so no rung can separate them).  An edge may glue an
    # OVERSIZED component only when supported by distinctive shared
    # evidence: a shared informative token (cosine_sim — IDF-weighted, so
    # generic designators/kind words do not count) or a near-exact string
    # relation (align_edit <= 1: typo / merge / designator variants).
    comp, _ = _split_big(
        comp,
        (F.col("cosine_sim") >= F.lit(EVIDENCE_MIN_COSINE))
        | (F.col("align_edit") <= F.lit(EVIDENCE_MAX_ALIGN)),
        bound=evidence_min_size,
    )
    sizes = comp.groupBy("component").agg(F.count("*").alias("n"))
    big = sizes.where(F.col("n") > max_component).select("component")
    if big.limit(1).count() > 0:
        from name_matching_spark.operators.louvain import louvain_communities

        # Louvain eligibility: partition the internal subgraph (base
        # edges among residual-big members) by ITS OWN connected
        # components — the same unit louvain_communities gates on —
        # and send only components whose edge count fits the gate.
        # Oversized webs keep their ladder labels; the guard never
        # raises.  Ladder components stay atomic under the name-level
        # swap: each one is internally connected, so it lies wholly
        # inside one internal-graph component.
        big_names = _ckpt(comp.join(big, "component", "left_semi"))
        bn = big_names.select("name")
        internal = _ckpt(
            _canon_edges(
                edges.join(
                    bn.withColumnRenamed("name", "src"), "src", "left_semi"
                ).join(bn.withColumnRenamed("name", "dst"), "dst", "left_semi")
            ).select(F.col("lo").alias("src"), F.col("hi").alias("dst"))
        )
        icc = _ckpt(connected_components(internal))
        ic = internal.join(
            icc.select(F.col("name").alias("src"), F.col("component").alias("gid")),
            "src",
        )
        ok_gids = (
            ic.groupBy("gid")
            .agg(F.count("*").alias("ne"))
            .where(F.col("ne") <= louvain_max_edges)
            .select("gid")
        )
        elig_edges = _ckpt(
            ic.join(ok_gids, "gid", "left_semi").select("src", "dst")
        )
        elig_names = icc.join(
            ok_gids.withColumnRenamed("gid", "component"), "component", "left_semi"
        ).select("name")
        sub = louvain_communities(elig_edges, max_edges=louvain_max_edges)
        singles = (
            elig_names.join(sub.select("name"), "name", "left_anti")
            .select("name", F.col("name").alias("component"))
        )
        comp = _ckpt(
            comp.join(elig_names, "name", "left_anti")
            .unionByName(sub)
            .unionByName(singles)
        )
    _unpersist(retired, keep=comp)
    return comp
