"""Transitive clustering of the match graph, on the driver.

The reference clusters its match graph in memory, in one process
(NetworkX Louvain, entity_resolution.py:255-288 in
vietexob/name-matching).  So does this module: every clusterer collects
its edge frame to the driver with one Arrow collect, labels the nodes in
Python, and returns the labels as a one-partition (name, component)
DataFrame.  Design notes:

* At the reference's decision threshold (0.85) the match graph is a sparse
  union of alias groups — near-cliques — so connected components and
  Louvain agree on the fixtures (verified by the golden cluster test), and
  CC is the semantics the north rule names ("transitive clustering").
* Labels are a member name of the cluster — the **min name** of the
  component for :func:`connected_components` and
  :func:`refined_components` — so they are order-insensitive and
  deterministic across resumes and partitionings (no
  ``monotonically_increasing_id`` anywhere).
* One ceiling, :data:`MAX_EDGES`, bounds every collect.  A graph above it
  raises ``ValueError`` naming its edge count and the bound: nothing is
  truncated and no other algorithm takes over.  The last full
  100k-entity diagnosis counted 975,894 match edges, under the ceiling.
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
# refined_components and subsumption_aware_components, and recorded in
# the pipeline's ``cluster_params`` (the ``entities`` stage fingerprint).  Measured by the
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

# Attach passes of the subsumption-aware clusterer (a chain of subsumed
# forms resolves one link per pass).
ATTACH_ROUNDS = 3

# The most edges a clusterer collects to the driver; above it clustering
# raises.  Measured headroom: BENCH/QUALITY.md, "Clustering ceiling".
MAX_EDGES = 1_000_000


def _check_ladder(ladder) -> None:
    if list(ladder) != sorted(ladder):
        raise ValueError(
            "ladder must ascend: a descending rung would re-merge components "
            f"the previous rung split ({tuple(ladder)})"
        )


def _canon_edges(edges: DataFrame) -> DataFrame:
    return (
        edges.select(
            F.least(F.col("src"), F.col("dst")).alias("lo"),
            F.greatest(F.col("src"), F.col("dst")).alias("hi"),
        )
        .where(F.col("lo") != F.col("hi"))
        .dropDuplicates(["lo", "hi"])
    )


def _collect_edges(df: DataFrame) -> list[tuple]:
    """Arrow-batched driver collect of the rows of ``df``, in ONE job
    (limit MAX_EDGES+1 -> toPandas; guide §5: Arrow for driver transfers).
    A frame over :data:`MAX_EDGES` raises ``ValueError`` with its exact
    row count, which costs one more job.  NaN floats are mapped back to
    None so downstream ``x is not None`` checks keep their exact
    semantics."""
    pdf = df.limit(MAX_EDGES + 1).toPandas()
    if len(pdf) > MAX_EDGES:
        raise ValueError(
            f"the graph has {df.count():,} edges, above the clustering "
            f"ceiling MAX_EDGES = {MAX_EDGES:,}"
        )
    cols = []
    for c in pdf.columns:
        vals = pdf[c].tolist()
        if pdf[c].dtype.kind == "f":
            vals = [None if v != v else v for v in vals]  # NaN -> None
        cols.append(vals)
    return list(zip(*cols)) if cols else []


def labels_frame(spark, labels, node_t) -> DataFrame:
    """One-partition (name, component) DataFrame from driver-side labels
    via the Arrow ``createDataFrame(pandas)`` path — ~2.5x faster than the
    pickled-row path for the ~10^4-row label lists the clusterers produce
    (guide §5, same rationale as :func:`_collect_edges` on the way in).
    Arrow slices the rows over ``defaultParallelism`` partitions; a few
    thousand rows gain nothing from that but a task each in every stage
    that reads them, so they are coalesced into one.  ``labels`` is a list
    of (name, component) tuples (no Nones by construction: every node gets
    a label)."""
    import pandas as pd
    from pyspark.sql.types import StructField, StructType

    schema = StructType(
        [StructField("name", node_t), StructField("component", node_t)]
    )
    pdf = pd.DataFrame(labels, columns=["name", "component"])
    return spark.createDataFrame(pdf, schema).coalesce(1)


def _driver_union_find(rows) -> list[tuple[str, str]]:
    """Min-label union-find over an edge list: [(node, component)]."""
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


def connected_components(edges: DataFrame) -> DataFrame:
    """(name, component) for every node of the (src, dst) ``edges``;
    ``component`` is the lexicographically smallest node name in the
    connected component.  A min-label union-find over the collected,
    deduplicated undirected edges; raises ``ValueError`` above
    :data:`MAX_EDGES` of them."""
    canon = _canon_edges(edges)
    return labels_frame(
        edges.sparkSession,
        _driver_union_find(_collect_edges(canon)),
        canon.schema["lo"].dataType,
    )


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
    evidence_min_size: int | None,
) -> dict:
    """{name: label} by the refinement :func:`refined_components`
    describes.  ``rows`` is the collected (src, dst, prob, cosine, align,
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
        labels = louvain_driver(internal)
        comps = {n: labels.get(n, lab) for n, lab in comps.items()}
    return comps


def _is_sub_row(twl, al) -> bool:
    """Whether a match edge is a SUBSUMPTION edge: every aligned token
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
    token_weakest_link < 1 and keep gluing.  A NULL (None) side is not
    subsumption."""
    return twl is not None and al is not None and twl >= 0.999999 and al >= 1


def _subsumption_aware_driver(
    rows: list,
    max_component: int,
    ladder: tuple[float, ...],
    evidence_min_size: int | None,
) -> dict:
    """{name: label} by the composition
    :func:`subsumption_aware_components` describes.  ``rows``:
    (src, dst, p, cosine, align, twl, margin) tuples, self-loops
    pre-dropped."""
    from collections import Counter, defaultdict

    glue = [(a, b, p, c, al, mg) for a, b, p, c, al, twl, mg in rows
            if not _is_sub_row(twl, al)]
    sub = [(a, b, p, c, al, mg) for a, b, p, c, al, twl, mg in rows
           if _is_sub_row(twl, al)]
    comp = _refine_driver(glue, max_component, ladder, evidence_min_size)
    # attach rounds: anchored = member of a >= 2-name component;
    # comp-absent floaters attach to the best anchored partner (max prob,
    # then margin, then min component); rung-pruned glue singletons
    # attach only on a UNANIMOUS evidence-bearing vote

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
                # min-vote rule: glue-only votes need >= 2 distinct
                # anchored partners — one FP glue edge is trivially
                # "unanimous"
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
            _refine_driver(residual, max_component, ladder, evidence_min_size)
        )
    return comp


def _cluster_collected(matches: DataFrame, cols: tuple, label) -> DataFrame:
    """Collect ``src, dst`` and ``cols`` of ``matches`` to the driver
    (self-loops dropped, as CC drops them), label the rows with
    ``label(rows) -> {name: label}``, and return the labels frame."""
    m = matches.select("src", "dst", *cols)
    rows = [t for t in _collect_edges(m) if t[0] != t[1]]
    return labels_frame(
        matches.sparkSession, sorted(label(rows).items()), m.schema["src"].dataType
    )


def refined_components(
    matches: DataFrame,
    max_component: int = MAX_COMPONENT,
    ladder: tuple[float, ...] = LADDER,
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
    breaks weakly-joined groups; this is the deterministic counterpart of
    that behavior:

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
       boundaries.  Those residual components are re-clustered together
       by Louvain (operators/louvain.py), cutting the weak ties between
       dense alias cliques that transitive closure cannot.

    Labels stay min-name (deterministic); components under the cap are
    byte-identical to plain ``connected_components``.  A rung compares a
    NULL value as failing, as SQL would.  The defaults are the shipped
    configuration (:data:`LADDER`, :data:`MAX_COMPONENT`,
    :data:`EVIDENCE_MIN_SIZE`).  Raises ``ValueError`` above
    :data:`MAX_EDGES` match rows.

    ``matches`` is the scorer's match frame as the pipeline builds it
    (``src, dst, probability, margin, cosine_sim, align_edit`` are read).
    """
    _check_ladder(ladder)
    return _cluster_collected(
        matches,
        ("probability", "cosine_sim", "align_edit", "margin"),
        lambda rows: _refine_driver(rows, max_component, ladder, evidence_min_size),
    )


def subsumption_aware_components(
    matches: DataFrame,
    max_component: int = MAX_COMPONENT,
    ladder: tuple[float, ...] = LADDER,
    evidence_min_size: int | None = EVIDENCE_MIN_SIZE,
) -> DataFrame:
    """The full subsumption-aware clustering composition:

    1. :func:`refined_components` over the GLUE edges only (subsumption
       edges — :func:`_is_sub_row` — excluded);
    2. attachment of the names left un-anchored, i.e. outside every
       component of two or more names, in :data:`ATTACH_ROUNDS` passes
       (an attached name is anchored for the next pass, so chains of
       subsumed forms — "H KASDRE" whose best partner is the also-subsumed
       "HELI KASDRE" — resolve).  Two rules, matched to how each kind
       measured at the 10k/100k quality fixtures (BENCH/QUALITY.md):

       * **comp-absent** names (an initial/diminutive form whose every
         match is subsumption) attach to the component of the
         best-scoring anchored partner — highest probability, then raw
         margin, ties to the smallest component label.
       * **glue singletons** (every glue edge pruned by a refinement rung
         — the name sat inside a confusable web, so its prior of
         ambiguity is exactly why the rung isolated it) attach ONLY on a
         UNANIMOUS evidence vote: every evidence-bearing edge
         (``cosine_sim`` >= :data:`EVIDENCE_MIN_COSINE` or ``align_edit``
         <= :data:`EVIDENCE_MAX_ALIGN`) to an anchored partner, over its
         subsumption AND glue edges, must point at ONE component, and
         glue-only votes need >= 2 distinct anchored partners (one FP
         glue edge is trivially "unanimous").  Best-p attach here crashed
         100k pair precision 0.76 -> 0.59 (an ambiguous initial form
         picks one of many same-surname clusters near-randomly).

       Targets are anchored names only, so attachment maps names INTO
       multi-name components and can never weld two; an attached name
       takes its target's label, which need not be the min name;
    3. residual subsumption families whose members have NO anchored
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
    sweep scales (100k F1 .734 -> .743, 300k .763 -> .770).  Raises
    ``ValueError`` above :data:`MAX_EDGES` match rows.

    ``matches`` is the scorer's match frame as the pipeline builds it:
    ``src, dst, probability, margin, cosine_sim, align_edit,
    token_weakest_link``.  The keywords are :func:`refined_components`'s."""
    _check_ladder(ladder)
    return _cluster_collected(
        matches,
        ("probability", "cosine_sim", "align_edit", "token_weakest_link", "margin"),
        lambda rows: _subsumption_aware_driver(
            rows, max_component, ladder, evidence_min_size
        ),
    )
