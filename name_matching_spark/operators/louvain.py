"""Louvain community detection — the reference's clustering, as an operator.

The reference clusters its match graph with NetworkX
``louvain_communities`` (entity_resolution.py:268 in
vietexob/name-matching).  The pipeline here clusters with
subsumption-aware refined connected components (operators/clustering.py);
on threshold-0.85 alias graphs — near-cliques — CC and Louvain agree.
This module supplies the exact Louvain semantics as an operator: the
refinement's final step re-clusters the components still over the cap
with it, and the ``m6b_louvain`` query runs it alone.  It is the standard
two-phase modularity optimization (Blondel, Guillaume, Lambiotte,
Lefebvre, "Fast unfolding of communities in large networks", J. Stat.
Mech. 2008), implemented from scratch, made DETERMINISTIC by visiting
nodes in sorted order and breaking gain ties toward the smaller community
label.

Scale position: like the reference, Louvain runs in memory in one
process.  :func:`louvain_communities` collects the graph to the driver
under the clustering ceiling (``clustering.MAX_EDGES``) and raises above
it."""

from __future__ import annotations

from pyspark.sql import DataFrame

# Modularity resolution: networkx ``louvain_communities``' default, which
# the reference runs with.
RESOLUTION = 1.0

# The most aggregation levels louvain_driver runs; it stops sooner once a
# level merges no community.
MAX_LEVELS = 20


def _louvain_one_level(adj: dict, m2: float) -> dict:
    """One local-move phase: returns {node: community} at a local optimum.
    ``adj``: {node: {nbr: weight}}; ``m2`` = 2 * total edge weight."""
    nodes = sorted(adj)
    comm = {u: u for u in nodes}
    k = {u: sum(adj[u].values()) for u in nodes}  # weighted degree
    sigma_tot = dict(k)  # per community (communities start as singletons)
    improved = True
    while improved:
        improved = False
        for u in nodes:
            cu = comm[u]
            ku = k[u]
            # weights from u into each neighboring community
            w_to: dict = {}
            for v, w in adj[u].items():
                if v == u:
                    continue
                cv = comm[v]
                w_to[cv] = w_to.get(cv, 0.0) + w
            # detach u
            sigma_tot[cu] -= ku
            best_c, best_gain = cu, 0.0
            base = w_to.get(cu, 0.0) - RESOLUTION * sigma_tot[cu] * ku / m2
            for c in sorted(w_to):
                gain = (w_to[c] - RESOLUTION * sigma_tot[c] * ku / m2) - base
                if gain > best_gain + 1e-12 or (
                    abs(gain - best_gain) <= 1e-12 and best_gain > 0 and c < best_c
                ):
                    best_c, best_gain = c, gain
            sigma_tot[best_c] = sigma_tot.get(best_c, 0.0) + ku
            if best_c != cu:
                comm[u] = best_c
                improved = True
    return comm


def _aggregate(adj: dict, comm: dict) -> dict:
    """Phase 2: collapse communities into super-nodes (self-loops keep
    intra-community weight)."""
    out: dict = {}
    for u, nbrs in adj.items():
        cu = comm[u]
        row = out.setdefault(cu, {})
        for v, w in nbrs.items():
            cv = comm[v]
            row[cv] = row.get(cv, 0.0) + w
    return out


def louvain_driver(edge_list) -> dict:
    """{node: community-min-node-label} for an undirected edge list of
    (a, b) pairs (weight 1 each; parallel edges accumulate)."""
    adj: dict = {}
    for a, b in edge_list:
        if a == b:
            continue
        ra = adj.setdefault(a, {})
        ra[b] = ra.get(b, 0.0) + 1.0
        rb = adj.setdefault(b, {})
        rb[a] = rb.get(a, 0.0) + 1.0
    if not adj:
        return {}
    m2 = sum(sum(nbrs.values()) for nbrs in adj.values())  # = 2m
    # node -> community, refined level by level
    mapping = {u: u for u in adj}
    level_adj = adj
    for _ in range(MAX_LEVELS):
        comm = _louvain_one_level(level_adj, m2)
        if all(comm[u] == u for u in comm):
            break
        n_before = len(set(mapping.values()))
        mapping = {u: comm[mapping[u]] for u in mapping}
        if len(set(mapping.values())) == n_before:
            break
        level_adj = _aggregate(level_adj, comm)
    # canonical label: min original node name per community
    by_comm: dict = {}
    for u, c in mapping.items():
        cur = by_comm.get(c)
        if cur is None or u < cur:
            by_comm[c] = u
    return {u: by_comm[c] for u, c in mapping.items()}


def louvain_communities(edges: DataFrame) -> DataFrame:
    """(name, component) via Louvain over the ``src``/``dst`` edges of
    ``edges``; same output contract as connected_components so the two
    are drop-in interchangeable in entity_table.  The deduplicated
    undirected graph is collected to the driver; above
    ``clustering.MAX_EDGES`` edges it raises ``ValueError``."""
    from name_matching_spark.operators.clustering import (
        _canon_edges,
        _collect_edges,
        labels_frame,
    )

    canon = _canon_edges(edges)
    labels = louvain_driver(_collect_edges(canon))
    return labels_frame(
        edges.sparkSession, sorted(labels.items()), canon.schema["lo"].dataType
    )
