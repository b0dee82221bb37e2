"""Output checks of the warm_refresh workload (pure Python over collected rows)."""

from __future__ import annotations

from collections import Counter


def surface_ids(edges) -> dict:
    """Surface form -> canonical entity id, as the edge rows assign them."""
    out = {}
    for r in edges:
        out[r["subj"]] = r["subj_id"]
        out[r["obj"]] = r["obj_id"]
    return out


def rebuild_mismatches(edges, nodes, reference: set, id_of: dict, node_ids: set) -> list[str]:
    """How a refreshed store differs from a from-scratch build of the same
    corpus, when the vocabulary did not change: the edges must carry
    exactly the reference triples, every surface the entity id the cold
    build gave it, the nodes must be the cold build's, and each node's
    degrees must be the count of its edges. Empty when they match."""
    problems = []
    got = {(r["conv_id"], r["turn_idx"], r["subj"], r["pred"], r["obj"]) for r in edges}
    if got != reference:
        problems.append(f"edges: {len(reference - got)} reference triples missing, "
                        f"{len(got - reference)} extra")
    moved = sum(
        1 for r in edges
        if id_of.get(r["subj"]) != r["subj_id"] or id_of.get(r["obj"]) != r["obj_id"]
    )
    if moved:
        problems.append(f"edges: {moved} rows with a surface mapped to another entity")
    ids = {r["entity_id"] for r in nodes}
    if ids != node_ids:
        problems.append(f"nodes: {len(node_ids - ids)} missing, {len(ids - node_ids)} extra")
    out_deg = Counter(r["subj_id"] for r in edges if r["subj_id"] is not None)
    in_deg = Counter(r["obj_id"] for r in edges if r["obj_id"] is not None)
    wrong = sum(
        1 for r in nodes
        if (r["out_degree"], r["in_degree"]) != (out_deg[r["entity_id"]], in_deg[r["entity_id"]])
    )
    if wrong:
        problems.append(f"nodes: {wrong} with degrees that differ from their edges")
    return problems
