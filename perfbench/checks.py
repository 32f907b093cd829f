"""Correctness references, run outside every timed region.

- ``batch_quality``: the warehouse of one ``batch_build`` repetition against
  the DuckDB oracle (``dice_spark.oracle``) evaluated on the same generated
  transcripts table.
- ``neighborhood_ok`` / ``path_ok``: ``kg_serve`` answers against a
  pure-Python BFS over the generated KG edges.
"""

from __future__ import annotations

import json
import os
from collections import Counter

import pyarrow.parquet as pq


def read_table(warehouse: str, name: str) -> list[dict]:
    """Current snapshot of a ``storage.Warehouse`` table, read without Spark."""
    with open(os.path.join(warehouse, name, "_current")) as f:
        snap = json.load(f)["snapshot"]
    return pq.read_table(os.path.join(warehouse, name, snap)).to_pylist()


def oracle_sql(query: str, transcripts_path: str) -> str:
    """An oracle query with its transcripts CTE reading the generated table."""
    from dice_spark.synth import transcripts_cte

    cte = f"transcripts AS ({transcripts_cte()})"
    if cte not in query:
        raise RuntimeError("oracle query no longer opens with the transcripts CTE")
    src = (
        "transcripts AS (SELECT conv_id, turn_idx, role, text, tool, ts "
        f"FROM read_parquet('{transcripts_path}'))"
    )
    return query.replace(cte, src, 1)


def _pr(got: set, want: set) -> tuple[float, float]:
    hit = len(got & want)
    return (hit / len(got) if got else 1.0, hit / len(want) if want else 1.0)


def _pair_pr(got: dict, want: dict) -> tuple[float, float]:
    """Pairwise clustering precision / recall of two key -> cluster maps: a
    pair of keys is a true positive when both maps co-cluster it."""

    def pairs(counter: Counter) -> int:
        return sum(n * (n - 1) // 2 for n in counter.values())

    got_pairs = pairs(Counter(got.values()))
    want_pairs = pairs(Counter(want.values()))
    both = pairs(Counter((got[k], want[k]) for k in got.keys() & want.keys()))
    return (
        both / got_pairs if got_pairs else 1.0,
        both / want_pairs if want_pairs else 1.0,
    )


def batch_quality(warehouse: str, transcripts_path: str) -> dict[str, float]:
    """Triples (edges) and co-resolved mention pairs vs the oracle.

    triple = (source_id, edge_type, target_id, confidence) of each KG edge.
    entity pair = two mention keys (type, normalized surface form) resolved
    to the same entity, read off the propositions' subject/object ids.
    """
    import duckdb

    from dice_spark import oracle

    con = duckdb.connect()
    try:
        con.execute("SET threads TO 2")
        edges_sql = oracle_sql(oracle.q_edges(), transcripts_path)
        want_edges = {
            (s, t, e, round(c, 6))
            for s, t, e, c in con.execute(
                f"SELECT source_id, edge_type, target_id, confidence FROM ({edges_sql})"
            ).fetchall()
        }
        map_sql = oracle_sql(
            oracle.base_ctes() + oracle.canonicalization_ctes()
            + " SELECT type_key, norm_key, resolved_id FROM mapping",
            transcripts_path,
        )
        want_map = {(t, k): r for t, k, r in con.execute(map_sql).fetchall()}
        keys_sql = oracle_sql(
            oracle.base_ctes()
            + ", spans AS (SELECT subj_span AS s, subj_type AS t FROM typed_triples "
            "UNION SELECT obj_span, obj_type FROM typed_triples) "
            f"SELECT s, lower(t), {oracle.duckdb_norm_key_sql('s')} FROM spans",
            transcripts_path,
        )
        span_key = {(s, t): k for s, t, k in con.execute(keys_sql).fetchall()}
    finally:
        con.close()

    got_edges = {
        (r["source_id"], r["edge_type"], r["target_id"], round(r["confidence"], 6))
        for r in read_table(warehouse, "edges")
    }
    got_map: dict = {}
    for p in read_table(warehouse, "propositions"):
        for span, typ, rid in (
            (p["subj_span"], p["subj_type"], p["subj_id"]),
            (p["obj_span"], p["obj_type"], p["obj_id"]),
        ):
            key = (typ.lower(), span_key.get((span, typ.lower()), span))
            if rid is not None:
                got_map[key] = rid
    tp, tr = _pr(got_edges, want_edges)
    ep, er = _pair_pr(got_map, want_map)
    return {
        "triple_precision": tp,
        "triple_recall": tr,
        "entity_pair_precision": ep,
        "entity_pair_recall": er,
    }


# ---- kg_serve references ---------------------------------------------------


def adjacency(edges: list[dict]) -> dict[str, set[str]]:
    adj: dict[str, set[str]] = {}
    for e in edges:
        adj.setdefault(e["source_id"], set()).add(e["target_id"])
        adj.setdefault(e["target_id"], set()).add(e["source_id"])
    return adj


def bfs(adj: dict[str, set[str]], start: str, max_depth: int) -> dict[str, tuple[int, str | None]]:
    """node -> (distance, min predecessor on the previous level)."""
    seen = {start: (0, None)}
    level = {start}
    for d in range(1, max_depth + 1):
        preds: dict[str, str] = {}
        for u in sorted(level):
            for v in adj.get(u, ()):
                if v not in seen and v not in preds:
                    preds[v] = u
        if not preds:
            break
        for v, u in preds.items():
            seen[v] = (d, u)
        level = set(preds)
    return seen


def neighborhood_ok(adj, start: str, depth: int, rows: list[tuple]) -> bool:
    want = {(n, d, p) for n, (d, p) in bfs(adj, start, depth).items() if d > 0}
    return set(rows) == want


def path_ok(adj, a: str, b: str, depth: int, path: list[str] | None) -> bool:
    dist = bfs(adj, a, depth).get(b)
    if dist is None:
        return path is None
    if path is None or path[0] != a or path[-1] != b or len(path) - 1 != dist[0]:
        return False
    return all(v in adj.get(u, ()) for u, v in zip(path, path[1:]))
