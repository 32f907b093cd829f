"""A seeded knowledge graph for ``kg_serve``, written in the warehouse's
edge-table schema.

``kg_serve`` reads a KG that already exists, so its set-up writes one here
instead of running the build pipeline: one proposition per distinct
generated sentence with its resolved subject / object entities, and edges
projected from the propositions that pass the projection gate (confidence
and the relation's declared object type), aggregated as the warehouse stores
them.
"""

from __future__ import annotations

import hashlib
import json
import os

import pyarrow as pa
import pyarrow.parquet as pq

from corpus import Corpus
from dice_spark.operators.projection import DEFAULT_MIN_CONFIDENCE, MAX_EDGE_SOURCE_IDS
from dice_spark.synth import ORGS, RELATIONS

CONTEXT = "kg"
_OBJECT_TYPE = {p: ot for p, _st, ot in RELATIONS}

EDGES_SCHEMA = pa.schema([
    ("source_id", pa.string()), ("target_id", pa.string()), ("edge_type", pa.string()),
    ("confidence", pa.float64()), ("description", pa.string()),
    pa.field("source_prop_ids", pa.list_(pa.field("element", pa.string(), False)), False),
    pa.field("n_source_props", pa.int64(), False), ("edge_ref", pa.string()),
])


def _md5(s: str) -> str:
    return hashlib.md5(s.encode()).hexdigest()


def _object(span: str) -> tuple[str, str]:
    """(entity_type, canonical name) of an object span."""
    if span in ORGS:
        return "Org", span
    if span.startswith("Project "):
        return "Project", span
    return "Person", span


def _subject(corpus: Corpus, span: str) -> str:
    """Canonical "First Last" of a generated subject surface form."""
    if span.startswith("Dr. "):
        span = span[4:]
    if ", " in span:
        last, first = span.split(", ", 1)
        span = f"{first} {last}"
    span = span.replace(" Q. ", " ")
    return corpus.name_of[span.lower()]


def _split(sent: str) -> tuple[str, str, str]:
    """(subject span, predicate, object span) of a generated sentence."""
    body = sent[:-1]
    pred = next(p for p, _st, _ot in RELATIONS if p in body.lower())
    pos = body.lower().find(pred)
    return body[:pos].strip(), pred, body[pos + len(pred):].strip()


def build(corpus: Corpus, n_sentences: int) -> dict[str, list[dict]]:
    """Entity rows (entity_id, entity_type, n_mentions) and edge rows."""
    entities: dict[str, dict] = {}
    props: dict[str, dict] = {}

    def mention(etype: str, name: str) -> str:
        eid = _md5(f"{CONTEXT}|{etype.lower()}|{name.lower()}")
        e = entities.setdefault(eid, {"entity_id": eid, "entity_type": etype, "n_mentions": 0})
        e["n_mentions"] += 1
        return eid

    for sent in corpus.sentences(n_sentences):
        subj_span, pred, obj_span = _split(sent)
        otype, oname = _object(obj_span)
        prop = {
            "prop_id": _md5(f"{CONTEXT}|{sent}"), "text": sent, "predicate": pred,
            "obj_type": otype, "confidence": 0.5 + (len(sent) % 50) / 100.0,
            "subj_id": mention("Person", _subject(corpus, subj_span)),
            "obj_id": mention(otype, oname),
        }
        props.setdefault(prop["prop_id"], prop)

    groups: dict[tuple, list[dict]] = {}
    for p in props.values():
        ot = _OBJECT_TYPE[p["predicate"]]
        if p["confidence"] < DEFAULT_MIN_CONFIDENCE or (ot is not None and p["obj_type"] != ot):
            continue
        etype = "_".join(p["predicate"].upper().split())
        groups.setdefault((p["subj_id"], p["obj_id"], etype), []).append(p)
    edges = []
    for (src, dst, etype), ps in sorted(groups.items()):
        edges.append({
            "source_id": src, "target_id": dst, "edge_type": etype,
            "confidence": round(max(p["confidence"] for p in ps), 6),
            "description": min(p["text"] for p in ps),
            "source_prop_ids": sorted(p["prop_id"] for p in ps)[:MAX_EDGE_SOURCE_IDS],
            "n_source_props": len(ps),
            "edge_ref": f"{src}-[{etype}]->{dst}",
        })
    return {"entities": list(entities.values()), "edges": edges}


def write_edges(edges: list[dict], root: str) -> None:
    """Lay the edges out as a ``storage.Warehouse`` table snapshot."""
    snap = os.path.join(root, "edges", "snap-0")
    os.makedirs(snap)
    pq.write_table(pa.Table.from_pylist(edges, schema=EDGES_SCHEMA), os.path.join(snap, "part-0.parquet"))
    with open(os.path.join(root, "edges", "_current"), "w") as f:
        json.dump({"snapshot": "snap-0"}, f)
