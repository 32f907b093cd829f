"""kg_serve: one closed-loop client issues seeded graph reads, one request
at a time, against a KG written during set-up.

The requests are graphquery.neighborhood (depth 2 around a popular entity)
and graphquery.path_between (two popular entities, depth 5), issued in
rounds of one each in a seeded order, so runs with different seeds measure
the same mix. Every request consumes its full result inside the timed
region. The result is the median over rounds of the CPU seconds per
request; wall latency is reported beside it.
"""

from __future__ import annotations

import os
import random
import time

import checks
import kg
from corpus import Corpus
from harness import highest_percentile, median

KG_SENTENCES = 12000
KINDS = ["neighborhood", "path_between"]
LAYER_OF = {
    "neighborhood": "graphquery.neighborhood",
    "path_between": "graphquery.path_between",
}
NEIGHBORHOOD_DEPTH = 2
PATH_DEPTH = 5
WARMUP_ROUNDS = 2


class KgServe:
    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.rng = random.Random(seed * 7919 + 1)

    def generate(self) -> None:
        self.tables = kg.build(Corpus(self.seed), KG_SENTENCES)
        kg.write_edges(self.tables["edges"], os.path.join(self.work, "kg"))
        people = [e for e in self.tables["entities"] if e["entity_type"] == "Person"]
        # request targets follow entity popularity (mention count)
        self.people = sorted(people, key=lambda e: (-e["n_mentions"], e["entity_id"]))
        self.person_w = [e["n_mentions"] for e in self.people]
        self.adj = checks.adjacency(self.tables["edges"])

    def open(self, spark) -> None:
        from dice_spark.storage import Warehouse

        self.edges = Warehouse(os.path.join(self.work, "kg"), spark).read("edges")

    # ---- request generation (seeded; the program sees only the arguments) --

    def _person(self) -> dict:
        return self.rng.choices(self.people, weights=self.person_w)[0]

    def next_round(self) -> list[tuple[str, dict]]:
        kinds = KINDS[:]
        self.rng.shuffle(kinds)
        return [(k, self.args(k)) for k in kinds]

    def args(self, kind: str) -> dict:
        if kind == "neighborhood":
            return {"start": self._person()["entity_id"]}
        if kind == "path_between":
            return {"a": self._person()["entity_id"], "b": self._person()["entity_id"]}
        raise ValueError(kind)

    # ---- requests ------------------------------------------------------------

    def call(self, kind: str, a: dict):
        """Issue one request and consume its whole result."""
        from dice_spark.operators import graphquery

        if kind == "neighborhood":
            rows = graphquery.neighborhood(self.edges, a["start"], max_depth=NEIGHBORHOOD_DEPTH).collect()
            return [(r["entity_id"], r["distance"], r["pred"]) for r in rows]
        if kind == "path_between":
            return graphquery.path_between(self.edges, a["a"], a["b"], max_depth=PATH_DEPTH)
        raise ValueError(kind)

    # ---- checks ------------------------------------------------------------

    def check(self, kind: str, a: dict, answer) -> bool:
        """Whether the answer equals an independent reference."""
        if kind == "neighborhood":
            return checks.neighborhood_ok(self.adj, a["start"], NEIGHBORHOOD_DEPTH, answer)
        if kind == "path_between":
            return checks.path_ok(self.adj, a["a"], a["b"], PATH_DEPTH, answer)
        raise ValueError(kind)


def run(ctx) -> dict:
    """ctx: run context from run.py (spark, tracer, seconds, work, timers)."""
    w = KgServe(ctx.seed, ctx.work)
    w.generate()
    w.open(ctx.spark)
    tracer = ctx.tracer
    for _ in range(WARMUP_ROUNDS):  # discarded
        for kind, a in w.next_round():
            w.call(kind, a)
    ctx.setup_done()

    # Traced runs alternate traced and untraced rounds; the CPU ratio of the
    # two halves is the tracing overhead.
    traced = tracer.enabled
    log = []  # (kind, args, answer, seconds, round, traced)
    failed = 0
    deadline = time.perf_counter() + ctx.seconds
    rnd = 0
    round_cpu: dict[int, float] = {}
    while time.perf_counter() < deadline:
        tracer.enabled = traced and rnd % 2 == 0
        c0 = ctx.cpu.read()
        for kind, a in w.next_round():
            tracer.trace_id = len(log)
            with tracer.span(LAYER_OF[kind]):
                t0 = time.perf_counter()
                try:
                    answer = w.call(kind, a)
                except Exception as exc:  # a failed request is counted, the loop goes on
                    ctx.note(f"{kind} failed: {exc!r}")
                    failed += 1
                    answer = None
                dt = time.perf_counter() - t0
            log.append((kind, a, answer, dt, rnd, tracer.enabled))
        round_cpu[rnd] = (ctx.cpu.read() - c0) / len(KINDS)
        rnd += 1
    tracer.enabled = traced
    ctx.measure_done()

    ok = [e for e in log if e[2] is not None]
    checked = [w.check(k, a, ans) for k, a, ans, *_ in ok]
    answer_match = sum(checked) / len(checked) if checked else 0.0
    # a round is the fixed mix; its mean request latency is the unit sample
    rounds: dict[int, list[float]] = {}
    for _k, _a, _ans, dt, r, _tr in ok:
        rounds.setdefault(r, []).append(dt)
    full = [r for r, v in rounds.items() if len(v) == len(KINDS)]
    round_mean = [sum(rounds[r]) / len(KINDS) for r in full]
    cpu = median([round_cpu[r] for r in full]) if full else float("nan")
    all_lat = [e[3] for e in ok]
    p50 = median(round_mean) if round_mean else float("nan")
    result = {
        "attempted": len(log),
        "failed": failed,
        "correct": failed == 0 and answer_match == 1.0,
        "cpu_s": cpu,
        "quality": answer_match,
        "table": {
            "query_cpu_s (round mean)": (cpu, "s", len(full)),
            "query_p50_s (round mean)": (p50, "s", len(round_mean)),
            "requests_per_s": (len(all_lat) / sum(all_lat) if all_lat else 0.0, "1/s", len(all_lat)),
            "answer_match": (answer_match, "ratio", len(checked)),
        },
    }
    for kind in KINDS:
        v = [e[3] for e in ok if e[0] == kind]
        if v:
            result["table"][f"{kind}_p50_s"] = (median(v), "s", len(v))
    tail = highest_percentile(all_lat)
    if tail is not None and tail[0] > 50:
        result["table"][f"query_tail_s (p{tail[0]})"] = (tail[1], "s", len(all_lat))
    if traced:
        result["layers"] = layer_metrics(tracer)
        on = [round_cpu[r] for r in full if r % 2 == 0]
        off = [round_cpu[r] for r in full if r % 2 == 1]
        if on and off:
            result["trace_overhead"] = median(on) / median(off) - 1.0
    return result


def layer_metrics(tracer) -> dict:
    tracer.attach_jobs()
    out = {}
    for layer in LAYER_OF.values():
        spans = tracer.by_name(layer)
        if spans:
            out[f"{layer}_s"] = median([s["end"] - s["start"] for s in spans])
    spans = [s for s in tracer.spans if s["name"].startswith("graphquery.")]
    if spans:
        out["graphquery.jobs_per_call"] = median([s["jobs"] for s in spans])
    return out
