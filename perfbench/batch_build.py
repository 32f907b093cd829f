"""batch_build: bulk KG construction over a generated parquet transcripts
table: ``pipeline.run_pipeline`` on the table, then the natural-key MERGE of
its propositions, entities and edges into a fresh ``storage.Warehouse`` per
repetition (the writes the spark-submit job makes).

Two builds warm the session up and are discarded; timed builds then run
until the run's seconds are spent, at least two, and the median build is the
result. Traced runs add one build with every layer boundary wrapped: the
wrapper calls the layer, materializes its output under the layer's job group
and records a span with the layer's counts. Whole-job counts come from the
first untraced timed build.
"""

from __future__ import annotations

import contextlib
import json
import os
import shutil
import time

import checks
from corpus import Corpus, write_parquet
from harness import job_region_counts, median, release_cached

N_TURNS = 2000
MIN_TURNS, MAX_TURNS = 24, 56
# The JIT keeps compiling through the first builds of a session; the second
# warm-up build brings the CPU cost per build close to its steady value.
WARMUP_BUILDS = 2
MIN_TIMED_BUILDS = 2
# The natural keys the batch job MERGEs each KG table on.
MERGE_KEYS = {"propositions": ["prop_id"], "entities": ["entity_id"], "edges": ["edge_ref"]}


def build(spark, input_path: str, warehouse: str, run_id: str) -> None:
    from dice_spark.pipeline import run_pipeline
    from dice_spark.storage import Warehouse

    out = run_pipeline(spark.read.parquet(input_path), run_id=run_id)
    wh = Warehouse(warehouse, spark)
    for table, keys in MERGE_KEYS.items():
        wh.merge(table, out[table], keys=keys)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _s, fs in os.walk(path) for f in fs
    )


@contextlib.contextmanager
def patched(pairs):
    """Temporarily replace module attributes: pairs of (module, name, fn)."""
    saved = [(m, n, getattr(m, n)) for m, n, _f in pairs]
    for m, n, f in pairs:
        setattr(m, n, f)
    try:
        yield
    finally:
        for m, n, f in saved:
            setattr(m, n, f)


def layer_wrappers(tracer):
    """(module, attribute, wrapper) for every traced layer boundary."""
    from pyspark.sql import functions as F

    import dice_spark.operators.canonicalize as canon
    import dice_spark.operators.mention_filter as mf
    import dice_spark.pipeline as pipe
    from dice_spark.storage import Warehouse

    def eager(df):
        return df.localCheckpoint(eager=True)

    orig = {
        "windowed_turns": pipe.windowed_turns,
        "assemble_windows": pipe.assemble_windows,
        "extract_triples_udf": pipe.extract_triples_udf,
        "filter_mention_groups": mf.filter_mention_groups,
        "canonicalize_mentions": pipe.canonicalize_mentions,
        "connected_components": canon.connected_components,
        "classify_projection": pipe.classify_projection,
        "project_edges": pipe.project_edges,
        "merge": Warehouse.merge,
    }

    def windowed_turns(transcripts, *a, **k):
        with tracer.span("assembly"):
            return eager(orig["windowed_turns"](transcripts, *a, **k))

    def assemble_windows(transcripts, *a, **k):
        with tracer.span("assembly") as c:
            out = orig["assemble_windows"](transcripts, *a, **k)
            c["chunks_out"] = out.select("chunk_id").count()
            return out

    def extract_triples_udf(turns, *a, **k):
        with tracer.span("extraction") as c:
            c["seam_rows_in"] = turns.count()
            out = eager(orig["extract_triples_udf"](turns, *a, **k))
            c["triples_out"] = out.count()
            return out

    def filter_mention_groups(counted, *a, **k):
        with tracer.span("mention_filter") as c:
            counted = eager(counted)
            c["groups_in"] = counted.count()
            valid, rejected = orig["filter_mention_groups"](counted, *a, **k)
            valid = eager(valid)
            c["kept"] = valid.count()
            return valid, rejected

    def canonicalize_mentions(*a, **k):
        with tracer.span("canonicalize") as c:
            entities, mapping = orig["canonicalize_mentions"](*a, **k)
            entities, mapping = eager(entities), eager(mapping)
            c["entities_out"] = entities.count()
            return entities, mapping

    def connected_components(nodes, edges, *a, **k):
        c = tracer.current()
        edges = eager(edges)
        n = edges.count()
        ceiling = int(os.environ.get("DICE_CC_DRIVER_MAX_EDGES", canon.DRIVER_CC_MAX_EDGES))
        c["match_edges"] = c.get("match_edges", 0) + n
        c["driver_path_calls"] = c.get("driver_path_calls", 0) + int(0 < n <= ceiling)
        return orig["connected_components"](nodes, edges, *a, **k)

    def classify_projection(props, *a, **k):
        with tracer.span("projection") as c:
            props = eager(props)
            c["props_in"] = props.count()
            out = eager(orig["classify_projection"](props, *a, **k))
            c["projected"] = out.filter(F.col("lifecycle") == "PROJECTED").count()
            return out

    def project_edges(classified, *a, **k):
        with tracer.span("projection") as c:
            out = eager(orig["project_edges"](classified, *a, **k))
            c["edges_out"] = out.count()
            return out

    def merge(self, name, df, *a, **k):
        with tracer.span("storage") as c:
            orig["merge"](self, name, df, *a, **k)
            with open(self._pointer(name)) as f:
                snap = json.load(f)["snapshot"]
            c["bytes_written"] = dir_bytes(os.path.join(self._table_dir(name), snap))
            c["merge_calls"] = 1

    return [
        (pipe, "windowed_turns", windowed_turns),
        (pipe, "assemble_windows", assemble_windows),
        (pipe, "extract_triples_udf", extract_triples_udf),
        (mf, "filter_mention_groups", filter_mention_groups),
        (pipe, "canonicalize_mentions", canonicalize_mentions),
        (canon, "connected_components", connected_components),
        (pipe, "classify_projection", classify_projection),
        (pipe, "project_edges", project_edges),
        (Warehouse, "merge", merge),
    ]


def layer_metrics(tracer, pipeline_counts: dict, text_bytes: int) -> dict:
    tracer.attach_jobs()

    def spans(name):
        return tracer.by_name(name)

    def wall(name):
        return sum(s["end"] - s["start"] for s in spans(name))

    def jobs(name):
        return sum(s["jobs"] for s in spans(name))

    def count(name, key):
        return sum(s["counts"].get(key, 0) for s in spans(name))

    out = {f"pipeline.{k}": v for k, v in pipeline_counts.items()}
    out.update({
        "assembly.wall_s": wall("assembly"),
        "assembly.chunks_out": count("assembly", "chunks_out"),
        "assembly.jobs": jobs("assembly"),
        "extraction.wall_s": wall("extraction"),
        "extraction.seam_rows_in": count("extraction", "seam_rows_in"),
        "extraction.triples_out": count("extraction", "triples_out"),
        "extraction.executor_cpu_s": sum(s["executor_cpu_s"] for s in spans("extraction")),
        "extraction.jobs": jobs("extraction"),
        "mention_filter.groups_in": count("mention_filter", "groups_in"),
        "mention_filter.kept_ratio": count("mention_filter", "kept") / max(1, count("mention_filter", "groups_in")),
        "canonicalize.wall_s": wall("canonicalize"),
        "canonicalize.match_edges": count("canonicalize", "match_edges"),
        "canonicalize.entities_out": count("canonicalize", "entities_out"),
        "canonicalize.jobs": jobs("canonicalize"),
        "canonicalize.driver_path_calls": count("canonicalize", "driver_path_calls"),
        "projection.wall_s": wall("projection"),
        "projection.props_in": count("projection", "props_in"),
        "projection.edges_out": count("projection", "edges_out"),
        "projection.projected_ratio": count("projection", "projected") / max(1, count("projection", "props_in")),
        "projection.jobs": jobs("projection"),
        "storage.merge_wall_s": wall("storage"),
        "storage.merge_calls": count("storage", "merge_calls"),
        "storage.bytes_written_mb": count("storage", "bytes_written") / 2**20,
        "storage.write_amplification": count("storage", "bytes_written") / text_bytes,
    })
    return out


def run(ctx) -> dict:
    corpus = Corpus(ctx.seed)
    table = corpus.conversations(N_TURNS, MIN_TURNS, MAX_TURNS)
    input_path = os.path.join(ctx.work, "transcripts.parquet")
    write_parquet(table, input_path)
    n_turns = len(table)
    spark, tracer = ctx.spark, ctx.tracer

    cpu: list[float] = []

    def one(tag: str) -> tuple[float, str]:
        wh = os.path.join(ctx.work, f"wh-{tag}")
        c0, t0 = ctx.cpu.read(), time.perf_counter()
        build(spark, input_path, wh, tag)
        dt = time.perf_counter() - t0
        cpu.append(ctx.cpu.read() - c0)
        release_cached(spark)
        return dt, wh

    for i in range(WARMUP_BUILDS):
        shutil.rmtree(one(f"warmup{i}")[1])
    cpu.clear()
    ctx.setup_done()

    walls: list[float] = []
    failed = attempted = 0
    last_wh = None
    pipeline_counts = None
    deadline = time.perf_counter() + ctx.seconds
    while time.perf_counter() < deadline or attempted < MIN_TIMED_BUILDS:
        attempted += 1
        lo = tracer.jobs.mark()
        try:
            dt, wh = one(f"rep{attempted}")
        except Exception as exc:  # counted as a failed build; the loop goes on
            ctx.note(f"build {attempted} failed: {exc!r}")
            failed += 1
            continue
        if pipeline_counts is None and tracer.enabled:
            pipeline_counts = job_region_counts(tracer, lo, tracer.jobs.mark())
        walls.append(dt)
        if last_wh is not None:
            shutil.rmtree(last_wh)
        last_wh = wh
    ctx.measure_done()
    p50 = median(walls) if walls else float("nan")
    build_cpu = median(cpu[: len(walls)]) if walls else float("nan")

    result: dict = {}
    if tracer.enabled and walls:
        with tracer.span("pipeline"), patched(layer_wrappers(tracer)):
            _dt, traced_wh = one("traced")
        shutil.rmtree(traced_wh)
        text_bytes = int(table["text"].str.len().sum())
        result["layers"] = layer_metrics(tracer, pipeline_counts, text_bytes)
        result["trace_overhead"] = cpu[-1] / median(cpu[: len(walls)]) - 1.0

    quality = checks.batch_quality(last_wh, input_path) if last_wh else {}
    q = min(quality.values()) if quality else 0.0
    result.update({
        "attempted": attempted,
        "failed": failed,
        "correct": failed == 0 and q == 1.0,
        "cpu_s": build_cpu,
        "quality": q,
        "table": {
            "build_cpu_s": (build_cpu, "s", len(walls)),
            "build_p50_s": (p50, "s", len(walls)),
            "turns_per_s": (n_turns / p50, "1/s", len(walls)),
            **{k: (v, "ratio", 1) for k, v in quality.items()},
        },
    })
    return result
