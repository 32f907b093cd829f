"""Compile-reuse ratchet: repeating identical work in one JVM reuses the
classes Spark generated the first time instead of compiling them again.

Spark keeps generated classes in a JVM-wide cache of
``spark.sql.codegen.cache.maxEntries`` entries (default 100). One pipeline
pass needs about twice that, so with the default every repeat evicts and
recompiles everything; ``session.CODEGEN_CACHE_ENTRIES`` sizes the cache to
the engine's working set, and ``session.py`` keeps AQE's run-dependent
codegen stage numbers out of the class names (the cache key). The
compilation-time histogram of ``CodegenMetrics`` counts every Janino
compile, driver and (in local mode) executor side.
"""

from __future__ import annotations

from dice_spark.pipeline import run_pipeline
from dice_spark.session import CODEGEN_CACHE_ENTRIES
from dice_spark.streaming.stream import StreamingPipeline
from dice_spark.synth import transcripts_from_events


def _compiles(spark) -> int:
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def _compiles_per_pass(spark, run_pass) -> tuple[int, int]:
    counts = []
    for _ in range(2):
        before = _compiles(spark)
        run_pass()
        counts.append(_compiles(spark) - before)
    return counts[0], counts[1]


def _assert_reused(first: int, second: int) -> None:
    assert second <= max(10, first // 10), (
        f"second identical pass compiled {second} classes (first pass {first})"
    )


def _transcripts(spark, sf_dir):
    """Three whole conversations of the sf0.001 set: a small fixed input."""
    tr = transcripts_from_events(spark.read.parquet(f"{sf_dir}/events.parquet"))
    convs = tr.select("conv_id").distinct().orderBy("conv_id").limit(3)
    return (
        tr.join(convs, "conv_id", "left_semi")
        .select("conv_id", "turn_idx", "role", "text")
        .localCheckpoint(eager=True)
    )


def test_session_sizes_the_codegen_cache(spark):
    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == str(CODEGEN_CACHE_ENTRIES)


def test_repeated_build_reuses_generated_classes(spark, sf_dir):
    tr = _transcripts(spark, sf_dir)

    def build():
        out = run_pipeline(tr, context_id="reuse", run_id="reuse-0")
        for name in ("propositions", "entities", "edges"):
            out[name].collect()

    _assert_reused(*_compiles_per_pass(spark, build))


def test_repeated_micro_batch_reuses_generated_classes(spark, sf_dir, tmp_path):
    batch = _transcripts(spark, sf_dir)
    roots = iter(("wh_a", "wh_b"))

    def micro_batch():
        sink = StreamingPipeline(spark, str(tmp_path / next(roots)), context_id="reuse", trigger=1)
        sink.process_batch(batch, 0)

    _assert_reused(*_compiles_per_pass(spark, micro_batch))
