"""Round-5 seams: counted pair overflow end-to-end and the
bounded-state (TTL) streaming dedup contract.

Pair overflow (round-4 VERDICT #8): ``enumerate_pairs`` caps mention
pairs at ``max_mentions`` (operators/rc.py) and SURVEY §4 promises the
overflow is COUNTED into metrics rather than OOMing — these tests pin
the count both at the operator (``pair_overflow_stats``) and in the
pipeline's lineage-visible metrics stage, with a 30-mention turn:
dropped ordered pairs = 30*29 - 16*15 = 630.

TTL dedup (round-4 VERDICT #4): ``stream_dedup_documents_ttl`` must
suppress a re-delivery whose event time lands inside the ttl horizon
and re-emit one beyond it (state evicted by the watermark).
"""

import json
import os

from pyspark.sql import functions as F

from sherlock_spark.model_stub import (
    FIXTURE_NER_LEXICON,
    FIXTURE_RC_LABELS,
    FIXTURE_RC_RULES,
)
from sherlock_spark.operators.metrics import pair_overflow_stats
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.operators.rc import enumerate_pairs
from sherlock_spark.plans import run_kg_pipeline
from sherlock_spark.sources import synth_transcripts_from_fixtures

# one turn of 30 single-token CITY mentions (every "paris" opens a new
# B-CITY span) plus one normal two-mention turn as the non-overflow
# control
BIG_SENTENCE = ("paris " * 30).strip()
SMALL_SENTENCE = "montcourt visited paris"


def _annotated(spark):
    transcripts = synth_transcripts_from_fixtures(
        spark,
        n_convs=2,
        turns_per_conv=1,
        sentences=[BIG_SENTENCE, SMALL_SENTENCE],
    )
    return annotate_mentions(spark, transcripts, FIXTURE_NER_LEXICON)


def test_pair_overflow_stats_counts_dropped_pairs(spark):
    annotated = _annotated(spark)
    stats = pair_overflow_stats(annotated, max_mentions=16).first()
    assert stats.n_turns == 2
    assert stats.n_overflow_turns == 1
    assert stats.n_mentions_dropped == 30 - 16
    assert stats.n_pairs_dropped == 30 * 29 - 16 * 15  # 630


def test_pair_overflow_reconciles_with_enumerate_pairs(spark):
    # emitted + dropped == uncapped total, exactly
    annotated = _annotated(spark)
    emitted = enumerate_pairs(annotated, max_mentions=16)
    stats = pair_overflow_stats(annotated, max_mentions=16).first()
    uncapped_total = annotated.select(
        F.sum(F.size("ments") * (F.size("ments") - 1)).alias("t")
    ).first().t
    assert emitted.count() + stats.n_pairs_dropped == uncapped_total
    # and the overflowing turn is flagged on every one of its pair rows
    flagged = emitted.filter("ments_overflow").select("conv_id").distinct()
    assert flagged.count() == 1


def test_pipeline_metrics_stage_carries_pair_overflow(spark, tmp_path):
    transcripts = synth_transcripts_from_fixtures(
        spark,
        n_convs=2,
        turns_per_conv=1,
        sentences=[BIG_SENTENCE, SMALL_SENTENCE],
    )
    result = run_kg_pipeline(
        spark,
        transcripts,
        str(tmp_path / "kg"),
        ner_lexicon=FIXTURE_NER_LEXICON,
        rc_labels=FIXTURE_RC_LABELS,
        rc_rule_map=FIXTURE_RC_RULES,
        max_mentions=16,
    )
    row = result["pair_overflow_metrics"].first()
    assert row.n_overflow_turns == 1
    assert row.n_pairs_dropped == 630
    # the stage is lineage-visible like every other pipeline output
    stages = {record["stage"] for record in result["lineage"]}
    assert "pair_overflow_metrics" in stages


def test_stage_persists_across_sessions(spark, tmp_path, monkeypatch):
    """SHERLOCK_STAGE_DIR: a second 'process' (simulated by clearing the
    in-memory registry) must serve the staged table from parquet without
    re-running build; a code-digest change must force a rebuild. The
    table is a CheckpointManager stage under the code digest, with a
    lineage record; a schema parquet cannot hold stays session-local."""
    from sherlock_spark import udfcache
    from sherlock_spark.udfcache import _STAGE_CACHE, config_hash, stage

    stage_dir = tmp_path / "stagecache"
    monkeypatch.setenv("SHERLOCK_STAGE_DIR", str(stage_dir))
    builds = []

    def build():
        builds.append(1)
        return spark.range(5).select(F.col("id").alias("n"))

    def lineage_path(digest):
        return stage_dir / digest / "_lineage" / f"{config_hash(key)}.json"

    key = ("round5-test-stage", "x")
    first = stage(spark, key, build)
    assert first.count() == 5 and len(builds) == 1
    record = json.loads(lineage_path(udfcache._code_digest()).read_text())
    assert record["n_rows"] == 5
    # same process, in-memory hit: no rebuild, no re-read
    stage(spark, key, build)
    assert len(builds) == 1
    # fresh process simulation: in-memory registry gone, parquet serves
    _STAGE_CACHE.clear()
    again = stage(spark, key, build)
    assert again.count() == 5
    assert len(builds) == 1  # NOT rebuilt
    # a code edit changes the digest -> the old entry is unreachable
    _STAGE_CACHE.clear()
    monkeypatch.setattr(udfcache, "_CODE_DIGEST", "different-code")
    rebuilt = stage(spark, key, build)
    assert rebuilt.count() == 5
    assert len(builds) == 2  # rebuilt under the new digest
    assert lineage_path("different-code").exists()
    # parquet cannot write an empty struct: localCheckpoint fallback
    empty_key = ("round5-empty-struct",)
    empty = stage(
        spark, empty_key, lambda: spark.range(3).select("id", F.struct().alias("x"))
    )
    assert empty.count() == 3
    assert not (stage_dir / "different-code" / config_hash(empty_key)).exists()


def _write_docs(spark, rows, input_dir, mode):
    spark.createDataFrame(
        rows, "doc_id long, ts timestamp, text string, lang string, source string"
    ).coalesce(1).write.mode(mode).parquet(input_dir)


def test_stream_dedup_ttl_inside_and_outside_horizon(spark, tmp_path):
    """ttl = 10 min. doc 1 re-delivered 2 min later (inside horizon,
    suppressed) and again 100 min later AFTER the watermark advanced
    past its state expiry (outside horizon, emitted again); doc 2's
    exact re-delivery while still in state is suppressed."""
    from datetime import datetime, timezone

    from sherlock_spark.streaming.stream import stream_dedup_documents_ttl

    def at(minutes):
        return datetime.fromtimestamp(
            1704067200 + minutes * 60, tz=timezone.utc
        ).replace(tzinfo=None)

    base = str(tmp_path / "ttl")
    input_dir = os.path.join(base, "input")
    output_dir = os.path.join(base, "out")
    ckpt = os.path.join(base, "ckpt")

    def run():
        stream_dedup_documents_ttl(
            spark, input_dir, output_dir, ckpt, ttl="10 minutes"
        )

    # run 1: first arrivals
    _write_docs(
        spark,
        [(1, at(0), "a", "en", "s"), (2, at(0), "b", "en", "s")],
        input_dir,
        "overwrite",
    )
    run()
    # run 2: doc 1 re-delivered INSIDE the horizon (suppressed in every
    # microbatch interleaving: in-state if the watermark hasn't moved,
    # late data if it has) + doc 3 far in the future, which advances
    # the watermark to +90 min — past docs 1/2's +10 min state expiry
    _write_docs(
        spark,
        [(1, at(2), "a", "en", "s"), (3, at(100), "c", "en", "s")],
        input_dir,
        "append",
    )
    run()
    # run 3: doc 1 re-delivered OUTSIDE the horizon (state evicted ->
    # emitted again); doc 3 re-delivered while still in state (suppressed)
    _write_docs(
        spark,
        [(1, at(100), "a", "en", "s"), (3, at(100), "c", "en", "s")],
        input_dir,
        "append",
    )
    run()

    emitted = (
        spark.read.parquet(output_dir)
        .groupBy("doc_id")
        .agg(F.count("*").alias("n"))
    )
    counts = {r.doc_id: r.n for r in emitted.collect()}
    assert counts == {1: 2, 2: 1, 3: 1}
