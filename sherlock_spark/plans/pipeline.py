"""The extract -> link -> canonicalize -> materialize DAG.

Spark shape of the reference ``Pipeline`` (``sherlock/pipeline.py:14-60``:
a hand-ordered processor list with provenance stamping), rebuilt as a
graph of materialized DataFrame stages (SURVEY.md §3.2). ``kg_dag`` is
the one wiring of that graph; every stage goes through a
``materialize(name, build, dedup_keys)`` seam, so the same graph runs
checkpointed (``run_kg_pipeline``: ``CheckpointManager.run_stage``,
per-file lineage, idempotent resume) and session-staged (the query
registry: ``udfcache.stage``).

Skew handling: input is repartitioned by ``hash(conv_id, salt)`` with
``salt = turn_idx // chunk_turns`` (``salt_by_conv``): oversized
conversations split into bounded contiguous chunks while normal ones
stay whole. Turn-level work is embarrassingly parallel, so splitting a
conversation is safe — only ordering-sensitive consumers re-sort by
(conv_id, turn_idx). Stage tables keep that layout; no stage re-clusters
by conversation.
"""

from __future__ import annotations

from typing import Callable, Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from sherlock_spark.model_stub import (
    DEFAULT_NER_LEXICON,
    DEFAULT_RC_LABELS,
)
from sherlock_spark.operators.canonicalize import canonicalize, materialize_graph
from sherlock_spark.operators.linking import linked_mentions, make_alias_df
from sherlock_spark.operators.metrics import pair_overflow_stats
from sherlock_spark.operators.ner import annotate_mentions
from sherlock_spark.operators.rc import extract_triples
from sherlock_spark.plans.checkpoint import CheckpointManager


def salt_by_conv(
    df: DataFrame,
    chunk_turns: int = 256,
    num_partitions: int | None = None,
) -> DataFrame:
    """Spread long conversations: partition key (conv_id,
    ``turn_idx // chunk_turns``) — the SURVEY §4 skew safeguard.

    Chunked (not modulo) salting: a conversation with at most
    ``chunk_turns`` turns gets ONE salt value (0) and stays whole — no
    fragmentation of normal conversations — while a mega-conversation
    (the agent-transcript skew case: one conv_id with 10^5+ turns)
    splits into ``ceil(turns / chunk_turns)`` contiguous chunks that
    hash to different tasks. No heavy-key detection pass is needed: the
    salt is a pure per-row expression, costs nothing when no key is
    heavy, and bounds the largest per-task key block at ``chunk_turns``
    rows by construction. Turn-level stages (tokenize/NER/pair-explode)
    are embarrassingly parallel, so splitting a conversation is safe —
    only ordering-sensitive consumers re-sort by (conv_id, turn_idx).

    The partition count is explicit — downstream stages are
    compute-bound (pair explode + model UDFs), and AQE's byte-based
    coalescing would otherwise collapse a small-by-bytes shuffle onto
    one task.
    """
    if num_partitions is None:
        num_partitions = df.sparkSession.sparkContext.defaultParallelism
    return df.repartition(
        num_partitions,
        F.col("conv_id"),
        F.floor(F.col("turn_idx") / F.lit(chunk_turns)),
    )


Materialize = Callable[[str, Callable[[], DataFrame], Optional[list[str]]], DataFrame]


def kg_dag(
    spark: SparkSession,
    transcripts: DataFrame,
    materialize: Materialize,
    ner_lexicon: dict[str, str],
    rc_labels: list[str],
    rc_rule_map: Optional[dict[tuple[str, str], str]],
    aliases: Optional[list[tuple[str, str, str]]],
    entity_handling: str,
    max_length: Optional[int],
    max_mentions: int,
    chunk_turns: int,
    dedup_model_inputs: bool,
) -> dict[str, DataFrame]:
    """The KG stage graph over unsalted ``transcripts``: annotated ->
    triples -> links -> canonical_map -> nodes/edges. Each stage is
    ``materialize(name, build, dedup_keys)``; ``build`` runs only when
    the seam has no stored table for ``name``, so a completed stage
    never re-runs its model UDFs or the CC loop. ``aliases=None`` links
    against ``default_aliases(ner_lexicon)``.
    """

    def build_annotated() -> DataFrame:
        # The NER model stage, the dominant cost of the whole DAG at
        # scale, is materialized ONCE and consumed by every downstream
        # builder (and by the pipeline's pair-overflow metrics), so a
        # cold run pays the forward over the corpus once. Pruned to the
        # columns downstream stages read (conv_id/turn_idx identity,
        # words for surface slicing, ments).
        salted = salt_by_conv(transcripts, chunk_turns)
        return annotate_mentions(spark, salted, ner_lexicon).select(
            "conv_id", "turn_idx", "words", "ments"
        )

    annotated = materialize(
        "annotated", build_annotated, ["conv_id", "turn_idx"]
    )
    triples = materialize(
        "triples",
        lambda: extract_triples(
            spark,
            annotated,
            labels=rc_labels,
            rule_map=rc_rule_map,
            entity_handling=entity_handling,
            max_length=max_length,
            max_mentions=max_mentions,
            dedup_model_inputs=dedup_model_inputs,
        ),
        ["conv_id", "turn_idx", "head_idx", "tail_idx"],
    )

    def build_links() -> DataFrame:
        rows = default_aliases(ner_lexicon) if aliases is None else aliases
        return linked_mentions(annotated, make_alias_df(spark, rows))

    links = materialize(
        "links", build_links, ["conv_id", "turn_idx", "ment_idx"]
    )
    # the tiny canonical map is broadcast twice (subj + obj joins)
    canonical_map = materialize(
        "canonical_map",
        lambda: canonicalize(links),
        ["ment_norm", "ment_label"],
    )

    # one plan serves both graph tables; building it runs no job
    graph_nodes, graph_edges = materialize_graph(triples, canonical_map)
    nodes = materialize("nodes", lambda: graph_nodes, ["canonical_id", "label"])
    edges = materialize("edges", lambda: graph_edges, ["subj_id", "pred", "obj_id"])
    return {
        "annotated": annotated,
        "triples": triples,
        "links": links,
        "canonical_map": canonical_map,
        "nodes": nodes,
        "edges": edges,
    }


def run_kg_pipeline(
    spark: SparkSession,
    transcripts: DataFrame,
    out_dir: str,
    ner_lexicon: Optional[dict[str, str]] = None,
    rc_labels: Optional[list[str]] = None,
    rc_rule_map: Optional[dict[tuple[str, str], str]] = None,
    aliases: Optional[list[tuple[str, str, str]]] = None,
    entity_handling: str = "mark_entity",
    max_length: int = 128,
    max_mentions: int = 16,
    chunk_turns: int = 256,
) -> dict[str, DataFrame]:
    """Run (or resume) the full KG-construction DAG, every stage
    checkpointed under ``out_dir``. Returns the stage DataFrames
    (annotated, triples, links, canonical_map, nodes, edges,
    pair_overflow_metrics) and the stages' lineage records.
    """
    manager = CheckpointManager(spark, out_dir)
    stages = kg_dag(
        spark,
        transcripts,
        manager.run_stage,
        ner_lexicon=DEFAULT_NER_LEXICON if ner_lexicon is None else ner_lexicon,
        rc_labels=DEFAULT_RC_LABELS if rc_labels is None else rc_labels,
        rc_rule_map=rc_rule_map,
        aliases=aliases,
        entity_handling=entity_handling,
        max_length=max_length,
        max_mentions=max_mentions,
        chunk_turns=chunk_turns,
        dedup_model_inputs=False,
    )
    # counted overflow, not silent truncation (SURVEY §4): the
    # max_mentions cap in enumerate_pairs is accounted for in a
    # metrics-table row the lineage output carries
    stages["pair_overflow_metrics"] = manager.run_stage(
        "pair_overflow_metrics",
        lambda: pair_overflow_stats(stages["annotated"], max_mentions),
    )
    stages["lineage"] = manager.all_lineage()
    return stages


def default_aliases(lexicon: dict[str, str]) -> list[tuple[str, str, str]]:
    """One KB id per lexicon surface (types from the BIO tag); gives the
    link stage full coverage on synthetic corpora.
    """
    rows = []
    for word, tag in lexicon.items():
        if tag.startswith("B-"):
            ent_type = tag[2:]
            rows.append((word, f"Q-{word.upper()}", ent_type))
    return rows
