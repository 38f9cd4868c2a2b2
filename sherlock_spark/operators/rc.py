"""Mention-pair enumeration + binary relation classification stage.

Reference semantics: pair enumeration ``binary_rc.py:290-325`` (gold
relations win, else ordered permutations within a sentence), feature
conversion ``binary_rc.py:378-493`` (entity marking + subword
tokenization + cutoff detection), model decode
``transformers_binary_rc.py:42-49`` (argmax, drop ``no_relation``), and
the guid join-back ``transformers_binary_rc.py:59-69`` — which is a
no-op here because pairs never leave their source row's partition.

Spark shape: pair enumeration explodes tiny row-local (h, t) index
structs (quadratic-per-turn blowup bounded by ``max_mentions`` with the
overflow *counted*, never silently dropped — SURVEY.md §4); per-pair
fields are O(1) lookups into once-per-turn ``ments``/``ment_texts``
arrays. Feature-conversion bookkeeping (entity-cutoff and truncation
flags) is pure prefix-sum arithmetic over per-turn subword piece counts
(marking_fast.py closed forms) and therefore runs JVM-side as column
expressions — the per-pair Arrow transfer carries only four scalar
strings, not the words/mentions arrays. One round-robin exchange sits
between pair construction and the model stage (rebalances quadratic
pair skew and keeps one Python stage per task pipeline). The model
forward is the one iterator pandas UDF (per-worker singleton,
vectorized per Arrow batch). The legacy full-conversion-in-UDF path is
kept for the non-default mask strategies and as a parity reference.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Iterator, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from sherlock_spark.model_stub import StubRcModel
from sherlock_spark.text.bert_like import BertLikeTokenizer
from sherlock_spark.text.marking_fast import marking_flags, piece_prefix_sums
from sherlock_spark.udfcache import config_hash, memoized_udf

# worker-side singleton cache keyed by configuration content hash: the
# same configuration maps to one loaded model per Python worker no
# matter how many UDF instances or sessions reference it
_MODEL_CACHE: dict[str, tuple] = {}

RC_RESULT_TYPE = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("cutoff", T.BooleanType()),
        T.StructField("truncated", T.BooleanType()),
        T.StructField("logits", T.MapType(T.StringType(), T.DoubleType())),
    ]
)


def _executor_rc(cache_key: str, broadcast):
    cached = _MODEL_CACHE.get(cache_key)
    if cached is None:
        config = broadcast.value
        model = StubRcModel(config["labels"], config.get("rule_map"))
        tokenizer = BertLikeTokenizer(do_lower_case=True)
        # boundary markers are always in the vocabulary (the reference's
        # additional-token setup always includes them, tacred.py:151-152)
        tokenizer.add_tokens(
            ["[HEAD_START]", "[HEAD_END]", "[TAIL_START]", "[TAIL_END]"]
        )
        tokenizer.add_tokens(config.get("additional_tokens", []))
        cached = (model, tokenizer, config)
        _MODEL_CACHE[cache_key] = cached
    return cached


def pair_index_array(max_mentions: int):
    """Constant ordered-pair index table: element ``m+1`` (1-based) is
    the array of ``(h, t)`` index structs for a turn with ``m`` capped
    mentions — ``[(0,1),(0,2),..,(1,0),..]``, every ordered pair with
    ``h != t``, in the same nested-loop order the old higher-order
    construction produced.

    Why a literal: the previous shape built the pair array per row with
    ``transform``/``filter``/``flatten`` — higher-order functions are
    CodegenFallback in Spark, so every row paid an interpreted
    expression walk (measured at sf1: 15.2 s first evaluation while C2
    warmed the interpreter, ~0.45 s steady vs ~0.12 s for this lookup).
    ``max_mentions`` is a plan-time constant, so the whole table
    (sum of m²-m entries, 1,360 structs at the default 16) constant-
    folds into ONE Literal and the per-row work collapses to an O(1)
    ``element_at``.

    Built as ONE SQL string handed to ``F.expr`` (cached per
    ``max_mentions``): composing it from ~4,000 nested ``F.lit``/
    ``F.struct``/``F.array`` Column objects costs ~4,000 py4j round
    trips — measured 6-9 s of driver-side plan-construction time PER
    QUERY BUILD, dwarfing the execution win. The SQL parse is one call.
    """
    return F.expr(_pair_index_sql(max_mentions))


@lru_cache(maxsize=None)
def _pair_index_sql(max_mentions: int) -> str:
    tables = []
    for m in range(max_mentions + 1):
        pairs = [
            f"named_struct('h',{h},'t',{t})"
            for h in range(m)
            for t in range(m)
            if h != t
        ]
        tables.append(
            f"array({','.join(pairs)})"
            if pairs
            else "cast(array() as array<struct<h:int,t:int>>)"
        )
    return f"array({','.join(tables)})"


def mention_counts(max_mentions: int) -> tuple[Column, Column]:
    """``(n, capped)``: a turn's mention count and that count capped at
    ``max_mentions``, with a null ``ments`` counted as empty.
    ``size(NULL)`` is NULL under ANSI and ``least`` skips nulls, so the
    cap alone would hand a null list the ``max_mentions`` pair slot
    (240 phantom pairs at 16)."""
    n = F.coalesce(F.size("ments"), F.lit(0))
    return n, F.least(n, F.lit(max_mentions))


def enumerate_pairs(annotated: DataFrame, max_mentions: int = 16) -> DataFrame:
    """Ordered mention pairs within each turn (one turn = one sentence,
    mirroring the sentence-restricted search space, binary_rc.py:307-313).

    Row-local: one ``element_at`` into the constant pair-index table
    (``pair_index_array``) and one ``explode`` — Catalyst keeps this in
    the same stage as the upstream scan, no shuffle. Turns with more
    than ``max_mentions`` mentions contribute pairs only over the first
    ``max_mentions`` (array order = position = mention identity) and
    are flagged in ``ments_overflow`` for the metrics sink.
    """
    n, capped = mention_counts(max_mentions)
    pair_array = F.element_at(pair_index_array(max_mentions), capped + 1)
    return (
        annotated.withColumn("ments_overflow", n > F.lit(max_mentions))
        .withColumn("pair", F.explode(pair_array))
        .withColumn("head_idx", F.col("pair.h"))
        .withColumn("tail_idx", F.col("pair.t"))
        .drop("pair")
    )


def rc_classify_udf(
    spark: SparkSession,
    labels: list[str],
    rule_map: Optional[dict[tuple[str, str], str]] = None,
    additional_tokens: Optional[list[str]] = None,
    entity_handling: str = "mark_entity",
    max_length: Optional[int] = 128,
    add_logits: bool = False,
):
    """Iterator pandas UDF: (words, ments, head_idx, tail_idx) -> result.

    Inside each Arrow batch: full feature conversion per pair (marking
    strategy + subword tokenization + entity-cutoff check + encode), one
    vectorized forward, argmax decode. Cutoff pairs get label NULL
    (the reference drops them pre-model, binary_rc.py:202-204).
    """
    config = {
        "labels": list(labels),
        "rule_map": rule_map,
        "additional_tokens": list(additional_tokens or []),
        "entity_handling": entity_handling,
        "max_length": max_length,
        "add_logits": add_logits,
    }
    cache_key = "rc-classify:" + config_hash(config)

    def build():
        broadcast = spark.sparkContext.broadcast(config)

        @F.pandas_udf(RC_RESULT_TYPE)
        def classify(
            batches: Iterator[Tuple[pd.Series, pd.Series, pd.Series, pd.Series]]
        ) -> Iterator[pd.DataFrame]:
            model, tokenizer, config = _executor_rc(cache_key, broadcast)
            handling = config["entity_handling"]
            max_len = config["max_length"]
            emit_logits = config["add_logits"]
            labels_list = model.labels

            # per-worker caches: word -> subword piece count, NER type ->
            # mask piece count. These turn the per-pair marking into O(1)
            # prefix-sum arithmetic (marking_fast.py) — semantics pinned to
            # the reference path by tests/test_marking_fast.py.
            piece_count: dict[str, int] = {}
            mask_pieces: dict[str, tuple[int, int]] = {}

            def word_pieces(word: str) -> int:
                count = piece_count.get(word)
                if count is None:
                    count = len(tokenizer.tokenize(word))
                    piece_count[word] = count
                return count

            def label_mask_pieces(label: str) -> tuple[int, int]:
                cached_pair = mask_pieces.get(label)
                if cached_pair is None:
                    cached_pair = (
                        len(tokenizer.tokenize(f"[HEAD={label}]".lower())),
                        len(tokenizer.tokenize(f"[TAIL={label}]".lower())),
                    )
                    mask_pieces[label] = cached_pair
                return cached_pair

            for words_s, ments_s, head_s, tail_s in batches:
                n = len(words_s)
                cutoffs = np.zeros(n, dtype=bool)
                truncs = np.zeros(n, dtype=bool)
                pairs: list[tuple[str, str, str, str]] = []
                live: list[int] = []
                head_arr = head_s.to_numpy()
                tail_arr = tail_s.to_numpy()
                prev_words_id = None
                prefix: list[int] = [0]
                for i in range(n):
                    words = words_s.iloc[i]
                    ments = ments_s.iloc[i]
                    head = ments[int(head_arr[i])]
                    tail = ments[int(tail_arr[i])]
                    if max_len is None:
                        cutoff = truncated = False
                    else:
                        # rows exploded from one turn arrive adjacent; reuse
                        # the prefix sums while the words buffer is the same
                        words_id = id(words)
                        if words_id != prev_words_id:
                            prefix = piece_prefix_sums(
                                [word_pieces(w) for w in words]
                            )
                            prev_words_id = words_id
                        head_mask, _ = label_mask_pieces(head["label"])
                        _, tail_mask = label_mask_pieces(tail["label"])
                        cutoff, truncated = marking_flags(
                            prefix,
                            len(words),
                            int(head["start"]),
                            int(head["end"]),
                            head_mask,
                            int(tail["start"]),
                            int(tail["end"]),
                            tail_mask,
                            handling,
                            max_len,
                            tokenizer.num_special_tokens_to_add(),
                        )
                    cutoffs[i] = cutoff
                    truncs[i] = truncated
                    if not cutoff:
                        pairs.append(
                            (
                                head["label"],
                                tail["label"],
                                " ".join(words[int(head["start"]) : int(head["end"])]),
                                " ".join(words[int(tail["start"]) : int(tail["end"])]),
                            )
                        )
                        live.append(i)
                label_col = [None] * n
                logits_col = [None] * n
                if pairs:
                    logits = model.forward_pairs(pairs)
                    pred_ids = logits.argmax(axis=1)
                    for row, i in enumerate(live):
                        label_col[i] = labels_list[int(pred_ids[row])]
                        if emit_logits:
                            logits_col[i] = {
                                labels_list[j]: float(value)
                                for j, value in enumerate(logits[row])
                            }
                yield pd.DataFrame(
                    {
                        "label": label_col,
                        "cutoff": cutoffs,
                        "truncated": truncs,
                        "logits": logits_col,
                    }
                )

        return classify.asNondeterministic()

    return memoized_udf(spark, cache_key, build)


MODEL_RESULT_TYPE = T.StructType(
    [
        T.StructField("label", T.StringType()),
        T.StructField("logits", T.MapType(T.StringType(), T.DoubleType())),
    ]
)


def rc_model_udf(
    spark: SparkSession,
    labels: list[str],
    rule_map: Optional[dict[tuple[str, str], str]] = None,
    add_logits: bool = False,
):
    """The model forward alone as an iterator pandas UDF:
    (subj_type, obj_type, subj_text, obj_text) -> struct<label, logits>.

    Feature bookkeeping lives JVM-side (native_marking_flags); the UDF
    input is four scalar strings per pair, so Arrow transfer is flat and
    small. Decode = argmax over the vocabulary, exactly the reference
    (``transformers_binary_rc.py:42-46``).
    """
    config = {
        "labels": list(labels),
        "rule_map": rule_map,
        "add_logits": add_logits,
    }
    cache_key = "rc-model:" + config_hash(config)

    def build():
        broadcast = spark.sparkContext.broadcast(config)

        def _model():
            cached = _MODEL_CACHE.get(cache_key)
            if cached is None:
                conf = broadcast.value
                cached = (
                    StubRcModel(conf["labels"], conf.get("rule_map")),
                    conf["add_logits"],
                )
                _MODEL_CACHE[cache_key] = cached
            return cached

        @F.pandas_udf(MODEL_RESULT_TYPE)
        def forward(
            batches: Iterator[Tuple[pd.Series, pd.Series, pd.Series, pd.Series]]
        ) -> Iterator[pd.DataFrame]:
            model, emit_logits = _model()
            labels_list = model.labels
            for st, ot, sx, ox in batches:
                pairs = list(zip(st, ot, sx, ox))
                logits = model.forward_pairs(pairs)
                pred_ids = logits.argmax(axis=1)
                label_col = [labels_list[int(i)] for i in pred_ids]
                if emit_logits:
                    logits_col = [
                        {labels_list[j]: float(v) for j, v in enumerate(row)}
                        for row in logits
                    ]
                else:
                    logits_col = [None] * len(label_col)
                yield pd.DataFrame({"label": label_col, "logits": logits_col})

        # the forward IS deterministic, but Catalyst duplicates
        # deterministic UDFs when pushing the no_relation filter through
        # the projection — two full model evaluations per pair; the
        # standard fix is to opt out of expression duplication
        return forward.asNondeterministic()

    return memoized_udf(spark, cache_key, build)


def piece_prefix_udf(spark: SparkSession, additional_tokens: Optional[list[str]] = None):
    """Per-turn pandas UDF: words -> subword piece-count prefix sums
    (array<int>, length len(words)+1). Runs once per turn, O(words),
    with a per-worker word->count cache.
    """
    tokens = list(additional_tokens or [])
    cache_key = "piece-prefix:" + config_hash(tokens)

    def build():
        broadcast = spark.sparkContext.broadcast(tokens)

        def _tok():
            cached = _MODEL_CACHE.get(cache_key)
            if cached is None:
                tokenizer = BertLikeTokenizer(do_lower_case=True)
                tokenizer.add_tokens(
                    ["[HEAD_START]", "[HEAD_END]", "[TAIL_START]", "[TAIL_END]"]
                )
                tokenizer.add_tokens(broadcast.value)
                cached = (tokenizer, {})
                _MODEL_CACHE[cache_key] = cached
            return cached

        @F.pandas_udf(T.ArrayType(T.IntegerType()))
        def prefix(batches: Iterator[pd.Series]) -> Iterator[pd.Series]:
            tokenizer, counts = _tok()
            for series in batches:
                out = []
                for words in series:
                    row_counts = []
                    for word in words:
                        count = counts.get(word)
                        if count is None:
                            count = len(tokenizer.tokenize(word))
                            counts[word] = count
                        row_counts.append(count)
                    out.append(piece_prefix_sums(row_counts))
                yield pd.Series(out)

        return prefix

    return memoized_udf(spark, cache_key, build)


def mask_pieces_map(
    labels_in_lexicon: list[str], additional_tokens: Optional[list[str]] = None
):
    """Driver-side piece counts for the [HEAD=T]/[TAIL=T] masks, as a
    literal map column label -> (head_pieces, tail_pieces).
    """
    tokenizer = BertLikeTokenizer(do_lower_case=True)
    tokenizer.add_tokens(
        ["[HEAD_START]", "[HEAD_END]", "[TAIL_START]", "[TAIL_END]"]
    )
    tokenizer.add_tokens(additional_tokens or [])
    entries = {}
    for label in labels_in_lexicon:
        entries[label] = (
            len(tokenizer.tokenize(f"[HEAD={label}]".lower())),
            len(tokenizer.tokenize(f"[TAIL={label}]".lower())),
        )
    return entries


def native_marking_flags(
    entity_handling: str,
    max_length: Optional[int],
    head,
    tail,
    mask_map: Optional[dict[str, tuple[int, int]]] = None,
    n=None,
    prefix=None,
) -> tuple:
    """(cutoff, truncated) as Column expressions — the marking_fast.py
    closed forms, JVM-side. ``n``/``prefix`` default to the row's
    ``words``/``piece_prefix`` columns but can be any expressions (e.g.
    lambda variables inside a per-pair ``transform``). Supports the
    mark_entity family (the mask strategies go through the UDF path).
    """
    if max_length is None:
        return F.lit(False), F.lit(False)
    if n is None:
        n = F.size("words")
    if prefix is None:
        prefix = F.col("piece_prefix")
    total_pieces = F.element_at(prefix, n + 1)
    event_idxs = F.filter(
        F.array(head["start"], tail["start"], head["end"], tail["end"]),
        lambda idx: idx < n,
    )
    n_events = F.size(event_idxs)
    max_idx = F.array_max(event_idxs)
    if entity_handling == "mark_entity":
        last_len = F.element_at(prefix, max_idx + 1) + n_events
        cutoff = F.when(n_events == 0, F.lit(False)).otherwise(
            last_len + F.lit(2) > F.lit(max_length)
        )
        truncated = total_pieces + n_events > F.lit(max_length)
        return cutoff, truncated
    if entity_handling == "mark_entity_append_ner":
        head_pairs = []
        tail_pairs = []
        for label, (head_pieces, tail_pieces) in (mask_map or {}).items():
            head_pairs.extend([F.lit(label), F.lit(head_pieces)])
            tail_pairs.extend([F.lit(label), F.lit(tail_pieces)])
        # unknown labels: masks split to 5 basic pieces ("[", "head", "=",
        # "type", "]") only when the type itself is one basic token; the
        # mask_map must cover the lexicon's label set
        head_mask = (
            F.coalesce(F.create_map(*head_pairs)[head["label"]], F.lit(5))
            if head_pairs
            else F.lit(5)
        )
        tail_mask = (
            F.coalesce(F.create_map(*tail_pairs)[tail["label"]], F.lit(5))
            if tail_pairs
            else F.lit(5)
        )
        last_len = total_pieces + n_events + F.lit(2) + head_mask + tail_mask
        return (
            last_len + F.lit(2) > F.lit(max_length),
            last_len > F.lit(max_length),
        )
    raise ValueError(f"no native path for {entity_handling}")


def extract_triples(
    spark: SparkSession,
    annotated: DataFrame,
    labels: list[str],
    rule_map: Optional[dict[tuple[str, str], str]] = None,
    additional_tokens: Optional[list[str]] = None,
    entity_handling: str = "mark_entity",
    max_length: Optional[int] = 128,
    max_mentions: int = 16,
    ignore_no_relation: bool = True,
    add_logits: bool = False,
    ner_labels: Optional[list[str]] = None,
    dedup_model_inputs: bool = False,
) -> DataFrame:
    """annotated (conv_id, turn_idx, words, ments, ...) -> triples table.

    Output: (conv_id, turn_idx, head_idx, tail_idx, subj_text,
    subj_type, pred, obj_text, obj_type[, logits]).

    Default path (mark_entity family): feature bookkeeping JVM-side +
    model-only pandas UDF. Mask strategies use the full-conversion UDF.

    ``dedup_model_inputs`` (inference caching): forward the model over
    DISTINCT (subj_type, obj_type, subj_text, obj_text) keys only and
    join predictions back — results are identical (the model is a pure
    function of those four fields), but forward cost scales with
    distinct inputs instead of total pairs. A deliberate knob, off by
    default: on corpora with heavy text repetition (agent transcripts
    re-asking the same questions, boilerplate) the win is proportional
    to the repetition factor; on high-cardinality corpora the extra
    distinct shuffle buys nothing. The join back is AQE-managed (the
    prediction table broadcasts when small).
    """
    # append_ner needs the NER label set for mask piece counts; without
    # it the legacy full-conversion UDF path is used instead
    native = entity_handling == "mark_entity" or (
        entity_handling == "mark_entity_append_ner" and ner_labels is not None
    )

    if native:
        # Pair construction in two small steps:
        #
        # 1. Per turn, compute the capped mention slice and the
        #    per-mention surface texts ONCE (O(m) word slices), then
        #    explode an array of tiny (h, t) index structs.
        # 2. Per exploded pair row, derive all fields (texts, types,
        #    marking flags) with O(1) element_at lookups into the
        #    carried per-turn arrays.
        #
        # Two designs were measured and rejected at sf0.1/local[32]:
        # computing pair texts inside the pair array slots rebuilds
        # concat_ws(slice(words, ...)) per slot — O(m²) string work per
        # turn; and building full 8-field pair structs inside the array
        # expands the Generate expression to max_mentions² slots × ~40
        # expression nodes, a CodegenFallback tree so large that a fresh
        # JVM spends ~90-130 s just warming it (interpreted eval + JIT).
        # Index-only explode keeps the Generate expression O(1)-sized
        # and the per-row projection whole-stage-codegen-friendly. The
        # carried arrays are small (≤ max_mentions entries, pruned of
        # ``words``), so the explode stays ~100 B x pairs.
        turns = annotated.select("conv_id", "turn_idx", "words", "ments")
        if max_length is not None:
            prefix_udf = piece_prefix_udf(spark, additional_tokens)
            turns = turns.withColumn("piece_prefix", prefix_udf(F.col("words")))
            mask_map = None
            if entity_handling == "mark_entity_append_ner":
                mask_map = mask_pieces_map(ner_labels, additional_tokens)

        n_ments, capped = mention_counts(max_mentions)
        capped_ments = F.slice(F.col("ments"), F.lit(1), capped)
        ment_texts = F.transform(
            capped_ments,
            lambda ment: F.concat_ws(
                " ",
                F.slice(
                    F.col("words"), ment["start"] + 1, ment["end"] - ment["start"]
                ),
            ),
        )

        turns = turns.select(
            "conv_id",
            "turn_idx",
            # overflow is counted, never silently dropped (metrics sink
            # contract) — same flag the enumerate_pairs path carries
            (n_ments > F.lit(max_mentions)).alias("ments_overflow"),
            capped_ments.alias("ments"),
            ment_texts.alias("ment_texts"),
            *(
                ["piece_prefix", F.size("words").alias("n_words")]
                if max_length is not None
                else []
            ),
        )
        if dedup_model_inputs:
            # The NER UDF output feeds BOTH the distinct-keys branch
            # (building preds) and the probe side of the join back —
            # materialize it once so the model-annotation stage
            # upstream runs once, not twice. Checkpoint the per-TURN
            # table, not the exploded pairs: pairs are quadratic in
            # per-turn mention count (9.3M rows at sf1 vs 50k turns),
            # so materializing them costs more than the model forwards
            # it saves (measured: the round-5 shape, which checkpointed
            # the pair table, ran ~2.5x slower than the per-pair path
            # at sf1). Re-running the index explode per branch is pure
            # JVM projection work over the checkpointed turns; the
            # expensive Python stage runs exactly once.
            # localCheckpoint, NOT persist(): persist registers the plan
            # in the session CacheManager, which holds it for the
            # session's lifetime unless explicitly unpersisted — every
            # invocation would pin another cached DataFrame in executor
            # memory. Checkpoint blocks are owned by the RDD and
            # reclaimed by the ContextCleaner when the returned
            # DataFrame goes out of scope. Eager: this runs the
            # upstream job at construction time (same contract as the
            # stage registry).
            turns = turns.localCheckpoint(eager=True)

        _, m = mention_counts(max_mentions)  # ments already capped
        # O(1) lookup into the constant-folded pair-index literal (see
        # pair_index_array): the old per-row transform/filter/flatten
        # construction was CodegenFallback — interpreted on every row
        # and the single biggest first-evaluation JIT hog of the whole
        # query (15.2 s at sf1). An empty slot (m < 2) explodes to no
        # rows, exactly like the old when(m >= 2, ...) null.
        idx_pairs = F.element_at(pair_index_array(max_mentions), m + 1)
        exploded = turns.withColumn("pair", F.explode(idx_pairs))

        head = F.element_at(F.col("ments"), F.col("pair.h") + 1)
        tail = F.element_at(F.col("ments"), F.col("pair.t") + 1)
        if max_length is not None:
            cutoff, truncated = native_marking_flags(
                entity_handling,
                max_length,
                head,
                tail,
                mask_map,
                n=F.col("n_words"),
                prefix=F.col("piece_prefix"),
            )
        else:
            cutoff, truncated = F.lit(False), F.lit(False)

        pairs = exploded.select(
            "conv_id",
            "turn_idx",
            "ments_overflow",
            F.col("pair.h").alias("head_idx"),
            F.col("pair.t").alias("tail_idx"),
            F.element_at("ment_texts", F.col("pair.h") + 1).alias("subj_text"),
            head["label"].alias("subj_type"),
            F.element_at("ment_texts", F.col("pair.t") + 1).alias("obj_text"),
            tail["label"].alias("obj_type"),
            cutoff.alias("cutoff"),
            truncated.alias("truncated"),
        ).filter(~F.col("cutoff"))

        # Exchange between pair construction and model inference.
        # Two reasons, both measured:
        # (1) chaining two ArrowEvalPython nodes in one task pipeline
        #     (NER UDF -> explode -> RC UDF) runs 2 Python workers per
        #     task with lockstep backpressure — 80 s vs 38 s at
        #     sf0.1/local[32] for the identical plan split in two;
        # (2) pair counts are quadratic in per-turn mention count, so
        #     turn-partitioned pair rows are skewed; a round-robin
        #     rebalance makes the (expensive, per-pair) model stage
        #     uniformly loaded. With a real transformer the forward
        #     dominates the ~100 B/pair shuffle by orders of magnitude.
        # 4 tasks per core: the model stage is the long pole, and with
        # one task per core a single straggler (shared-host noise, skewed
        # Arrow batch) stalls the stage; finer tasks rebalance.
        n_parts = spark.sparkContext.defaultParallelism * 4
        model = rc_model_udf(spark, labels, rule_map, add_logits)
        model_keys = ["subj_type", "obj_type", "subj_text", "obj_text"]
        if dedup_model_inputs:
            # dropDuplicates FIRST (partial, map-side dedup collapses
            # each scan partition to its distinct keys before anything
            # moves — guide: aggregate before you shuffle), THEN hash-
            # repartition the distinct keys so the model stage spreads
            # over the cluster when the distinct-key table is large.
            # The round-5 shape repartitioned the full pair table by
            # the model keys before deduping — a full-width shuffle of
            # the quadratic pair table that the partial aggregation
            # makes unnecessary.
            # (A turn-level pre-dedup — canonical sorted (label, text)
            # profiles deduped before the pair explode — was measured
            # and REJECTED: distinct on an array<struct> key has no
            # codegen fast path (1.1-1.4 s vs 0.7-0.9 s for this shape
            # at sf1), and the opaque array expressions wreck the size
            # estimates the planner needs to broadcast `preds`. The
            # exploded distinct below is partial-aggregated map-side,
            # so each scan task ships only its distinct keys.)
            keys = (
                pairs.select(*model_keys)
                .dropDuplicates()
                .repartition(n_parts, *model_keys)
            )
            preds = keys.withColumn(
                "rc", model(*[F.col(k) for k in model_keys])
            )
            # null-safe join keys: a NULL in any key column must match
            # its own prediction row exactly like the per-pair path
            # feeds it through the UDF — a plain equi-join would drop
            # it. Aliased (preds derives from pairs — a self-join).
            left = pairs.alias("p")
            right = preds.alias("d")
            cond = [
                F.col(f"p.{k}").eqNullSafe(F.col(f"d.{k}"))
                for k in model_keys
            ]
            classified = left.join(right, cond, "left").select(
                *[F.col(f"p.{c}") for c in pairs.columns], F.col("d.rc")
            )
        else:
            pairs = pairs.repartition(n_parts)
            classified = pairs.withColumn(
                "rc", model(*[F.col(k) for k in model_keys])
            )
        result = classified.filter(F.col("rc.label").isNotNull())
        if ignore_no_relation:
            result = result.filter(F.col("rc.label") != "no_relation")
        return result.select(
            "conv_id",
            "turn_idx",
            "head_idx",
            "tail_idx",
            "subj_text",
            "subj_type",
            F.col("rc.label").alias("pred"),
            "obj_text",
            "obj_type",
            "ments_overflow",
            *([F.col("rc.logits").alias("logits")] if add_logits else []),
        )

    pairs = enumerate_pairs(annotated, max_mentions=max_mentions)
    head = F.element_at(F.col("ments"), F.col("head_idx") + 1)
    tail = F.element_at(F.col("ments"), F.col("tail_idx") + 1)

    # legacy path: full feature conversion inside the UDF
    classify = rc_classify_udf(
        spark,
        labels,
        rule_map=rule_map,
        additional_tokens=additional_tokens,
        entity_handling=entity_handling,
        max_length=max_length,
        add_logits=add_logits,
    )
    classified = pairs.withColumn(
        "rc",
        classify(
            F.col("words"), F.col("ments"), F.col("head_idx"), F.col("tail_idx")
        ),
    )
    result = classified.filter(
        F.col("rc.label").isNotNull() & ~F.col("rc.cutoff")
    )
    if ignore_no_relation:
        result = result.filter(F.col("rc.label") != "no_relation")
    return result.select(
        "conv_id",
        "turn_idx",
        "head_idx",
        "tail_idx",
        F.concat_ws(
            " ", F.slice(F.col("words"), head["start"] + 1, head["end"] - head["start"])
        ).alias("subj_text"),
        head["label"].alias("subj_type"),
        F.col("rc.label").alias("pred"),
        F.concat_ws(
            " ", F.slice(F.col("words"), tail["start"] + 1, tail["end"] - tail["start"])
        ).alias("obj_text"),
        tail["label"].alias("obj_type"),
        "ments_overflow",
        *([F.col("rc.logits").alias("logits")] if add_logits else []),
    )
