"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (numpy ``default_rng``):
the same seed gives byte-identical tables. Nothing here imports Spark;
the benchmark writes the tables to parquet and the program reads them.

- ``kg_wide``: a transcript corpus over a lexicon of about 10^5
  surfaces with three aliases per KB id, about 4 mentions per turn and
  one hot conversation holding a fifth of the turns. Many distinct
  surfaces, few pairs per turn.
- ``registry``: the tables the registry's headline queries read
  (``documents``, ``embeddings``, ``events`` and the TPC-H-like
  ``region``, ``nation``, ``customer``, ``orders``, ``lineitem``), with
  the schemas and value ranges of the registry's smallest test scale.
"""

from __future__ import annotations

from dataclasses import dataclass
from datetime import datetime, timedelta

import numpy as np
import pyarrow as pa

# the registry's documents vocabulary: the 10 default NER lexicon words
# plus filler words that are never mentions
LEXICON_WORDS = [
    "batch", "hash", "join", "merge", "scan", "sort", "spark", "stream",
    "table", "window",
]
FILLER = [
    "a", "agg", "big", "column", "customer", "data", "fast", "filter",
    "group", "key", "line", "order", "part", "query", "row", "slow",
    "small", "the", "value", "vector",
]
ROLES = ["user", "assistant", "tool"]
_EPOCH = datetime(2026, 1, 1)

# salt_by_conv's default chunk: longer conversations are split
SALT_CHUNK_TURNS = 256
# kg_wide: share of turns in the one hot conversation, and the length
# of every other conversation
HOT_SHARE = 0.2
TURNS_PER_CONV = 50


@dataclass(frozen=True)
class Corpus:
    """A generated transcript corpus plus the lexicon and the
    (alias, kb_id, entity type) rows the pipeline runs with."""

    transcripts: pa.Table
    lexicon: dict[str, str]
    aliases: list[tuple[str, str, str]]


def _transcripts(conv_ids: list[str], turn_idx: np.ndarray, texts: list[str]) -> pa.Table:
    n = len(texts)
    roles = [ROLES[i % 3] for i in range(n)]
    return pa.table(
        {
            "conv_id": pa.array(conv_ids, pa.string()),
            "turn_idx": pa.array(turn_idx, pa.int32()),
            "role": pa.array(roles, pa.string()),
            "text": pa.array(texts, pa.string()),
            "tool": pa.array(
                ["search" if role == "tool" else None for role in roles], pa.string()
            ),
            "ts": pa.array(
                [_EPOCH + timedelta(minutes=i) for i in range(n)], pa.timestamp("us")
            ),
        }
    )


def wide_surface(i: int) -> str:
    return f"e{i:06d}"


def kg_wide(seed: int, n_turns: int = 2000, n_surfaces: int = 96000) -> Corpus:
    """Wide corpus: 3-5 mentions per turn over a large lexicon.

    Mentions walk a seeded permutation of the lexicon, so the first
    ``n_surfaces`` mentions are all distinct: every mention of the
    default 2,000 turns is its own surface, and all of them link.
    Surfaces ``3k, 3k+1, 3k+2`` share KB id ``Q<k>`` and one entity
    type.
    """
    rng = np.random.default_rng([seed, 2])
    types = ["ENGINE", "OPERATOR", "SOURCE"]
    lexicon = {wide_surface(i): f"B-{types[(i // 3) % 3]}" for i in range(n_surfaces)}
    aliases = [
        (wide_surface(i), f"Q{i // 3}", types[(i // 3) % 3]) for i in range(n_surfaces)
    ]
    order = rng.permutation(n_surfaces)
    cursor = 0
    texts = []
    for _ in range(n_turns):
        n_ments = int(rng.integers(3, 6))
        n_words = n_ments + int(rng.integers(6, 11))
        words = [FILLER[i] for i in rng.integers(0, len(FILLER), n_words)]
        for slot in rng.choice(n_words, size=n_ments, replace=False):
            words[slot] = wide_surface(int(order[cursor % n_surfaces]))
            cursor += 1
        texts.append(" ".join(words))
    n_hot = int(n_turns * HOT_SHARE)
    # hot turns are spread through the corpus, not one block
    hot = np.zeros(n_turns, dtype=bool)
    hot[rng.choice(n_turns, size=n_hot, replace=False)] = True
    conv, turn_idx = [], []
    hot_seen = cold_seen = 0
    for is_hot in hot:
        if is_hot:
            conv.append("hot")
            turn_idx.append(hot_seen)
            hot_seen += 1
        else:
            conv.append(f"w{cold_seen // TURNS_PER_CONV}")
            turn_idx.append(cold_seen % TURNS_PER_CONV)
            cold_seen += 1
    return Corpus(_transcripts(conv, np.array(turn_idx), texts), lexicon, aliases)


# -- registry tables -----------------------------------------------------

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["de", "en", "es", "fr", "zh"]
N_DOCUMENTS = 500
N_VECTORS = 500
DIMS = 64
N_EVENTS = 1000
N_USERS = 15
N_CUSTOMERS = 150
N_ORDERS = 1500
N_LINEITEMS = 6000
N_PARTS = 200
N_SUPPLIERS = 10
# share of documents that are a copy of an earlier one plus " dup":
# near duplicates for the MinHash and n-gram dedup queries
DUP_SHARE = 0.05


def _days(rng: np.random.Generator, start: datetime, span_days: int, n: int) -> pa.Array:
    offsets = rng.integers(0, span_days, n)
    return pa.array([start + timedelta(days=int(d)) for d in offsets], pa.timestamp("us"))


def _money(rng: np.random.Generator, low: float, high: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(low, high, n), 2)


def _documents(rng: np.random.Generator) -> pa.Table:
    vocab = LEXICON_WORDS + FILLER
    texts: list[str] = []
    for i in range(N_DOCUMENTS):
        if i >= 10 and rng.random() < DUP_SHARE:
            texts.append(texts[int(rng.integers(0, i))] + " dup")
            continue
        n_words = int(rng.integers(10, 100))
        texts.append(" ".join(vocab[j] for j in rng.integers(0, len(vocab), n_words)))
    return pa.table(
        {
            "doc_id": pa.array(range(N_DOCUMENTS), pa.int64()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([LANGS[j] for j in rng.integers(0, 5, N_DOCUMENTS)]),
            "source": pa.array([f"src{j}" for j in rng.integers(0, 20, N_DOCUMENTS)]),
            "n_chars": pa.array([len(t) for t in texts], pa.int64()),
        }
    )


def _embeddings(rng: np.random.Generator) -> pa.Table:
    vectors = rng.standard_normal((N_VECTORS, DIMS))
    vectors /= np.linalg.norm(vectors, axis=1, keepdims=True)
    return pa.table(
        {
            "vec_id": pa.array(range(N_VECTORS), pa.int64()),
            "embedding": pa.array(
                list(vectors.astype(np.float32)), pa.list_(pa.float32())
            ),
            "label": pa.array(rng.integers(0, 10, N_VECTORS), pa.int32()),
        }
    )


def _events(rng: np.random.Generator) -> pa.Table:
    # about 43 minutes apart on average over 30 days, with microseconds
    gaps = rng.exponential(2590.0, N_EVENTS) + rng.random(N_EVENTS) * 1e-3
    start = datetime(2024, 1, 1)
    ts = [start + timedelta(seconds=float(s)) for s in np.cumsum(gaps)]
    return pa.table(
        {
            "event_id": pa.array(range(N_EVENTS), pa.int64()),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, N_USERS, N_EVENTS), pa.int64()),
            "event_type": pa.array([EVENT_TYPES[j] for j in rng.integers(0, 5, N_EVENTS)]),
            "value": pa.array(_money(rng, 0.01, 330.0, N_EVENTS)),
            "props": pa.array([f'{{"k": {j}}}' for j in rng.integers(0, 100, N_EVENTS)]),
        }
    )


def _tpch(rng: np.random.Generator) -> dict[str, pa.Table]:
    region = pa.table(
        {
            "r_regionkey": pa.array(range(len(REGIONS)), pa.int32()),
            "r_name": pa.array(REGIONS),
        }
    )
    nation = pa.table(
        {
            "n_nationkey": pa.array(range(25), pa.int32()),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32()),
        }
    )
    customer = pa.table(
        {
            "c_custkey": pa.array(range(N_CUSTOMERS), pa.int64()),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(N_CUSTOMERS)]),
            "c_nationkey": pa.array(rng.integers(0, 25, N_CUSTOMERS), pa.int32()),
            "c_acctbal": pa.array(_money(rng, -999.99, 9999.99, N_CUSTOMERS)),
            "c_mktsegment": pa.array(
                [SEGMENTS[j] for j in rng.integers(0, 5, N_CUSTOMERS)]
            ),
        }
    )
    orders = pa.table(
        {
            "o_orderkey": pa.array(range(N_ORDERS), pa.int64()),
            "o_custkey": pa.array(rng.integers(0, N_CUSTOMERS, N_ORDERS), pa.int64()),
            "o_orderstatus": pa.array([["F", "O", "P"][j] for j in rng.integers(0, 3, N_ORDERS)]),
            "o_totalprice": pa.array(_money(rng, 1000.0, 500000.0, N_ORDERS)),
            "o_orderdate": _days(rng, datetime(1995, 1, 1), 2404, N_ORDERS),
            "o_orderpriority": pa.array([PRIORITIES[j] for j in rng.integers(0, 5, N_ORDERS)]),
        }
    )
    quantity = rng.integers(1, 51, N_LINEITEMS).astype(float)
    lineitem = pa.table(
        {
            "l_orderkey": pa.array(rng.integers(0, N_ORDERS, N_LINEITEMS), pa.int64()),
            "l_partkey": pa.array(rng.integers(0, N_PARTS, N_LINEITEMS), pa.int64()),
            "l_suppkey": pa.array(rng.integers(0, N_SUPPLIERS, N_LINEITEMS), pa.int64()),
            "l_linenumber": pa.array(rng.integers(1, 8, N_LINEITEMS), pa.int32()),
            "l_quantity": pa.array(quantity),
            "l_extendedprice": pa.array(
                np.round(quantity * rng.uniform(900.0, 2100.0, N_LINEITEMS), 2)
            ),
            "l_discount": pa.array(rng.integers(0, 11, N_LINEITEMS) / 100.0),
            "l_tax": pa.array(rng.integers(0, 9, N_LINEITEMS) / 100.0),
            "l_returnflag": pa.array([["A", "N", "R"][j] for j in rng.integers(0, 3, N_LINEITEMS)]),
            "l_linestatus": pa.array([["F", "O"][j] for j in rng.integers(0, 2, N_LINEITEMS)]),
            "l_shipdate": _days(rng, datetime(1995, 1, 2), 2498, N_LINEITEMS),
        }
    )
    return {
        "region": region,
        "nation": nation,
        "customer": customer,
        "orders": orders,
        "lineitem": lineitem,
    }


def registry(seed: int) -> dict[str, pa.Table]:
    """The tables of the headline registry queries, by table name."""
    rng = np.random.default_rng([seed, 3])
    return {
        "documents": _documents(rng),
        "embeddings": _embeddings(rng),
        "events": _events(rng),
        **_tpch(rng),
    }
