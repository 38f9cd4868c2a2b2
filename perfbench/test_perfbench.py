"""Tests of the benchmark's own parts: generators, oracles, definition.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
They need no Spark session.
"""

from __future__ import annotations

import hashlib
import json
import os
from collections import Counter

import pandas as pd
import pyarrow.parquet as pq

import gen
from oracle import RC_LABELS, PipelineOracle, RegistryOracle, compare
from run import END_TO_END, HEADLINE, PER_LAYER, WORKLOADS

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
# connected_components' driver path handles at most this many edges
CC_LOCAL_EDGES = 65_536


def _turns(corpus: gen.Corpus) -> list[dict]:
    return corpus.transcripts.to_pylist()


def _mentions(corpus: gen.Corpus, text: str) -> list[str]:
    return [w for w in text.split(" ") if w.lower() in corpus.lexicon]


def test_same_seed_same_inputs():
    first, again, other = gen.kg_wide(7), gen.kg_wide(7), gen.kg_wide(8)
    assert first.transcripts.equals(again.transcripts)
    assert first.lexicon == again.lexicon and first.aliases == again.aliases
    assert not first.transcripts.equals(other.transcripts)
    first, again, other = gen.registry(7), gen.registry(7), gen.registry(8)
    assert first.keys() == again.keys()
    assert all(first[name].equals(again[name]) for name in first)
    assert not first["documents"].equals(other["documents"])
    assert not first["lineitem"].equals(other["lineitem"])


def test_kg_wide_shape():
    corpus = gen.kg_wide(3)
    turns = _turns(corpus)
    per_conv = Counter(t["conv_id"] for t in turns)
    mentions = [_mentions(corpus, t["text"]) for t in turns]
    surfaces = {m for ms in mentions for m in ms}
    assert len(corpus.lexicon) >= 90_000
    kb_sizes = Counter(kb for _alias, kb, _type in corpus.aliases)
    assert set(kb_sizes.values()) == {3}
    assert 3.5 <= sum(map(len, mentions)) / len(turns) <= 4.5
    hot, n_hot = per_conv.most_common(1)[0]
    assert n_hot == len(turns) // 5
    # the hot conversation is split by salt_by_conv, no other one is
    assert n_hot > gen.SALT_CHUNK_TURNS
    assert sorted(per_conv.values())[-2] <= gen.SALT_CHUNK_TURNS
    # every mention is a distinct, linked surface: the CC graph has one
    # edge per mention, but fewer than the distributed loop needs
    assert len(surfaces) == sum(map(len, mentions))
    assert 1_000 < len(surfaces) < CC_LOCAL_EDGES


def test_registry_shape():
    tables = gen.registry(3)
    docs = tables["documents"].to_pylist()
    assert len(docs) == gen.N_DOCUMENTS
    assert all(d["n_chars"] == len(d["text"]) for d in docs)
    # near duplicates for the dedup queries
    assert sum(d["text"].endswith(" dup") for d in docs) >= 10
    # the registry's KG queries turn documents into N_CONVS round-robin
    # conversations: none is long enough for salt_by_conv to split
    from sherlock_spark.queries import N_CONVS

    assert -(-gen.N_DOCUMENTS // N_CONVS) <= gen.SALT_CHUNK_TURNS
    vectors = tables["embeddings"].column("embedding").to_pylist()
    assert len(vectors) == gen.N_VECTORS and {len(v) for v in vectors} == {gen.DIMS}
    events = tables["events"].column("ts").to_pylist()
    assert events == sorted(events)


def test_registry_oracles_are_not_empty(tmp_path):
    tables = gen.registry(5)
    for name, table in tables.items():
        pq.write_table(table, tmp_path / f"{name}.parquet")
    oracle = RegistryOracle(str(tmp_path), sorted(tables), HEADLINE)
    assert all(len(frame) > 0 for frame in oracle.expected.values())
    problems = oracle.check(oracle.expected)
    assert problems == [] and oracle.ties == []


def test_compare_allows_only_rounding_ties():
    expected = pd.DataFrame({"k": ["a", "b"], "n": [1, 2], "v": [1.58, 2.25]})
    tie = expected.assign(v=[1.59, 2.25])
    assert compare("q", tie, expected) == ([], ["q.v: 1.59 vs 1.58"])
    for wrong in (
        expected.assign(v=[1.60, 2.25]),
        expected.assign(n=[1, 3]),
        expected.iloc[:1],
    ):
        problems, ties = compare("q", wrong, expected)
        assert problems and not ties
    whole = pd.DataFrame({"k": ["a"], "v": [153.0]})
    assert compare("q", whole.assign(v=[154.0]), whole)[0]


def _md5_bucket(key: str, n: int) -> int:
    digits = "".join(c for c in hashlib.md5(key.encode()).hexdigest() if c.isdigit())
    return int((digits + "000000")[:6]) % n


def test_pipeline_oracle_matches_a_python_reference():
    """The DuckDB triples/edges agree with a plain-Python computation of
    the pipeline's semantics on a small corpus."""
    corpus = gen.kg_wide(5, n_turns=40, n_surfaces=60)
    canon = {}
    for alias, kb, ent_type in corpus.aliases:
        canon.setdefault(kb, []).append((ent_type, alias))
    triples, seen = [], set()
    for turn in _turns(corpus):
        seen.update(_mentions(corpus, turn["text"]))
    cid = {}
    for members in canon.values():
        present = [f"a:{t}:{a}" for t, a in members if a in seen]
        for t, a in members:
            cid[(t, a)] = min(present) if present else None
    edges = Counter()
    for turn in _turns(corpus):
        ments = [(w, corpus.lexicon[w][2:]) for w in _mentions(corpus, turn["text"])]
        ments = ments[:16]
        for h, (hs, ht) in enumerate(ments):
            for t, (os_, ot) in enumerate(ments):
                if h == t:
                    continue
                label = _md5_bucket(f"{ht}|{ot}|{hs}|{os_}", len(RC_LABELS))
                if label:
                    triples.append((turn["conv_id"], turn["turn_idx"], h, t))
                    edges[(cid[(ht, hs)], RC_LABELS[label], cid[(ot, os_)])] += 1
    oracle = PipelineOracle(corpus.transcripts, corpus.lexicon, corpus.aliases)
    assert oracle.triples[0] == len(triples) > 0
    got = oracle.con.sql(
        "SELECT subj_id, pred, obj_id, n_evidence FROM expected_edges"
    ).fetchall()
    assert {(s, p, o): n for s, p, o, n in got} == dict(edges)


def test_benchmark_json_matches_the_script():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as handle:
        spec = json.load(handle)
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert [w["name"] for w in spec["workloads"]] == sorted(WORKLOADS)

