"""Independent DuckDB checks of the program's output.

``PipelineOracle`` checks the pipeline's tables: the expected triples
and edges are computed in SQL straight from the
generated transcripts, lexicon and aliases -- not through any program
code -- and compared by row count and an order-insensitive content
hash with what the pipeline wrote. The same connection also counts
the per-layer work (turns, mentions, pairs, links) from the stage
tables the pipeline checkpointed.

The SQL relies on two properties of the generated corpora, which
``test_perfbench.py`` checks against a plain-Python reference: every
lexicon tag is a single-word ``B-`` tag, and every (surface, type)
links to at most one KB id, so the alias graph's components are
exactly the KB ids' surface groups.

``RegistryOracle`` checks the headline registry queries against their
DuckDB twins in ``queries.ORACLES`` with the comparison of
``tools/check_correctness.py``: row count, column names and an
order-insensitive value hash.
"""

from __future__ import annotations

import sys

import duckdb
import pandas as pd
import pyarrow as pa

# pipeline defaults the expected tables are computed for
MAX_MENTIONS = 16
RC_LABELS = ["no_relation", "op:reads_from", "op:feeds", "op:colocated_with", "op:optimizes"]

_TRIPLE_COLS = (
    "CAST(conv_id AS VARCHAR), CAST(turn_idx AS BIGINT), CAST(head_idx AS BIGINT),"
    " CAST(tail_idx AS BIGINT), subj_text, subj_type, pred, obj_text, obj_type"
)
_EDGE_COLS = "subj_id, pred, obj_id, CAST(n_evidence AS BIGINT)"

_LABEL_CASE = "CASE b " + " ".join(
    f"WHEN {i} THEN '{label}'" for i, label in enumerate(RC_LABELS)
) + " END"

# md5_digit_bucket: first 6 decimal digits of md5-hex(key), mod n
_BUCKET = (
    "CAST(substring(regexp_replace(md5(h.label || '|' || o.label || '|' || "
    "h.surface || '|' || o.surface), '[a-f]', '', 'g') || '000000', 1, 6) AS INT)"
    f" % {len(RC_LABELS)}"
)

_EXPECTED_SQL = f"""
CREATE TEMP TABLE mentions AS
WITH words AS (
    SELECT conv_id, turn_idx,
           unnest(string_split(text, ' ')) AS word,
           generate_subscripts(string_split(text, ' '), 1) AS pos
    FROM transcripts
)
SELECT conv_id, turn_idx,
       ROW_NUMBER() OVER (PARTITION BY conv_id, turn_idx ORDER BY pos) - 1 AS ment_idx,
       w.word AS surface, lower(w.word) AS norm, substring(l.tag, 3) AS label
FROM words w JOIN lexicon l ON lower(w.word) = l.word;

CREATE TEMP TABLE expected_triples AS
WITH pairs AS (
    SELECT h.conv_id, h.turn_idx, h.ment_idx AS head_idx, o.ment_idx AS tail_idx,
           h.surface AS subj_text, h.label AS subj_type,
           o.surface AS obj_text, o.label AS obj_type, ({_BUCKET}) AS b
    FROM mentions h JOIN mentions o
      ON h.conv_id = o.conv_id AND h.turn_idx = o.turn_idx AND h.ment_idx <> o.ment_idx
    WHERE h.ment_idx < {MAX_MENTIONS} AND o.ment_idx < {MAX_MENTIONS}
)
SELECT conv_id, turn_idx, head_idx, tail_idx, subj_text, subj_type,
       {_LABEL_CASE} AS pred, obj_text, obj_type
FROM pairs WHERE b <> 0;

CREATE TEMP TABLE canon AS
WITH linked AS (
    SELECT DISTINCT m.label, m.norm, a.kb_id
    FROM mentions m JOIN aliases a ON m.norm = lower(a.alias) AND m.label = a.ent_type
)
SELECT label, norm, min('a:' || label || ':' || norm) OVER (PARTITION BY kb_id) AS cid
FROM linked;

CREATE TEMP TABLE expected_edges AS
SELECT coalesce(cs.cid, 'a:' || t.subj_type || ':' || lower(t.subj_text)) AS subj_id,
       t.pred,
       coalesce(co.cid, 'a:' || t.obj_type || ':' || lower(t.obj_text)) AS obj_id,
       count(*) AS n_evidence
FROM expected_triples t
LEFT JOIN canon cs ON cs.label = t.subj_type AND cs.norm = lower(t.subj_text)
LEFT JOIN canon co ON co.label = t.obj_type AND co.norm = lower(t.obj_text)
GROUP BY ALL;
"""


def _digest(con: duckdb.DuckDBPyConnection, relation: str, cols: str) -> tuple[int, int]:
    """(row count, order-insensitive multiset hash) of a relation."""
    count, total = con.sql(
        f"SELECT count(*), coalesce(sum(hash({cols})::HUGEINT), 0) FROM {relation}"
    ).fetchone()
    return int(count), int(total)


class PipelineOracle:
    """Expected triples/edges digests for one generated corpus."""

    def __init__(
        self,
        transcripts: pa.Table,
        lexicon: dict[str, str],
        aliases: list[tuple[str, str, str]],
    ) -> None:
        self.con = duckdb.connect()
        self.con.register("transcripts", transcripts)
        self.con.register(
            "lexicon",
            pa.table({"word": list(lexicon), "tag": list(lexicon.values())}),
        )
        self.con.register(
            "aliases",
            pa.table(
                {
                    "alias": [a[0] for a in aliases],
                    "kb_id": [a[1] for a in aliases],
                    "ent_type": [a[2] for a in aliases],
                }
            ),
        )
        self.con.sql(_EXPECTED_SQL)
        self.triples = _digest(self.con, "expected_triples", _TRIPLE_COLS)
        self.edges = _digest(self.con, "expected_edges", _EDGE_COLS)

    def check(self, out_dir: str) -> list[str]:
        """Mismatches between the pipeline's tables and the expected
        ones; empty when the output is correct."""
        problems = []
        for name, cols, expected in (
            ("triples", _TRIPLE_COLS, self.triples),
            ("edges", _EDGE_COLS, self.edges),
        ):
            got = _digest(self.con, _stage(out_dir, name), cols)
            if got != expected:
                problems.append(f"{name}: got (rows, hash) {got}, expected {expected}")
        return problems

    def layer_counts(self, out_dir: str) -> dict[str, float]:
        """Work done per layer, counted from the checkpointed stage tables."""
        annotated = _stage(out_dir, "annotated")
        links = _stage(out_dir, "links")
        triples = _stage(out_dir, "triples")
        turns, mentions, pairs = self.con.sql(
            f"""SELECT count(*), sum(len(ments)),
                       sum(least(len(ments), {MAX_MENTIONS})
                           * (least(len(ments), {MAX_MENTIONS}) - 1))
                FROM {annotated}"""
        ).fetchone()
        link_rows, hits, edges = self.con.sql(
            f"""SELECT count(*), count(kb_id),
                       count(DISTINCT (ment_label, ment_norm, kb_id))
                           FILTER (WHERE kb_id IS NOT NULL)
                FROM {links}"""
        ).fetchone()
        n_triples, tuples = self.con.sql(
            f"""SELECT count(*), count(DISTINCT (lower(subj_text), subj_type, pred,
                                                 lower(obj_text), obj_type))
                FROM {triples}"""
        ).fetchone()
        return {
            "ner.turns": turns,
            "ner.mentions": mentions,
            "rc.pairs": pairs,
            "rc.triples": n_triples,
            "rc.yield": n_triples / pairs if pairs else 0.0,
            "link.mentions": link_rows,
            "link.hit_ratio": hits / link_rows if link_rows else 0.0,
            "cc.edges": edges,
            "graph.evidence_rows": n_triples,
            "graph.tuples": tuples,
        }


def _stage(out_dir: str, name: str) -> str:
    return f"read_parquet('{out_dir}/{name}/*.parquet')"


def _gate_compare():
    """``normalize`` and ``value_hash`` of ``tools/check_correctness.py``.
    That module prepends a fixed directory to ``sys.path`` on import; the
    path is restored so imports keep resolving to this checkout."""
    saved = list(sys.path)
    try:
        from tools.check_correctness import normalize, value_hash
    finally:
        sys.path[:] = saved
    return normalize, value_hash


def _decimals(column: pd.Series) -> int:
    """Decimal places of a rounded float column: the most any value has."""
    places = 0
    for value in column.dropna():
        text = repr(float(value))
        if "e" in text:
            return 4
        places = max(places, len(text.split(".")[1].rstrip("0")))
    return places


def compare(
    name: str, got: pd.DataFrame, expected: pd.DataFrame
) -> tuple[list[str], list[str]]:
    """(problems, rounding ties) of one query result against its oracle.

    The result passes when its row count, column names and value hash
    equal the oracle's, as in ``tools/check_correctness.py``. When only
    the hash differs, it still passes if every non-float value is equal
    and every float differs by at most one unit in the last decimal the
    oracle's column has. That is a rounding tie: a sum whose exact value
    ends in 5 just past the rounded place, which two engines adding in
    different orders round different ways. Each such value is returned
    as a tie. An oracle with no rows is a problem too: it pins nothing.
    """
    normalize, value_hash = _gate_compare()
    if len(expected) == 0:
        return [f"{name}: the oracle returned no rows"], []
    if len(got) != len(expected):
        return [f"{name}: {len(got)} rows, expected {len(expected)}"], []
    if sorted(got.columns) != sorted(expected.columns):
        return [f"{name}: columns {sorted(got.columns)}, expected {sorted(expected.columns)}"], []
    if value_hash(got) == value_hash(expected):
        return [], []
    got, expected = normalize(got), normalize(expected)
    floats = [c for c in expected.columns if pd.api.types.is_float_dtype(expected[c])]
    keys = [c for c in expected.columns if c not in floats]
    got = got.sort_values(keys + floats, ignore_index=True)
    expected = expected.sort_values(keys + floats, ignore_index=True)
    if not got[keys].astype(str).equals(expected[keys].astype(str)):
        return [f"{name}: values differ in non-float columns"], []
    ties = []
    for column in floats:
        places = _decimals(expected[column])
        # sums of whole numbers are exact: no tie to allow for
        unit = 10.0**-places if places else 0.0
        diff = (got[column] - expected[column]).abs()
        if got[column].isna().ne(expected[column].isna()).any() or (
            diff > unit * (1 + 1e-6)
        ).any():
            return [f"{name}: values differ in {column}"], []
        ties += [
            f"{name}.{column}: {got.at[row, column]} vs {expected.at[row, column]}"
            for row in diff[diff > 0].index
        ]
    return [], ties


class RegistryOracle:
    """Expected results of the headline queries over one generated
    dataset (parquet tables in ``sf_dir``)."""

    def __init__(self, sf_dir: str, tables: list[str], names: list[str]) -> None:
        from sherlock_spark.queries import ORACLES

        con = duckdb.connect()
        for table in tables:
            con.sql(f"CREATE VIEW {table} AS SELECT * FROM '{sf_dir}/{table}.parquet'")
        self.expected = {name: con.sql(ORACLES[name]).df() for name in names}
        con.close()
        self.ties: list[str] = []

    def check(self, results: dict[str, pd.DataFrame]) -> list[str]:
        """Mismatches between the queries' results and the oracles;
        rounding ties are kept in ``ties``."""
        problems = []
        for name, expected in self.expected.items():
            wrong, ties = compare(name, results[name], expected)
            problems += wrong
            self.ties += ties
        return problems
