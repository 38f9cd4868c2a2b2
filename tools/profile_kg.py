"""Stage-by-stage wall-clock profile of the kg_triples path.

Each stage is forced independently (fresh plan, no cache) so the time
attribution matches what Catalyst actually schedules. min-of-2 because
the host is shared.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from sherlock_spark.session import get_spark
from sherlock_spark.model_stub import DEFAULT_NER_LEXICON, DEFAULT_RC_LABELS
from sherlock_spark.operators.ner import annotate_mentions, with_tokens
from sherlock_spark.operators.rc import extract_triples
from sherlock_spark.queries import _transcripts

from measure import min_of


def best_of_2(fn) -> float:
    return round(min_of(fn, 2)[0].seconds, 2)


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("profile_kg")
    spark.range(1000).count()

    out = {}
    t = lambda: _transcripts(spark, sf_dir)
    out["scan_repart"] = best_of_2(lambda: t().count())
    out["with_tokens"] = best_of_2(
        lambda: with_tokens(t()).select(F.sum(F.size("tokens"))).collect()
    )
    ann = lambda: annotate_mentions(spark, t(), DEFAULT_NER_LEXICON)
    out["annotate_ments"] = best_of_2(
        lambda: ann().select(F.sum(F.size("ments"))).collect()
    )
    out["triples_full"] = best_of_2(
        lambda: extract_triples(
            spark,
            ann(),
            labels=DEFAULT_RC_LABELS,
            entity_handling="mark_entity",
            max_length=None,
            max_mentions=16,
        ).count()
    )
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
