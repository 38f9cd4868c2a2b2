import pytest

from sherlock_spark.session import get_spark


@pytest.fixture(scope="session")
def spark():
    session = get_spark("sherlock_spark_tests", cores=4, shuffle_partitions=4)
    yield session


@pytest.fixture(scope="session")
def dag_sentences():
    """Input for tests that need NER, RC and link hits but assert no
    reference golden. Every sentence hits ``FIXTURE_NER_LEXICON`` with a
    PERSON-TITLE or PERSON-CITY pair, so ``FIXTURE_RC_RULES`` yields
    per:title / per:children triples, and its people, titles and
    cities are aliases the linking tests know."""
    return [
        "Douglas Flint took over as chairman after the vote .",
        "Montcourt flew home to Paris on the late train .",
        "The new chairman , Stephen Green , spoke in Paris today .",
        "Julius Baer asked Jeffrey White about the chairman role .",
    ]
