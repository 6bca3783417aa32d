import pytest

from cuphic_spark.sources.tei import TEI_DIR

# The reference's 12-file TEI corpus (FIXTURES.md §2) is not in the repo;
# tests that read its bytes run wherever TEI_DIR holds it.
requires_tei_corpus = pytest.mark.skipif(
    not any(TEI_DIR.glob("*.xml")), reason=f"TEI corpus absent: {TEI_DIR}")


@pytest.fixture(scope="session")
def spark():
    from cuphic_spark.session import get_spark

    s = get_spark(cores=8)
    yield s
