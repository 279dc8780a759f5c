from __future__ import annotations

import os

import pytest

from pdf_context_extractor_agent_spark.corpus import pages_df
from pdf_context_extractor_agent_spark.kernels import extract_pages
from pdf_context_extractor_agent_spark.session import get_spark

N_TEST_DOCS = 20

# The suite's JVM needs a few GB. A fixed heap keeps its runs alike on
# every host, where session.py's default is a share of the host's
# memory. An explicit setting still wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="tests", cores=8, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def corpus(spark):
    """Small deterministic corpus (cached raw pages table)."""
    return pages_df(spark, N_TEST_DOCS).cache()


@pytest.fixture(scope="session")
def page_df(spark, corpus):
    """Kernel output, cached once for the whole suite."""
    return extract_pages(corpus).cache()


def rows_from_tables(spark, url: str, tables: list[list[list[str]]]):
    """Inject pre-extracted tables as raw rows (bypasses the kernel) —
    the fixture-injection path from SURVEY.md §7 step 2."""
    data = []
    for t_idx, table in enumerate(tables):
        for r_idx, row in enumerate(table):
            data.append((url, 1, t_idx, r_idx, row))
    return spark.createDataFrame(
        data,
        "url string, page int, table_idx int, row_in_table int, cells array<string>",
    )
