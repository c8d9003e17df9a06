import os
import sys

import pytest

ROOT = os.path.abspath(os.path.join(os.path.dirname(__file__), ".."))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)


@pytest.fixture(scope="session")
def spark():
    from logparse_rs_spark.session import get_spark

    s = get_spark(app_name="logparse-tests", cores=4, shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def full_schema():
    from logparse_rs_spark.schema import load_schema

    return load_schema(os.path.join(ROOT, "schemas", "schema.json"))


@pytest.fixture(scope="session")
def sample_anon():
    from logparse_rs_spark.anonymizer import load_anonymizer

    return load_anonymizer(os.path.join(ROOT, "configs", "anonymizer.sample.json"))


def with_words(docs):
    """``docs`` plus the ``words`` array column the word-level text
    operators read, tokenized from ``text`` as the query layer's
    ``_tok_docs`` does."""
    from pyspark.sql import functions as F

    from logparse_rs_spark.operators.text import _words

    return docs.withColumn("words", _words(F.col("text")))
