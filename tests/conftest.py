import glob
import json
import os
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from t2p_spark.fixtures import REF_JSON_DIR  # noqa: E402

GOLDEN_DIR = os.path.join(REPO, "tests", "golden")

FIXTURE_IDS = sorted(
    os.path.basename(p)[:-5] for p in glob.glob(os.path.join(GOLDEN_DIR, "*.json"))
)


def load_golden(doc_id: str) -> dict:
    with open(os.path.join(GOLDEN_DIR, f"{doc_id}.json"), encoding="utf-8") as f:
        return json.load(f)


def load_textract_json(doc_id: str) -> dict:
    with open(os.path.join(REF_JSON_DIR, f"{doc_id}.json"), encoding="utf-8") as f:
        return json.load(f)


def load_textract_text(doc_id: str) -> str:
    with open(os.path.join(REF_JSON_DIR, f"{doc_id}.json"), encoding="utf-8") as f:
        return f.read()


@pytest.fixture
def synth_docs(spark):
    """``synth_docs(n)``: a reference-free DOCS_SCHEMA frame of n generated
    pages, every eighth one a quarantine doc, each payload in one span."""
    from t2p_spark.fixtures import doc_row
    from t2p_spark.schema import DOCS_SCHEMA
    from t2p_spark.synth import generate_doc, generate_quarantine_doc

    def make(n_docs: int):
        rows = []
        for i in range(n_docs):
            bad = i % 8 == 7
            doc_id = f"{'bad' if bad else 'gen'}-{i:04d}"
            gen = generate_quarantine_doc if bad else generate_doc
            aws, w, h, ref = gen(doc_id, 1000 + i)
            rows.append(doc_row(doc_id, json.dumps(aws), w, h, ref,
                                chunk_size=1 << 20))
        return spark.createDataFrame(rows, schema=DOCS_SCHEMA)

    return make


@pytest.fixture(scope="session")
def spark():
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[4]")
        .appName("t2p-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.default.parallelism", "8")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "4g")
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "64")
        .getOrCreate()
    )
    yield spark
    spark.stop()
