import os
import sys
import time
import uuid

import pytest

REPO_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if REPO_ROOT not in sys.path:
    sys.path.insert(0, REPO_ROOT)

FIXTURES = os.path.join(REPO_ROOT, "tests", "fixtures")

# Normalizer configs equivalent to the reference's test assets
# (/root/reference/test/assets/tokenizer{1,2}.xml, misc/example/*.xml).
T1_XML = """<?xml version="1.0" encoding="UTF-8"?>
<tokenizer name="t1">
  <setting name="cs" value="0" />
  <split where="lmr" value="tors" />
</tokenizer>"""

T2_XML = """<?xml version="1.0" encoding="UTF-8"?>
<tokenizer name="t2">
  <setting name="cs" value="0" />
  <token to="" from="white" />
</tokenizer>"""

DEFAULT_XML = """<?xml version="1.0" encoding="UTF-8"?>
<tokenizer name="animals">
  <setting name="cs" value="0" />
  <split where="r" value="rerio" />
  <token to="" from="scary" />
</tokenizer>"""

CUSTOM_XML = """<?xml version="1.0" encoding="UTF-8"?>
<tokenizer name="plants">
  <setting name="cs" value="0" />
  <token to="lilies" from="lily" />
</tokenizer>"""

SAMPLE_FIELDS = [
    {"name": "normalizer", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": True, "value_flag": False},
    {"name": "entity_id", "include": True, "delimiter": None, "id_flag": True, "normalizer_flag": False, "value_flag": False},
    {"name": "label", "include": True, "delimiter": None, "id_flag": False, "normalizer_flag": False, "value_flag": True},
    {"name": "some_attribute", "include": True, "delimiter": ",", "id_flag": False, "normalizer_flag": False, "value_flag": False},
]


def build_sample_model(simple: bool = False):
    """The reference test-suite model: sample_dictionary.txt compiled with
    t1/t2 normalizers and keywords (ut_utility.py:18-50). Built through the
    file-based compile path (exercises it); content matches the package's
    built-in sample_dictionary resource."""
    from pilsner_spark.core.model import compile_model_from_file

    return compile_model_from_file(
        os.path.join(FIXTURES, "sample_dictionary.txt"),
        fields=SAMPLE_FIELDS,
        normalizers={"t1": T1_XML, "t2": T2_XML},
        normalizer_map={"tokenizer1": "t1", "tokenizer2": "t2"},
        include_keywords=True,
        simple=simple,
    )


def sample_model_from_lines(lines):
    """The sample model's normalizers and routing over other dictionary
    lines (the package's in-memory compile path)."""
    from pilsner_spark.core.dictionary import compile_specs, fields_from_dicts, rows_from_lines
    from pilsner_spark.core.model import CompiledModel

    model = CompiledModel()
    model.add_normalizer("t1", T1_XML)
    model.add_normalizer("t2", T2_XML)
    model.normalizer_map = {"tokenizer1": "t1", "tokenizer2": "t2"}
    rows = rows_from_lines(lines, compile_specs(fields_from_dicts(SAMPLE_FIELDS)))
    return model.compile_rows(rows, include_keywords=True)


@pytest.fixture(scope="session")
def sample_model():
    return build_sample_model()


@pytest.fixture(scope="session")
def spark():
    """Shared local SparkSession for the whole test run."""
    from pilsner_spark.session import get_spark

    spark = get_spark(app_name="pilsner-spark-tests", cpus=4, shuffle_partitions=8)
    yield spark
    spark.stop()


def spark_jobs_of(spark, fn):
    """``(fn(), ids of the Spark jobs fn started)``: fn runs under a job
    group of its own, which is reset after. A marker job closes the group:
    the status tracker learns of jobs from the listener bus in start order,
    so once the marker shows, every job fn started shows too."""
    sc = spark.sparkContext
    group = f"jobs-of-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
        sc.parallelize([0], 1).count()
    finally:
        for key in ("spark.jobGroup.id", "spark.job.description", "spark.job.interruptOnCancel"):
            sc.setLocalProperty(key, None)
    deadline = time.time() + 60
    while not (ids := sc.statusTracker().getJobIdsForGroup(group)) and time.time() < deadline:
        time.sleep(0.05)
    assert ids, "the marker job never reached the status tracker"
    return result, sorted(ids)[:-1]


def assert_recorded_schemas(spark, catalog, tables):
    """Each table's sidecar records the schema Spark infers from its
    generation's files (nullability and ``containsNull`` included), and
    ``read`` opens the generation with it."""
    from pyspark.sql.types import StructType

    for t in tables:
        lineage = catalog.lineage(t)
        files = spark.read.parquet(os.path.join(catalog.root, t, lineage["generation"])).schema
        assert StructType.fromJson(lineage["schema"]) == files, t
        assert catalog.read(t).schema == files, t
