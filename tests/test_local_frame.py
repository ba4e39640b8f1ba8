"""One way in for driver-side rows: ``session.local_frame`` builds a
frame that plans as a ``LocalTableScan`` with Arrow on or off."""

import inspect
from pathlib import Path

import pytest

from ie_spark import session
from ie_spark.kb.verbnet_data import verb_class_map
from ie_spark.operators.multimodal import MEDIA_SCHEMA, synthetic_media_rows
from ie_spark.pipeline import extract
from ie_spark.pipeline.linking import (KB_SCHEMA, build_candidate_dict,
                                       build_candidate_rows)
from ie_spark.session import local_frame

ROOT = Path(__file__).resolve().parent.parent

CASES = {
    "kb": (build_candidate_rows, KB_SCHEMA),
    "media": (lambda: synthetic_media_rows(48), MEDIA_SCHEMA),
    "verbnet": (lambda: [(v, cs[0], cs)
                         for v, cs in sorted(verb_class_map().items())],
                "verb string, verb_class string, verb_classes array<string>"),
    "checkpoints": (lambda: [("pipeline", 3, "ok", 12, 40, 950, "v1:a"),
                             ("pipeline", -1, "ok", 0, 0, 0, None)],
                    "job_id string, bucket int, status string, "
                    "n_turns long, n_triples long, wall_ms long, "
                    "lineage string"),
    "empty": (lambda: [], "doc_id string, text string"),
}


@pytest.fixture(params=["true", "false"], ids=["arrow_on", "arrow_off"])
def arrow(spark, request):
    key = "spark.sql.execution.arrow.pyspark.enabled"
    before = spark.conf.get(key)
    spark.conf.set(key, request.param)
    yield
    spark.conf.set(key, before)


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("case", sorted(CASES))
def test_local_frame_equals_list_path(spark, arrow, case):
    make_rows, schema = CASES[case]
    got = local_frame(spark, make_rows(), schema)
    want = spark.createDataFrame(make_rows(), schema)
    assert got.schema == want.schema
    assert got.collect() == want.collect()
    plan = _plan(got)
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_candidate_dict_is_a_local_scan(spark, arrow):
    plan = _plan(build_candidate_dict(spark))
    assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan


def test_one_way_in_for_driver_rows():
    """Under ie_spark/ and in __spark_entry__.py, createDataFrame is called
    only by local_frame and by transcripts_from_pandas (a pandas frame
    with timestamps, which the Arrow-table path converts differently)."""
    hits = {}
    for path in [*sorted((ROOT / "ie_spark").rglob("*.py")),
                 ROOT / "__spark_entry__.py"]:
        n = path.read_text().count("createDataFrame(")
        if n:
            hits[path.relative_to(ROOT).as_posix()] = n
    assert hits == {"ie_spark/session.py": 1,
                    "ie_spark/pipeline/extract.py": 1}
    assert "createDataFrame(" in inspect.getsource(session.local_frame)
    assert "createDataFrame(" in inspect.getsource(
        extract.transcripts_from_pandas)
