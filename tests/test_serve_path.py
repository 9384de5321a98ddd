"""Serve-path shape of ``SragEngine``: a query round launches a bounded
number of Spark jobs, metadata reads launch none, and a long-lived
session holds no cached relation after any number of queries and point
lookups."""

from __future__ import annotations

import uuid

import pytest

from srag_spark.api import SragEngine
from srag_spark.schema import DOCUMENTS_SCHEMA
from srag_spark.sources.tables import read_manifest

WORDS = (
    "spark table join filter shuffle partition window aggregate arrow batch "
    "pasta tomato basil garden summer river forest morning light hills"
).split()


def _docs(spark, n=12):
    rows = []
    for i in range(n):
        text = " ".join(WORDS[(i * 7 + j) % len(WORDS)] for j in range(40 + 9 * i))
        rows.append(
            (f"d{i:02d}", [{"kind": "text", "text": text, "media_ref": None, "offset": 0}])
        )
    return spark.createDataFrame(rows, schema=DOCUMENTS_SCHEMA)


@pytest.fixture(scope="module")
def engine(spark, tmp_path_factory):
    eng = SragEngine(spark, str(tmp_path_factory.mktemp("serve") / "kb"), n_buckets=4)
    eng.ingest(_docs(spark), metadata={"job": "j1"})
    # first calls pay one-off costs (Python workers, codegen)
    eng.query("spark join", limit=5).collect()
    eng.get_transcript("d01").collect()
    return eng


def _jobs(spark, fn) -> int:
    """Spark jobs launched by ``fn()`` (a job group + the status tracker)."""
    sc = spark.sparkContext
    group = f"serve-shape-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()  # job events are async
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "text,flt",
    [
        ("spark join filter", None),
        ("pasta basil", {"job": "j1"}),
        ("river", {"job": "nope"}),
    ],
)
def test_query_launches_at_most_eight_jobs(spark, engine, text, flt):
    jobs = _jobs(spark, lambda: engine.query(text, limit=5, flt=flt).collect())
    assert jobs <= 8, jobs


def test_point_lookup_and_manifest_read_job_bounds(spark, engine):
    assert _jobs(spark, lambda: engine.get_transcript("d03").collect()) <= 2
    assert _jobs(spark, lambda: read_manifest(spark, engine.transcripts_path)) == 0
    assert _jobs(spark, lambda: read_manifest(spark, engine.engine_meta_path)) == 0


def test_serve_calls_leave_no_persisted_relation(spark, engine):
    def persistent_rdds() -> int:
        return spark.sparkContext._jsc.getPersistentRDDs().size()

    before = persistent_rdds()
    for i, (text, flt) in enumerate(
        [("spark table", None), ("garden summer hills", {"job": "j1"}), ("window arrow", None)]
    ):
        assert engine.query(text, limit=5, flt=flt).collect()
        assert len(engine.get_transcript(f"d{i + 4:02d}").collect()) == 1
    assert persistent_rdds() == before
