"""Building a registry query is planning only: it runs no Spark job
(table reads carry footer-derived schemas, see ``sources.tables``) and
no per-call origin capture (``session.LAUNCH_CONFS``)."""

from __future__ import annotations

import pytest
from conftest import count_jobs

import bench
from nexus_processor_spark import queries as registry

SF = "/root/testdata/sf0.001"

# Queries whose build still runs Spark work, with what it computes and
# why it stays eager.
EAGER_BUILD_JOBS = {
    # persist + count of the per-doc shingle/minhash projection: four
    # plan branches read it, and a lazily persisted frame is recomputed
    # by each branch racing within the first job (measured 3x slower)
    "dedup_minhash_pairs": "primes the persisted shingle projection",
    # persist + count of the decoded (id, dhash) projection: both sides
    # of the band self-join read it, so the Python decode runs once
    "image_neardup_dhash": "primes the persisted dhash projection",
    # collects the k-row centroid table into the Arrow kernel's closure
    # (the numpy form of a broadcast), so the corpus pass is map-only
    "semantic_dedup": "collects the centroid matrix",
}


@pytest.mark.parametrize("name", bench.HEADLINE)
def test_headline_build_runs_no_job(spark, name):
    build = registry.queries()[name]
    _, jobs = count_jobs(spark, lambda: build(spark, SF))
    if name in EAGER_BUILD_JOBS:
        assert jobs > 0, f"{name} builds lazily now: drop its allow entry"
    else:
        assert jobs == 0, f"{name} launched {jobs} job(s) while building"


def test_session_has_no_origin_capture(spark):
    from pyspark.errors.utils import is_debugging_enabled

    assert spark.conf.get("spark.python.sql.dataFrameDebugging.enabled") == "false"
    assert is_debugging_enabled() is False
