"""Work counter for the job-free build of ``kcore_peel``."""

from __future__ import annotations

from acuvate_spark import tables
from acuvate_spark.queries import REGISTRY

from .test_api import _work


def test_kcore_peel_build_submits_only_the_table_read(spark, sf_dir):
    """The peel rounds run inside the caller's action: ``fn()`` submits
    no job beyond ``load_table``'s schema inference of ``lineitem``."""
    _, read_jobs, _ = _work(spark, lambda: tables.load_table(spark, sf_dir, "lineitem"))
    _, jobs, _ = _work(spark, lambda: REGISTRY["kcore_peel"].fn(spark, sf_dir))
    assert jobs == read_jobs
