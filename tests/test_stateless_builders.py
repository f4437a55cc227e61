"""Registered query builders are pure functions of (session, files
under ``sf``): a builder that trains an artefact (weights, a principal
direction, a merge table) must retrain it from the files it is given,
never reuse one trained earlier in the process on a different table
that happened to live at the same path.

The check rewrites the tables of one ``sf`` directory between two runs
in the SAME SparkSession and holds each run to its DuckDB oracle.
"""

from __future__ import annotations

import os
import shutil

import pytest

from icnarc_to_philips_linkage_spark.plans.registry import all_queries
from icnarc_to_philips_linkage_spark.plans.tables import TABLES
from tests.conftest import SF_T2
from tests.oracle_harness import canonicalize, run_oracle

TRAINED = ["ml_quantile_reg", "emb_pca_power", "text_bpe_encode"]
# pinned regardless of SPARK_GRAFT_TEST_SF: the two installs must differ
SF_FIRST = os.path.join(os.path.dirname(SF_T2), "sf0.001")


def _install(src: str, dst: str) -> None:
    # copyfile, not copy: the source files may be read-only and the
    # second install overwrites the first in place
    for t in TABLES:
        shutil.copyfile(
            os.path.join(src, f"{t}.parquet"), os.path.join(dst, f"{t}.parquet")
        )


def _assert_oracle(spark, name: str, sf: str) -> None:
    fn, sql = all_queries()[name]
    got = canonicalize(fn(spark, sf).toPandas())
    want = canonicalize(run_oracle(sql, sf))
    assert got == want, f"{name} disagrees with its oracle on {sf}"


@pytest.mark.parametrize("name", TRAINED)
def test_trained_artefacts_follow_rewritten_tables(spark, tmp_path, name):
    sf = str(tmp_path)
    _install(SF_FIRST, sf)
    _assert_oracle(spark, name, sf)
    # same path, different data: a result trained on the first tables
    # and reused here would disagree with the oracle
    _install(SF_T2, sf)
    _assert_oracle(spark, name, sf)
