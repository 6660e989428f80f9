"""The query layer runs only its queries' own Spark jobs.

Every table is read with the schema ``TABLE_SCHEMAS`` declares, which must
equal what Parquet inference finds in the files (names, types, order), and
building a query's DataFrame launches no Spark job: a schema-less read
would run one per table to read a footer."""

import glob
import os

import pytest

import __spark_entry__ as entry_mod
from qwen_ocr_spark.plans.session import count_jobs, release_cached

SF_DIRS = sorted(glob.glob(
    os.path.join(os.path.dirname(entry_mod.SF_DEFAULT), "sf*")))
# connected_components counts its edges at build time, which runs the
# pair pipeline's jobs
EAGER = {"dedup_groups", "dedup_groups_scalable"}


def _assert_declared_is_inferred(spark, sf_dir, names):
    for name in names:
        inferred = spark.read.parquet(f"{sf_dir}/{name}.parquet").schema
        declared = entry_mod._t(spark, sf_dir, name).schema
        assert declared.simpleString() == inferred.simpleString(), \
            (sf_dir, name)


@pytest.mark.parametrize("sf_dir", SF_DIRS, ids=os.path.basename)
def test_table_schemas_match_testdata(spark, sf_dir):
    assert sorted(os.listdir(sf_dir)) == sorted(
        f"{name}.parquet" for name in entry_mod.TABLE_SCHEMAS)
    _assert_declared_is_inferred(spark, sf_dir, entry_mod.TABLE_SCHEMAS)


def test_table_schemas_match_near_dup_corpus(spark, tmp_path):
    """The near-dup benchmark corpus (directories of pyarrow-written files)
    reads with the same declared schemas."""
    from perfbench.inputs import write_near_dup_tables
    write_near_dup_tables(str(tmp_path), seed=3, n_base=12)
    _assert_declared_is_inferred(spark, str(tmp_path),
                                 ["documents", "embeddings"])


@pytest.mark.parametrize(
    "name", [q for q in entry_mod.queries() if q not in EAGER])
def test_building_query_launches_no_job(spark, name):
    query = entry_mod.queries()[name]
    try:
        assert count_jobs(
            spark, lambda: query(spark, entry_mod.SF_DEFAULT))[1] == 0
    finally:
        release_cached()
