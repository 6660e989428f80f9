"""The query layer runs only its queries' own Spark jobs, and builds its
plans in few JVM calls.

Every table is read with the schema ``TABLE_SCHEMAS`` declares, which must
equal what Parquet inference finds in the files (names, types, order), and
building a query's DataFrame launches no Spark job: a schema-less read
would run one per table to read a footer.  Building the gated near-dup
passes sends a bounded number of py4j commands: each
``pyspark.sql.functions`` call and ``Column`` operator costs a dozen or so
(call-site capture), so those plans are written as SQL text."""

import glob
import os

import pytest

import __spark_entry__ as entry_mod
from qwen_ocr_spark.plans.session import (count_jobs, count_py4j,
                                          release_cached)

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


# the passes perfbench's near_dup_analytics workload times
NEAR_DUP_PASSES = ("dedup_exact", "embedding_near_dups", "gopher_signals")


def test_near_dup_passes_build_in_few_py4j_commands(spark, tmp_path):
    """Building the three gated near-dup passes together sends at most 350
    py4j commands besides memory releases (about 1,340 when every
    expression node was a ``Column`` call)."""
    from perfbench.inputs import write_near_dup_tables
    write_near_dup_tables(str(tmp_path), seed=1, n_base=40)
    queries = entry_mod.queries()

    def build():
        return [queries[q](spark, str(tmp_path)) for q in NEAR_DUP_PASSES]
    try:
        build()  # warm-up: first-use class lookups
        _, sent = count_py4j(spark, build)
    finally:
        release_cached()
    assert sent <= 350, sent

