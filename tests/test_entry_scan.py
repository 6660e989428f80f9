"""The query layer reads a table in one task per ``SCAN_TASK_BYTES``.

``_t`` coalesces a small multi-file table's scan partitions (Parquet file
packing puts each small file in its own partition) down to what its size
estimate calls for; these tests pin the plans that follow from it."""

import pytest

import __spark_entry__ as entry_mod
from qwen_ocr_spark.plans.session import count_jobs

TABLES = ("documents", "embeddings")


@pytest.fixture(scope="module")
def corpus(tmp_path_factory):
    """A near-dup benchmark corpus: documents and embeddings, 4 parquet
    files each, both far below ``SCAN_TASK_BYTES``."""
    from perfbench.inputs import write_near_dup_tables
    sf = str(tmp_path_factory.mktemp("near_dup"))
    write_near_dup_tables(sf, seed=5, n_base=60)
    return sf


def _plain(spark, sf_dir, name):
    return spark.read.schema(entry_mod.TABLE_SCHEMAS[name]).parquet(
        f"{sf_dir}/{name}.parquet")


def _plan(df):
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("name", TABLES)
def test_small_multi_file_read_is_one_partition(spark, corpus, name):
    """4 scan partitions read as 1, only the selected columns reach the
    scan, and neither building nor planning the read launches a job."""
    assert _plain(spark, corpus, name).rdd.getNumPartitions() == 4

    def build():
        df = entry_mod._t(spark, corpus, name)
        df = df.select(df.columns[:2])
        return df, df.rdd.getNumPartitions(), _plan(df)
    (df, parts, plan), jobs = count_jobs(spark, build)
    assert jobs == 0
    assert parts == 1
    assert "Coalesce 1" in plan
    pruned = ",".join(f.simpleString() for f in df.schema.fields)
    assert plan.count("ReadSchema: ") == 1
    assert f"ReadSchema: struct<{pruned}>" in plan


@pytest.mark.parametrize("name", TABLES)
def test_large_estimate_keeps_scan_partitions(
        spark, corpus, monkeypatch, name):
    """With a tiny ``SCAN_TASK_BYTES`` every table estimates at
    ``defaultParallelism`` tasks or more: the read keeps its scan
    partitions and gets no ``Coalesce``."""
    monkeypatch.setattr(entry_mod, "SCAN_TASK_BYTES", 16)
    df = entry_mod._t(spark, corpus, name)
    assert df.rdd.getNumPartitions() == \
        _plain(spark, corpus, name).rdd.getNumPartitions()
    assert "Coalesce" not in _plan(df)


def test_dedup_exact_aggregates_without_exchange(spark, corpus):
    """A one-partition read already satisfies the md5 aggregate's
    distribution: partial and final aggregate run in one stage."""
    plan = _plan(entry_mod.queries()["dedup_exact"](spark, corpus))
    assert "HashAggregate" in plan
    assert "Exchange" not in plan


def test_embedding_near_dups_keeps_one_band_key_exchange(spark, corpus):
    """The explicit band-key repartition still shuffles once, whatever
    the width of the read below it."""
    plan = _plan(entry_mod.queries()["embedding_near_dups"](spark, corpus))
    assert plan.count("Exchange") == 1
    assert plan.count("hashpartitioning(band_key") == 1
