"""Pre-driver oracle harness: every queries() entry vs its DuckDB oracle.

Mimics the driver's correctness gate (row-count + column names +
order-insensitive value multiset) at sf0.001 so mismatches surface here
before CORRECTNESS_r{N}.json does."""

import math
import os
import re

import duckdb
import pyarrow.parquet as pq
import pytest

import __spark_entry__ as entry_mod

SF_DIR = "/root/testdata/sf0.001"
TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{SF_DIR}/{t}.parquet'"
        )
    return con


def _norm(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        return repr(v)
    if isinstance(v, bytes):
        return v.hex()
    return str(v)


# Arrow type aliases that only reflect transport width, not semantics.
_TYPE_ALIASES = {"large_string": "string", "large_binary": "binary",
                 "string_view": "string", "binary_view": "binary"}


def _canon_type(t) -> str:
    s = str(t)
    return _TYPE_ALIASES.get(s, s)


def _normalize(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    return sorted(tuple(_norm(r[i]) for i in order) for r in rows)


def _typed_schema(arrow_table):
    """(col_name, canonical arrow type) pairs, sorted by name — the driver
    hashes type-tagged values, so DuckDB HUGEINT (decimal128) vs Spark BIGINT
    (int64) must FAIL here even when str(value) matches (VERDICT r1 item 1)."""
    return sorted((f.name, _canon_type(f.type)) for f in arrow_table.schema)


ORACLES = entry_mod.oracle_sql()
QUERIES = entry_mod.queries()


def test_every_oracle_has_a_query():
    assert set(ORACLES) <= set(QUERIES)


@pytest.mark.parametrize("name", sorted(ORACLES))
def test_query_matches_oracle(spark, ddb, name):
    _assert_matches_oracle(ddb, QUERIES[name](spark, SF_DIR), name)


# the tables written as directories of several files below: the sized read
# of ``_t`` coalesces their scan partitions, which a single-file table
# (one scan partition) never exercises
MULTI_FILE_TABLES = ("documents", "embeddings")
MULTI_FILE_QUERIES = sorted(
    name for name, sql in ORACLES.items()
    if re.search(r"\b(%s)\b" % "|".join(MULTI_FILE_TABLES), sql))


@pytest.fixture(scope="module")
def multi_file_sf(tmp_path_factory):
    """(sf_dir, DuckDB connection): sf0.001 with ``documents`` and
    ``embeddings`` rewritten as 4-file directories split by row range, as
    the near-dup benchmark corpus is written; the other tables are links
    to the single-file originals."""
    sf = tmp_path_factory.mktemp("sf_multi_file")
    con = duckdb.connect()
    for t in TABLES:
        src = f"{SF_DIR}/{t}.parquet"
        if t in MULTI_FILE_TABLES:
            table = pq.read_table(src)
            os.makedirs(sf / f"{t}.parquet")
            step = -(-table.num_rows // 4)
            for i in range(4):
                pq.write_table(table.slice(i * step, step),
                               sf / f"{t}.parquet" / f"part-{i:05d}.parquet")
            src = f"{sf}/{t}.parquet/*.parquet"
        else:
            os.symlink(src, sf / f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{src}'")
    yield str(sf), con
    con.close()


@pytest.mark.parametrize("name", MULTI_FILE_QUERIES)
def test_query_matches_oracle_on_multi_file_tables(spark, multi_file_sf, name):
    sf_dir, con = multi_file_sf
    _assert_matches_oracle(con, QUERIES[name](spark, sf_dir), name)


# every query whose operator splits text into words
WHITESPACE_QUERIES = ("token_count", "quality_score", "repetition_stats",
                      "doc_fingerprint", "gopher_signals", "pack_sequences",
                      "simhash", "minhash_signatures")


@pytest.fixture(scope="module")
def vtab_sf(tmp_path_factory):
    """(sf_dir, DuckDB connection): a two-row ``documents`` table, one text
    holding vertical tabs (``\\x0B``), which Java's ``\\s`` matches and the
    oracles' RE2 ``\\s`` does not."""
    import pyarrow as pa
    sf = tmp_path_factory.mktemp("sf_vtab")
    texts = ["vt\x0bsplit words\x0b here", "a b c"]
    pq.write_table(pa.table({
        "doc_id": pa.array([1, 2], pa.int64()),
        "text": texts,
        "lang": ["en", "en"],
        "source": ["web", "web"],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    }), sf / "documents.parquet")
    con = duckdb.connect()
    con.execute(f"CREATE VIEW documents AS SELECT * FROM "
                f"'{sf}/documents.parquet'")
    yield str(sf), con
    con.close()


@pytest.mark.parametrize("name", WHITESPACE_QUERIES)
def test_tokenizers_split_on_the_oracles_whitespace(spark, vtab_sf, name):
    sf_dir, con = vtab_sf
    _assert_matches_oracle(con, QUERIES[name](spark, sf_dir), name)


def _assert_matches_oracle(con, sdf, name):
    s_cols = sdf.columns
    s_arrow = sdf.toArrow()
    s_rows = [tuple(r.values()) for r in s_arrow.to_pylist()]

    res = con.execute(ORACLES[name])
    d_arrow = res.fetch_arrow_table()
    d_cols = d_arrow.column_names
    d_rows = [tuple(r.values()) for r in d_arrow.to_pylist()]

    assert sorted(s_cols) == sorted(d_cols), f"{name}: column names differ"
    assert _typed_schema(s_arrow) == _typed_schema(d_arrow), (
        f"{name}: column TYPES differ (driver hashes types!): "
        f"spark={_typed_schema(s_arrow)} duckdb={_typed_schema(d_arrow)}"
    )
    assert len(s_rows) == len(d_rows), f"{name}: row count {len(s_rows)} vs {len(d_rows)}"
    sn = _normalize(s_rows, s_cols)
    dn = _normalize(d_rows, d_cols)
    if sn != dn:
        diff = [(a, b) for a, b in zip(sn, dn) if a != b][:3]
        raise AssertionError(f"{name}: value mismatch, first diffs: {diff}")


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name):
    sdf = QUERIES[name](spark, SF_DIR)
    assert sdf.count() >= 0
    assert sdf.columns


def test_entry_smoke(spark):
    df = entry_mod.entry(spark)
    rows = df.limit(5).collect()
    assert df.count() > 0
    assert rows and "url" in df.columns
