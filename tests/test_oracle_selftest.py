"""Oracle-construct self-test + canary plumbing (VERDICT r6 items #2/#3).

The doc-profile driver red persisted for two rounds while the full local
gate exact-matched 50/50 — the residual suspect is a driver-environment
DuckDB difference that a single per-query hash cannot localise. Round 7's
answer has two parts, both tested here:

1. Every DuckDB construct the doc-profile oracles lean on is pinned to an
   expected literal result (`_CANARIES` in `__spark_entry__`). Locally this
   suite asserts each pin BY NAME, so an oracle-semantics change on a
   DuckDB upgrade turns into a named assertion, not a silent hash flip.
2. The same pins ride INSIDE `ORACLE_DOC_PROFILE_B` as a canary tail:
   canary k emits 2**k rows iff the executing engine disagrees with the
   pin. On the driver, a drift therefore flips `rows_match` with
   `oracle_rows - 500` identifying the exact construct subset — the
   engineered bisection signal VERDICT asked for. This file verifies the
   tail is EMPTY on local DuckDB and NON-EMPTY (with the right
   multiplicity) when a pin is deliberately inverted.

Also pins the integer micro-unit gate contract: `doc_profile_a`/`_b`
schemas must contain only BIGINT/VARCHAR (no DOUBLE anywhere — a hash over
integers and md5 strings is immune to engine float formatting variance).
"""

from __future__ import annotations

import re

import duckdb
import pytest

import __spark_entry__ as entrymod

SF = "/root/testdata/sf0.001"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    for t in TABLES:
        c.sql(f"CREATE VIEW {t} AS SELECT * FROM '{SF}/{t}.parquet'")
    return c


@pytest.mark.parametrize(
    "name,expr,expected",
    entrymod._CANARIES,
    ids=[c[0] for c in entrymod._CANARIES],
)
def test_canary_pin(con, name, expr, expected):
    got, want = con.sql(f"SELECT ({expr}), ({expected})").fetchone()
    assert got == want, (
        f"oracle construct {name!r} drifted on this DuckDB build "
        f"({duckdb.__version__}): got {got!r}, pinned {want!r}"
    )


def test_canary_tail_empty_locally(con):
    out = con.sql(entrymod.ORACLE_DOC_PROFILE_B).df()
    canary_rows = out[out["doc_id"] < 0]
    assert len(canary_rows) == 0, (
        "canary tail fired locally: " + repr(canary_rows["ld_clean_md5"].tolist())
    )


def test_canary_tail_fires_on_drift(con):
    """Invert one pin — the tail must emit exactly 2**k rows tagged with
    the canary's name (proves the UNION plumbing actually carries the
    signal; a WHERE-clause typo would silently never fire)."""
    k, (name, expr, expected) = 3, entrymod._CANARIES[3]
    broken = entrymod._canary_sql(k, name, expr, "'deliberately-wrong'")
    n, tag = con.sql(
        f"SELECT count(*), min(ld_clean_md5) FROM ({broken})"
    ).fetchone()
    assert n == 2 ** k
    assert tag == f"canary:{name}"


def test_canary_multiplicities_unique():
    """2**k multiplicities decode uniquely: every subset of canaries sums
    to a distinct row-count delta (binary representation)."""
    deltas = [2 ** k for k in range(len(entrymod._CANARIES))]
    assert len(set(deltas)) == len(deltas)
    assert sum(deltas) < 2 ** 15  # bounded noise even if ALL fire


def test_canary_tail_a_empty_locally(con):
    """Round 8 (VERDICT r7 #8): the a-half oracle carries the same drift
    canary tail as the b-half — empty when the executing DuckDB agrees
    with every pin."""
    out = con.sql(entrymod.ORACLE_DOC_PROFILE_A).df()
    canary_rows = out[out["doc_id"] < 0]
    assert len(canary_rows) == 0, (
        "a-half canary tail fired locally: "
        + repr(canary_rows["fingerprint_md5"].tolist())
    )


def test_canary_tail_a_fires_on_drift(con):
    """Inverting a pin makes the a-tail emit exactly 2**k rows tagged in
    fingerprint_md5 (UNION plumbing carries the signal)."""
    k, (name, expr, expected) = 5, entrymod._CANARIES[5]
    broken = entrymod._canary_sql_a(k, name, expr, "'deliberately-wrong'")
    n, tag = con.sql(
        f"SELECT count(*), min(fingerprint_md5) FROM ({broken})"
    ).fetchone()
    assert n == 2 ** k
    assert tag == f"canary:{name}"


def _spark_schema_types(spark, name):
    df = entrymod.queries()[name](spark, SF)
    return {f.name: f.dataType.simpleString() for f in df.schema.fields}


@pytest.mark.parametrize("name", ["doc_profile_a", "doc_profile_b"])
def test_gate_contract_integer_only(spark, name):
    """No DOUBLE/FLOAT/DECIMAL anywhere in the split gate contracts —
    BIGINT and strings only (VERDICT r6 #2)."""
    types = _spark_schema_types(spark, name)
    bad = {c: t for c, t in types.items() if t not in ("bigint", "string")}
    assert not bad, f"{name} gate contract must be BIGINT/VARCHAR only: {bad}"


@pytest.mark.parametrize("name", ["doc_profile_a", "doc_profile_b"])
def test_oracle_contract_integer_only(con, name):
    out = con.sql(entrymod.oracle_sql()[name]).df()
    bad = {
        c: str(dt)
        for c, dt in out.dtypes.items()
        if str(dt) not in ("int64", "object", "Int64")
    }
    assert not bad, f"{name} oracle emits non-integer/string columns: {bad}"


def test_bpe_regex_spark_duckdb_agree(spark, con):
    """The one regex the a-half keeps (the BPE pretokeniser IS the
    operator): pin Spark and DuckDB to the same segment count on a literal
    that exercises every alternation arm."""
    from tern_ep_data_pipeline_spark.operators.text import BPE_SPLIT_PATTERN
    from pyspark.sql import functions as F

    lit = "it's 42 ok. don't we'll I've 3.14x"
    n_spark = (
        spark.range(1)
        .select(F.regexp_count(F.lit(lit), F.lit(BPE_SPLIT_PATTERN)).alias("n"))
        .collect()[0]["n"]
    )
    sql_lit = lit.replace("'", "''")
    sql_pat = BPE_SPLIT_PATTERN.replace("'", "''")
    n_duck = con.sql(
        f"SELECT len(regexp_extract_all('{sql_lit}', '{sql_pat}'))"
    ).fetchone()[0]
    assert n_spark == n_duck
