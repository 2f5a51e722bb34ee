"""Driver-style Spark-vs-DuckDB parity for oracled queries that sit
OUTSIDE the driver's 50-row graded window (it grades the registry in
order) — without this, those queries' oracles would never actually run.

Mirrors the driver's comparison: run the registered Spark query and its
oracle SQL on the same parquet tables, sort columns by name and rows by
value, then require exact equality (the queries round any multi-term
float columns themselves, so exact is the contract, same as the hash
gate).
"""

from __future__ import annotations

import pytest

TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _ungraded_oracled() -> list[str]:
    from blueetl_spark.queries import GRADED_COUNT, ORACLES, QUERIES

    return [n for n in list(QUERIES)[GRADED_COUNT:] if n in ORACLES]


def test_registry_invariants():
    """The gate table is the one registration site: names are unique,
    every graded gate carries an oracle (the rows-only gates sit in the
    tail), and the headline bench times only registered gates."""
    from blueetl_spark.queries import (
        GATES,
        GRADED_COUNT,
        HEADLINE,
        ORACLES,
        QUERIES,
    )

    names = [name for name, *_ in GATES]
    assert len(names) == len(set(names)) == len(QUERIES)
    assert list(QUERIES) == names
    graded = names[:GRADED_COUNT]
    assert len(graded) == GRADED_COUNT
    assert [n for n in graded if n not in ORACLES] == []
    assert set(HEADLINE) <= set(QUERIES)


def _canon(df):
    """Column-name-sorted, row-sorted list of serialized-value tuples.

    Values are compared through their string serialization (same
    hardening as ``tools/check_oracle.py``): the driver's gate hashes
    serialized values, so int64 ``99111`` and float64 ``99111.0`` must
    NOT compare equal — ``astype(str)`` keeps exactly that distinction
    while staying insensitive to int32-vs-int64 width."""
    cols = sorted(df.columns)
    s = df[cols].astype(str)
    return cols, sorted(s.itertuples(index=False, name=None))


@pytest.mark.parametrize("name", _ungraded_oracled())
def test_ungraded_oracled_query_matches_duckdb(spark, sf_dir, name):
    import duckdb

    from blueetl_spark.queries import ORACLES, QUERIES

    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")

    got = QUERIES[name](spark, sf_dir).toPandas()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    want = con.execute(ORACLES[name]).df()

    got_cols, got_rows = _canon(got)
    want_cols, want_rows = _canon(want)
    assert got_cols == want_cols
    assert len(got_rows) == len(want_rows)
    for g, w in zip(got_rows, want_rows):
        assert g == w, f"{name}: first differing row {g!r} != {w!r}"
