"""Compare one registry query with its DuckDB oracle the way the
driver's correctness gate does: the same column set, the same row
count and the same multiset of rows over the sorted columns."""

import duckdb

from loongcollector_spark.queries import REGISTRY


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    return v


def _rows_to_multiset(cols, rows):
    idx = sorted(range(len(cols)), key=lambda i: cols[i])
    # repr-keyed sort is total even with NULLs / mixed columns
    return sorted(
        (tuple(_norm(r[i]) for i in idx) for r in rows), key=repr
    )


def assert_matches_oracle(spark, fixture_dir, name):
    """Run query *name* over *fixture_dir* in Spark, and its oracle in
    DuckDB over views of the tables the query declares
    (``<fixture_dir>/<table>.parquet``); assert they agree and return
    the Spark rows."""
    q = REGISTRY[name]
    sdf = q.fn(spark, fixture_dir)
    scols = sdf.columns
    srows = sdf.collect()
    with duckdb.connect() as con:
        for t in q.tables:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{fixture_dir}/{t}.parquet'")
        res = con.execute(q.oracle)
        dcols = [d[0] for d in res.description]
        drows = res.fetchall()
    assert sorted(scols) == sorted(dcols), f"{name}: column sets differ"
    assert len(srows) == len(drows), f"{name}: row count {len(srows)} != {len(drows)}"
    assert _rows_to_multiset(scols, srows) == _rows_to_multiset(dcols, drows), (
        f"{name}: value mismatch"
    )
    return srows
