"""Engine-independent output aggregates, computed by Spark and by DuckDB.

Every output column contributes to per-sink aggregates: its non-null
count plus, by type, summed string lengths, an integer sum, summed
epoch seconds, or a map's summed size and value lengths. String
columns that hold integers (the parsed numeric fields) are also summed
as numbers, and each row's string columns, joined, feed a summed md5
prefix, so an equal-length change to a string is caught too. Spark computes them over the program's output; DuckDB
computes them over the workload's oracle query on the same input
parquet. Equal dictionaries mean a correct run.
"""

from __future__ import annotations

import tempfile

from pyspark.sql import DataFrame
from pyspark.sql import types as T


def aggregate_exprs(schema: T.StructType, numeric: list[str]) -> list[tuple[str, str, str]]:
    """``(name, spark_sql, duckdb_sql)`` aggregates over every column
    except ``sink``, the grouping key."""
    out: list[tuple[str, str, str]] = []
    for f in schema.fields:
        c, t = f.name, f.dataType
        if c == "sink":
            continue
        if isinstance(t, T.MapType):
            out.append((f"{c}.size", f"sum(size({c}))", f"sum({c}__size)"))
            out.append((
                f"{c}.len",
                f"sum(aggregate(map_values({c}), 0L, (a, x) -> a + length(x)))",
                f"sum({c}__len)",
            ))
            continue
        out.append((f"{c}.n", f"count({c})", f"count({c})"))
        if isinstance(t, T.StringType):
            out.append((f"{c}.len", f"sum(length({c}))", f"sum(length({c}))"))
        elif isinstance(t, (T.IntegerType, T.LongType, T.ShortType)):
            out.append((f"{c}.sum", f"sum({c})", f"sum({c})"))
        elif isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            out.append((
                f"{c}.epoch_s",
                f"sum(unix_seconds(CAST({c} AS TIMESTAMP)))",
                f"sum(CAST(epoch({c}) AS BIGINT))",
            ))
        else:
            raise TypeError(f"no engine-independent aggregate for {c}: {t}")
    for c in numeric:
        out.append((f"{c}.num", f"sum(CAST({c} AS BIGINT))", f"sum(CAST({c} AS BIGINT))"))
    strings = [f.name for f in schema.fields if isinstance(f.dataType, T.StringType)]
    if strings:
        row = f"md5(concat_ws(chr(31), {', '.join(strings)}))"
        out.append((
            "strings.md5",
            f"sum(CAST(conv(substr({row}, 1, 8), 16, 10) AS BIGINT))",
            f"sum(CAST(('0x' || substr({row}, 1, 8)) AS BIGINT))",
        ))
    return out


def _rows_to_dict(rows, names: list[str]) -> dict[str, int]:
    got: dict[str, int] = {}
    for r in rows:
        sink = r[0]
        got[f"{sink}.rows"] = int(r[1])
        for name, v in zip(names, r[2:]):
            got[f"{sink}.{name}"] = int(v) if v is not None else 0
    return got


def spark_aggregates(out: DataFrame, numeric: list[str]) -> dict[str, int]:
    """Per-sink aggregates of the program's output, computed by Spark."""
    exprs = aggregate_exprs(out.schema, numeric)
    view = "__perfbench_out"
    out.createOrReplaceTempView(view)
    sel = ", ".join(f"{s} AS `a{i}`" for i, (_, s, _) in enumerate(exprs))
    rows = out.sparkSession.sql(
        f"SELECT sink, count(*), {sel} FROM {view} GROUP BY sink"
    ).collect()
    return _rows_to_dict(rows, [n for n, _, _ in exprs])


def duckdb_aggregates(
    input_path: str,
    oracle_sql: str,
    schema: T.StructType,
    numeric: list[str],
    threads: int,
) -> dict[str, int]:
    """The same aggregates over the oracle query, computed by DuckDB
    from the input parquet the program read."""
    import duckdb  # only the check needs it, not the program's set-up

    exprs = aggregate_exprs(schema, numeric)
    con = duckdb.connect(config={
        "threads": threads, "memory_limit": "1GB", "temp_directory": tempfile.gettempdir(),
    })
    try:
        con.execute(
            f"CREATE VIEW src AS SELECT * FROM read_parquet('{input_path}/*.parquet')"
        )
        con.execute(f"CREATE VIEW expected AS {oracle_sql}")
        have = {r[0] for r in con.execute("DESCRIBE expected").fetchall()}
        want = set()
        for f in schema.fields:
            maps = isinstance(f.dataType, T.MapType)
            want |= {f"{f.name}__size", f"{f.name}__len"} if maps else {f.name}
        if have != want:
            raise ValueError(f"output columns {sorted(want)} != oracle columns {sorted(have)}")
        sel = ", ".join(d for _, _, d in exprs)
        rows = con.execute(
            f"SELECT sink, count(*), {sel} FROM expected GROUP BY sink"
        ).fetchall()
    finally:
        con.close()
    return _rows_to_dict(rows, [n for n, _, _ in exprs])


def compare(got: dict[str, int], want: dict[str, int]) -> list[str]:
    """Human-readable mismatches; empty when the outputs agree."""
    return [
        f"{k}: program {got.get(k)} != duckdb {want.get(k)}"
        for k in sorted(set(got) | set(want))
        if got.get(k) != want.get(k)
    ]
