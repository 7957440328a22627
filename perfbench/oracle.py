"""DuckDB oracle for the relational workload.

Each query's oracle SQL (`SparkEntry.oracleSql`, passed on by the harness)
runs in DuckDB over the same parquet tables.  Both results are reduced to a
canonical form (columns by name, rows sorted, floats rounded to 9 digits)
and compared.
"""
import datetime
import decimal
import math
import os

import duckdb
import pyarrow.parquet as pq

TABLES = ("region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings")


def canon_value(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        if isinstance(v, decimal.Decimal) and f == int(f):
            return str(int(f))
        return repr(round(f, 9))
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon_value(x) for x in v) + "]"
    return str(v)


def canon(table):
    """Canonical (columns, sorted rows) of a pyarrow table."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted("\x01".join(canon_value(v) for v in r) for r in zip(*data))
    return cols, rows


def compare(data_dir, results_dir, oracle_sql):
    """{query: problem or None} for every query with oracle SQL."""
    con = duckdb.connect()
    con.execute("PRAGMA threads=2")
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    out = {}
    for name, sql in sorted(oracle_sql.items()):
        if sql is None:
            out[name] = "no oracle SQL"
            continue
        try:
            want = canon(con.execute(sql).fetch_arrow_table())
            got = canon(pq.read_table(os.path.join(results_dir, name)))
        except Exception as e:  # a query the oracle cannot run is a failure
            out[name] = f"oracle compare raised: {e!r}"[:300]
            continue
        if want[0] != got[0]:
            out[name] = f"columns {got[0]} != oracle {want[0]}"
        elif want[1] != got[1]:
            diff = len(set(want[1]) ^ set(got[1]))
            out[name] = f"{len(got[1])} rows vs oracle {len(want[1])}, {diff} differ"
        else:
            out[name] = None
    con.close()
    return out
