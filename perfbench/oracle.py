"""Result checks for the event analytics workload: each key's Spark result must equal
its DuckDB oracle SQL (`SparkEntry.oracleSql`) as an order-insensitive
multiset of rows, columns matched by name. Keys without oracle SQL are
checked on rows only (at least one row)."""
import datetime
import decimal
import hashlib
import math
import os

import duckdb
import pyarrow.parquet as pq


def _norm(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if f == int(f) and abs(f) < 2**53:
            return int(f)
        return float("%.10g" % f)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return tuple(sorted((k, _norm(x)) for k, x in v.items()))
    if isinstance(v, (list, tuple)):
        if v and all(isinstance(x, tuple) and len(x) == 2 for x in v):   # arrow map
            return tuple(sorted((_norm(a), _norm(b)) for a, b in v))
        return tuple(_norm(x) for x in v)
    return v


def digest(table):
    """Order-insensitive digest of an arrow table, columns sorted by name."""
    cols = sorted(table.column_names)
    columns = [[_norm(v) for v in table.column(c).to_pylist()] for c in cols]
    lines = sorted(repr(row) for row in zip(*columns))
    h = hashlib.sha256()
    h.update(repr(cols).encode())
    for line in lines:
        h.update(line.encode())
    return h.hexdigest(), len(lines)


def check(data_dir, results_dir, oracle_sql, keys):
    """Yields (key, ok, detail) for every key the run executed."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    p = os.path.join(data_dir, "events.parquet")
    con.execute(f"CREATE VIEW events AS SELECT * FROM read_parquet('{p}')")
    for key in keys:
        path = os.path.join(results_dir, key)
        try:
            got = pq.read_table(path)
        except Exception as e:  # a missing result is a failed check
            yield key, False, f"no result written ({e})"
            continue
        sql = oracle_sql.get(key)
        if sql is None:
            yield key, got.num_rows > 0, f"rows-only check: {got.num_rows} rows"
            continue
        try:
            want = con.execute(sql).fetch_arrow_table()
        except Exception as e:
            yield key, False, f"oracle SQL failed: {e}"
            continue
        (dg, ng), (dw, nw) = digest(got), digest(want)
        yield key, dg == dw, f"spark {ng} rows {dg[:12]}, oracle {nw} rows {dw[:12]}"
    con.close()
