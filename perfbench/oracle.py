"""Checks query results against DuckDB running the repository's own oracle
SQL (`SparkEntry.oracleSql`) over the same generated tables.

Both sides go through one canonical form: columns in name order, doubles and
decimals rounded to 4 places, timestamps as naive UTC microseconds and dates
as their midnight (the normalization `tools/oracle_check.py` applies). The
comparison is order-insensitive: a result matches when the sorted canonical
rows hash the same.
"""
import datetime
import decimal
import hashlib
import json
import os

EPOCH = datetime.datetime(1970, 1, 1)


def _tagged(obj):
    """Rebuild the typed values the harness tags in its JSON dump."""
    if len(obj) == 1:
        (k, v), = obj.items()
        if k == "$ts":
            return EPOCH + datetime.timedelta(microseconds=v)
        if k == "$date":
            return datetime.date.fromisoformat(v)
        if k == "$bin":
            return bytes.fromhex(v)
        if k == "$dec":
            return decimal.Decimal(v)
        if k == "$struct":
            return dict(v)
        if k == "$map":
            return {_key(a): b for a, b in v}
    return obj


def _key(v):
    return tuple(v) if isinstance(v, list) else v


def load_dump(path):
    """(column names, rows) from a harness result dump."""
    with open(path) as f:
        header = json.loads(f.readline())
        rows = [json.loads(line, object_hook=_tagged) for line in f if line.strip()]
    return header, rows


def canon(v) -> str:
    if v is None:
        return "∅"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, (float, decimal.Decimal)):
        f = float(v)
        return "nan" if f != f else repr(round(f, 4) + 0.0)
    if isinstance(v, str):
        return repr(v)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat(timespec="microseconds")
    if isinstance(v, datetime.date):  # a date reads as its midnight, as pandas does
        return canon(datetime.datetime(v.year, v.month, v.day))
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{canon(k)}:{canon(x)}" for k, x in sorted(v.items(), key=lambda kv: canon(kv[0]))) + "}"
    return repr(v)


def digest(columns, rows):
    """(sorted column names, row count, sha256 of the sorted canonical rows)."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("|".join(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256("\n".join(lines).encode()).hexdigest()
    return [columns[i] for i in order], len(lines), h


def compare(got, want):
    """None when the two (columns, rows) results match, else a reason."""
    gc, gn, gh = digest(*got)
    wc, wn, wh = digest(*want)
    if gc != wc:
        return f"columns {gc} != oracle {wc}"
    if gn != wn:
        return f"{gn} rows != oracle {wn}"
    if gh != wh:
        return "values differ from oracle"
    return None


def check(results_dir, data_dir, oracle_sql, tables):
    """Compare every dumped result that has an oracle; returns {query: reason}."""
    import duckdb
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    failures = {}
    for name, sql in sorted(oracle_sql.items()):
        path = os.path.join(results_dir, f"{name}.jsonl")
        if not os.path.exists(path):
            failures[name] = "no result"
            continue
        try:
            rel = con.sql(sql)
            want = (list(rel.columns), rel.fetchall())
        except Exception as e:  # an oracle that cannot run is a failed check
            failures[name] = f"oracle error: {e}"
            continue
        reason = compare(load_dump(path), want)
        if reason:
            failures[name] = reason
    con.close()
    return failures
