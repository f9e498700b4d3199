"""Output checks for the benchmark: each operation's last timed output
against DuckDB over the same generated inputs.

Values are canonicalised before comparison: columns in name order,
integral numbers as ints, timestamps as epoch milliseconds (the NDJSON
sink writes milliseconds), dates as ISO strings. Two numbers match when
they differ by at most one step of the oracles' 6-decimal rounding
(1e-6; the engines break rounding ties differently) or by a relative
1e-9. An operation whose plan ends in a global sort is compared row by
row; any other as a multiset.
"""
import base64
import datetime as dt
import decimal
import glob
import json
import math
import os
import struct

import duckdb

EPOCH = dt.datetime(1970, 1, 1)
MS = dt.timedelta(milliseconds=1)
# sessionize emits a session once the watermark (2 h behind the newest
# event) passes its end plus the 30-minute gap; later ones are still open
OPEN_SESSION_MS = (2 * 3600 + 1800) * 1000


def num(x):
    f = float(x)
    if math.isnan(f):
        return "nan"
    if math.isinf(f):
        return "inf" if f > 0 else "-inf"
    if f.is_integer() and abs(f) < 2 ** 53:
        return int(f)
    return f


def same(a, b):
    """Equality of canonical values, numbers within the tolerance above."""
    if isinstance(a, list) and isinstance(b, list):
        return len(a) == len(b) and all(same(x, y) for x, y in zip(a, b))
    numeric = (int, float)
    if (isinstance(a, numeric) and isinstance(b, numeric)
            and not isinstance(a, bool) and not isinstance(b, bool)):
        return abs(a - b) <= max(1.01e-6, 1e-9 * max(abs(a), abs(b)))
    return a == b


def ts_ms(t):
    if t.tzinfo is not None:
        t = t.astimezone(dt.timezone.utc).replace(tzinfo=None)
    return "ts:%d" % ((t - EPOCH) // MS)


def spark_value(v, t):
    """Canonical form of a value from Spark's JSON, by its Spark type."""
    if v is None:
        return None
    if isinstance(t, dict):
        kind = t["type"]
        if kind == "array":
            return [spark_value(x, t["elementType"]) for x in v]
        if kind == "struct":
            return [spark_value(v.get(f["name"]), f["type"]) for f in t["fields"]]
        if kind == "map":
            # Row.json writes a map with non-string keys as key/value objects
            pairs = v.items() if isinstance(v, dict) else ((e["key"], e["value"]) for e in v)
            return sorted([str(k), spark_value(x, t["valueType"])] for k, x in pairs)
        raise ValueError("unknown type %r" % t)
    if t in ("long", "integer", "short", "byte"):
        return int(v)
    if t == "double" or t.startswith("decimal"):
        return num(v)
    if t == "float":
        return num(struct.unpack("f", struct.pack("f", float(v)))[0])
    if t in ("timestamp", "timestamp_ntz"):
        return ts_ms(dt.datetime.fromisoformat(v))
    if t == "date":
        return "d:" + v
    if t == "binary":
        return "x:" + base64.b64decode(v).hex()
    if t == "boolean":
        return bool(v)
    return v


def duck_value(v):
    """Canonical form of a value DuckDB returned, by its Python type."""
    if v is None or isinstance(v, (bool, str)):
        return v
    if isinstance(v, int):
        return v
    if isinstance(v, (float, decimal.Decimal)):
        return num(v)
    if isinstance(v, dt.datetime):
        return ts_ms(v)
    if isinstance(v, dt.date):
        return "d:" + v.isoformat()
    if isinstance(v, (list, tuple)):
        return [duck_value(x) for x in v]
    if isinstance(v, dict):
        return [duck_value(x) for x in v.values()]
    if isinstance(v, (bytes, bytearray, memoryview)):
        return "x:" + bytes(v).hex()
    return str(v)


def by_name(columns, rows):
    """Columns in name order, each row's values in that order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    return [columns[i] for i in order], [[r[i] for i in order] for r in rows]


def spark_rows(entry):
    schema = json.loads(entry["schema"])
    fields = schema["fields"]
    path = entry["path"]
    files = [path] if os.path.isfile(path) else sorted(
        f for f in glob.glob(os.path.join(path, "*"))
        if os.path.isfile(f) and not os.path.basename(f).startswith(("_", ".")))
    rows = []
    for f in files:
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    d = json.loads(line, parse_float=decimal.Decimal)
                    rows.append([spark_value(d.get(x["name"]), x["type"]) for x in fields])
    return by_name([x["name"] for x in fields], rows)


def duck_rows(con, sql):
    rel = con.sql(sql)
    return by_name(list(rel.columns), [[duck_value(v) for v in r] for r in rel.fetchall()])


def parquet_rows(con, path):
    if not glob.glob(os.path.join(path, "*.parquet")):
        return None, []
    return duck_rows(con, "SELECT * FROM read_parquet('%s/*.parquet')" % path)


def key(row):
    """Sort and match key: numbers to 6 significant digits."""
    def coarse(v):
        if isinstance(v, list):
            return [coarse(x) for x in v]
        if isinstance(v, float):
            return num("%.6g" % v)
        return v
    return json.dumps(coarse(row), sort_keys=True, default=str)


def compare(got_cols, got, exp_cols, exp, ordered):
    if got_cols is not None and got_cols != exp_cols:
        return "columns %s vs %s" % (got_cols, exp_cols)
    if len(got) != len(exp):
        return "rows %d vs %d" % (len(got), len(exp))
    if not ordered:
        got, exp = sorted(got, key=key), sorted(exp, key=key)
    for i, (g, e) in enumerate(zip(got, exp)):
        if not same(g, e):
            return "row %d: %s vs %s" % (i, key(g)[:200], key(e)[:200])
    return None


def check_sessions(con, got_cols, got, sql):
    """A streamed session must be a batch session; a batch session may be
    missing only if it could still be open when the stream ended."""
    exp_cols, exp = duck_rows(con, sql)
    if got_cols is not None and got_cols != exp_cols:
        return "columns %s vs %s" % (got_cols, exp_cols)
    last = con.sql("SELECT epoch_ms(max(ts)) FROM events").fetchone()[0]
    end = exp_cols.index("end_ms")
    pending = {}
    for r in exp:
        pending.setdefault(key(r), []).append(r)
    for r in got:
        bucket = pending.get(key(r), [])
        match = next((i for i, e in enumerate(bucket) if same(r, e)), None)
        if match is None:
            return "streamed session not in batch: %s" % key(r)[:200]
        bucket.pop(match)
    for bucket in pending.values():
        for r in bucket:
            if r[end] < last - OPEN_SESSION_MS:
                return "closed session missing from stream: %s" % key(r)[:200]
    return None


def run(manifest, inputs):
    """Returns {op name: None if correct, else the reason}."""
    con = duckdb.connect()
    con.sql("SET threads=4")
    con.sql("SET TimeZone='UTC'")
    for d in sorted(glob.glob(os.path.join(inputs, "*.parquet"))):
        name = os.path.basename(d)[: -len(".parquet")]
        con.sql("CREATE VIEW %s AS SELECT * FROM read_parquet('%s/*.parquet')" % (name, d))
    verdict = {}
    for entry in manifest:
        name, mode, sql = entry["name"], entry["check"], entry["sql"]
        try:
            if entry["kind"] == "missing":
                verdict[name] = "no output"
                continue
            if entry["kind"] == "json":
                cols, got = spark_rows(entry)
            else:
                cols, got = parquet_rows(con, entry["path"])
            if mode is None:
                verdict[name] = None if got else "empty output and no oracle"
            elif mode == "oracle":
                exp_cols, exp = duck_rows(con, sql)
                verdict[name] = compare(cols, got, exp_cols, exp, entry["ordered"])
            elif mode == "sessions":
                verdict[name] = check_sessions(con, cols, got, sql)
            else:
                verdict[name] = "unknown check %s" % mode
        except Exception as e:  # an oracle or reader error fails the op, loudly
            verdict[name] = "check error: %s" % str(e).splitlines()[0][:200]
    con.close()
    return verdict
