"""Output check: order-independent result fingerprints.

A fingerprint is the row count, the sorted lower-cased column names and the
sum (mod 2^64) of a 64-bit hash of every row's canonical text. Spark's
results (parquet dumps) and the DuckDB expectations go through the same
canonicalisation, so int/bigint/decimal/double spellings of one value agree
and doubles are compared to 12 significant digits.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb


def canon(v):
    if v is None:
        return "N"
    if isinstance(v, bool):
        return "T" if v else "F"
    if isinstance(v, int):
        return str(v)
    if isinstance(v, decimal.Decimal):
        if v == v.to_integral_value():
            return str(int(v))
        return canon(float(v))
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if math.isinf(v):
            return "inf" if v > 0 else "-inf"
        if v == int(v) and abs(v) < 2 ** 53:
            return str(int(v))
        return format(v, ".12g")
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, datetime.timedelta):
        return f"{v // datetime.timedelta(microseconds=1)}us"
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{canon(x)}" for k, x in v.items()) + "}"
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    return str(v)


def fingerprint(columns, rows):
    names = [c.lower() for c in columns]
    order = sorted(range(len(names)), key=lambda k: names[k])
    total = 0
    n = 0
    for r in rows:
        text = "\x1f".join(canon(r[k]) for k in order)
        h = hashlib.blake2b(text.encode("utf-8", "surrogatepass"), digest_size=8).digest()
        total = (total + int.from_bytes(h, "big")) % (1 << 64)
        n += 1
    return {"rows": n, "columns": sorted(names), "hash": f"{total:016x}"}


def _fetch(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return fingerprint(cols, cur.fetchall())


def connect(data_dir, tables):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in tables:
        p = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')")
    return con


def dump_fingerprint(con, dump_dir):
    return _fetch(con, f"SELECT * FROM read_parquet('{dump_dir}/*.parquet')")


class OracleCache:
    """DuckDB oracle fingerprints, memoised on disk by (dataset, SQL text):
    the vendored tables never change, so a query's expected result does not
    either."""

    def __init__(self, path, con, dataset):
        self.path, self.con, self.dataset = path, con, dataset
        self.memo = {}
        if os.path.exists(path):
            with open(path) as f:
                self.memo = json.load(f)

    def get(self, sql):
        key = hashlib.sha256(f"{self.dataset}\n{sql}".encode()).hexdigest()
        if key not in self.memo:
            self.memo[key] = _fetch(self.con, sql)
        return self.memo[key]

    def save(self):
        os.makedirs(os.path.dirname(self.path), exist_ok=True)
        tmp = self.path + ".tmp"
        with open(tmp, "w") as f:
            json.dump(self.memo, f)
        os.replace(tmp, self.path)


def check_outputs(op_ids, ops, got, oracle_sql, expect_sql, stored, oracle):
    """Compare each checked op's fingerprint with its expected value.

    got:        op id -> fingerprint of the Spark result (None if it threw)
    oracle_sql: op id -> SparkEntry.oracleSql text, for entries that have one
    expect_sql: op id -> closed-form DuckDB SQL, for generated connector queries
    stored:     entry name -> fingerprint stored when the benchmark was added
    oracle:     callable(sql) -> fingerprint

    Returns op id -> {"ok", "source", "got", "want"}.
    """
    out = {}
    for oid in op_ids:
        fp = got.get(oid)
        if oid in expect_sql:
            source, want = "range_sql", oracle(expect_sql[oid])
        elif oid in oracle_sql:
            source, want = "oracle", oracle(oracle_sql[oid])
        else:
            name = ops[oid].get("name", oid)
            source, want = "stored", stored.get(name)
        ok = fp is not None and want is not None and fp == want
        out[oid] = {"ok": ok, "source": source, "got": fp, "want": want}
    return out


def account(run, checks):
    """Failure accounting over the timed operations.

    An operation fails if it threw (in any pass) or its output check failed;
    every timed execution of a failing operation counts as failed.
    Connector retries are counted by the connector layer, not here: a
    retried page that then succeeds is not a failure.

    Returns (attempted, failed, bad, errors): bad is the set of op ids whose
    check failed, errors maps op id -> first error message.
    """
    bad = {oid for oid, c in checks.items() if not c["ok"]}
    errors = {}
    timed = [o for region in run["regions"] for o in region["ops"]]
    for r in run["warmup"] + run["check"] + timed:
        if r["error"]:
            errors.setdefault(r["id"], r["error"])
    failed = sum(1 for o in timed if o["id"] in bad or o["id"] in errors)
    return len(timed), failed, bad, errors
