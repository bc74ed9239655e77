"""Oracle row counts and result hashes for every catalogue query.

Each query's DuckDB oracle (`SparkEntry.oracleSql`) runs over the
generated tables; the benchmark keeps its row count (checked on every
timed `count()`) and a hash of its full result (checked on a sample of
results in traced runs). Both are cached in `oracle_cache.tsv`, keyed by
the hash of the oracle SQL and a fingerprint of the input data, so only
queries whose oracle or data changed are re-run.

The hash follows tools/check.py's comparison rules: columns sorted by
name, rows sorted, values compared exactly with integral floats equal
to integers and timestamps compared as UTC wall-clock values.
"""
import datetime
import decimal
import hashlib
import json
import math
import os

import duckdb

from gendata import TABLES


def sha(text):
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def canon(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, (int, float, decimal.Decimal)):
        f = float(v)
        if math.isnan(f):
            return "nan"
        if isinstance(v, int) or (f.is_integer() and abs(f) < 2 ** 53):
            return int(f)
        return repr(f)
    if isinstance(v, datetime.datetime):
        if v.tzinfo is not None:
            v = v.astimezone(datetime.timezone.utc).replace(tzinfo=None)
        return v.isoformat()
    if isinstance(v, (datetime.date, datetime.time)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray, memoryview)):
        return bytes(v).hex()
    if isinstance(v, dict):
        return {str(k): canon(x) for k, x in sorted(v.items(), key=lambda kv: str(kv[0]))}
    if isinstance(v, (list, tuple)):
        return [canon(x) for x in v]
    return str(v)


def result_hash(table):
    """(rows, hash) of a pyarrow table under check.py's rules."""
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    rows = sorted(json.dumps([canon(col[i]) for col in data])
                  for i in range(table.num_rows))
    h = hashlib.sha256(json.dumps(cols).encode())
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return table.num_rows, h.hexdigest()[:24]


def connect(data_dir):
    con = duckdb.connect()
    con.execute("SET threads=4")
    for t in TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                    f"read_parquet('{data_dir}/{t}.parquet')")
    return con


def load_cache(path):
    cache = {}
    if os.path.exists(path):
        for line in open(path):
            parts = line.rstrip("\n").split("\t")
            if len(parts) == 5 and not line.startswith("#"):
                name, fp, qsha, rows, h = parts
                cache[name] = (fp, qsha, int(rows), h)
    return cache


def expected(oracles, data_dir, fingerprint, cache_paths, out_path, log):
    """{query: (rows, hash)}; recomputes entries missing from the caches
    and writes the merged table to out_path."""
    cache = {}
    for p in cache_paths:
        cache.update(load_cache(p))
    result, con = {}, None
    for name in sorted(oracles):
        qsha = sha(oracles[name])
        hit = cache.get(name)
        if hit and hit[0] == fingerprint and hit[1] == qsha:
            result[name] = (hit[2], hit[3])
            continue
        if con is None:
            log(f"computing oracle results over {data_dir}")
            con = connect(data_dir)
        result[name] = result_hash(con.execute(oracles[name]).fetch_arrow_table())
    tmp = out_path + ".tmp"
    with open(tmp, "w") as f:
        f.write("# query\tdata fingerprint\toracle sql hash\trows\tresult hash\n")
        for name in sorted(result):
            rows, h = result[name]
            f.write(f"{name}\t{fingerprint}\t{sha(oracles[name])}\t{rows}\t{h}\n")
    os.replace(tmp, out_path)
    return result


def check_results(results_dir, names, expected_by_name):
    """Compare the JVM's parquet results with the oracle hashes; returns
    {query: None if equal else a reason}."""
    con = duckdb.connect()
    verdicts = {}
    for name in names:
        path = os.path.join(results_dir, name)
        if not os.path.isdir(path):
            verdicts[name] = "no result written"
            continue
        got = con.execute(
            f"SELECT * FROM read_parquet('{path}/*.parquet')").fetch_arrow_table()
        rows, h = result_hash(got)
        want_rows, want_h = expected_by_name[name]
        verdicts[name] = None if h == want_h else \
            f"result hash differs ({rows} rows, oracle {want_rows})"
    return verdicts
