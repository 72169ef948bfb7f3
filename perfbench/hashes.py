#!/usr/bin/env python3
"""Result hashes for batch_mix, in graft's DuckDB-compare canonical form:
columns sorted by name, every value canonicalised (doubles bit-exact), rows
sorted, then SHA-256.

  python3 perfbench/hashes.py <run dir> <data dir>

re-creates perfbench/expected_hashes.json from a batch_mix run's results
(<run dir>/results/<query>/*.parquet) after checking each one against the
DuckDB oracle SQL the run wrote (<run dir>/oracle_sql.json). A query whose
result differs from the oracle is reported and left out.
"""
import hashlib
import json
import math
import os
import struct
import sys

TABLES = ["region", "nation", "customer", "supplier", "part", "orders",
          "lineitem", "events", "documents", "embeddings"]
EXPECTED = os.path.join(os.path.dirname(os.path.abspath(__file__)), "expected_hashes.json")


def canon(v):
    if v is None:
        return "\x00NULL"
    if isinstance(v, float):
        return "\x00NAN" if math.isnan(v) else "f:" + struct.pack(">d", v).hex()
    if isinstance(v, bool):
        return f"b:{v}"
    if isinstance(v, int):
        return f"i:{v}"
    if isinstance(v, bytes):
        return "x:" + v.hex()
    if isinstance(v, list):
        return "[" + ",".join(canon(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}={canon(x)}" for k, x in sorted(v.items())) + "}"
    return f"{type(v).__name__}:{v}"


def digest(con, sql):
    """(rows, sha256) of a query result in canonical form, with column types."""
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    rows = cur.fetchall()
    types = [r[1] for r in con.execute(f"DESCRIBE {sql}").fetchall()]
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    canon_rows = sorted(tuple(canon(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update(repr([(cols[i], types[i]) for i in order]).encode())
    for r in canon_rows:
        h.update(repr(r).encode())
    return len(rows), h.hexdigest()


def result_digest(con, run_dir, name):
    return digest(con, f"SELECT * FROM read_parquet('{run_dir}/results/{name}/*.parquet')")


def check(run_dir, names):
    """Compare each query's result with the stored hash: {name: ok}."""
    import duckdb
    expected = json.load(open(EXPECTED))
    con = duckdb.connect()
    out = {}
    for n in names:
        try:
            rows, h = result_digest(con, run_dir, n)
            out[n] = expected.get(n) == {"rows": rows, "sha256": h}
        except Exception as e:  # a missing or unreadable result is a mismatch
            print(f"[hashes] {n}: {e}", file=sys.stderr)
            out[n] = False
    return out


def main():
    import duckdb
    run_dir, data_dir = sys.argv[1], sys.argv[2]
    oracle = json.load(open(os.path.join(run_dir, "oracle_sql.json")))
    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(data_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    out, bad = {}, []
    for name in sorted(oracle):
        got = result_digest(con, run_dir, name)
        want = digest(con, oracle[name])
        if got == want:
            out[name] = {"rows": got[0], "sha256": got[1]}
        else:
            bad.append(name)
        print(f"{name}: {'MATCH' if got == want else 'MISMATCH'} rows={got[0]}/{want[0]}")
    with open(EXPECTED, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
