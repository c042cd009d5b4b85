"""Correctness gates: each workload's outputs against what its inputs imply.

replay_backlog: every publish wrote the whole backlog, and every read-back
(one per dirty-data strategy, tag and born_ts window) has the generator's
row count and sums.

curate_corpus: every curate key's output must equal what its `SparkEntry.oracleSql` query
gives in DuckDB. Replaying the oracle takes minutes per seed, so the oracle
runs once on the committed corpus (`data/`) and its per-key digests are kept
in `data/oracle_digest.json`. A seeded corpus differs from `data/` only by
a shift of `doc_id`/`vec_id` that keeps every id residue the operators use
(see gen.REMAP_UNIT) and by row order, so a run's output, with its id
columns shifted back, must give the same digest.
`tests/test_check.py` replays the oracle on a seeded corpus to show that
this holds.

    python3 perfbench/check.py refresh <oracle_sql.json>   # rewrite the digests
"""
import collections
import decimal
import glob
import hashlib
import json
import math
import os
import sys

BENCH = os.path.dirname(os.path.abspath(__file__))
DIGESTS = os.path.join(BENCH, "data", "oracle_digest.json")
# Output columns that carry a document or vector id.
ID_COLUMNS = {"doc_id", "vec_id", "query_id", "neighbor_id", "doc_a", "doc_b",
              "vec_a", "vec_b", "cluster_id"}


def cell(v):
    if v is None:
        return "NULL"
    if isinstance(v, bool):
        return "true" if v else "false"
    if isinstance(v, decimal.Decimal):
        v = float(v)
    if isinstance(v, float):
        return "nan" if math.isnan(v) else repr(v)
    if isinstance(v, (list, tuple)):
        return "[" + ",".join(cell(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join("%s:%s" % (k, cell(x)) for k, x in sorted(v.items())) + "}"
    return str(v)


def digest(columns, rows):
    """sha256 over the rows as text, columns by name and rows sorted."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted("\x1f".join(cell(r[i]) for i in order) for r in rows)
    h = hashlib.sha256()
    h.update("\x1f".join(columns[i] for i in order).encode())
    for line in lines:
        h.update(b"\n")
        h.update(line.encode())
    return {"rows": len(lines), "sha256": h.hexdigest()}


def unshift(columns, rows, shift):
    """Maps the id columns of rows back to the committed corpus's ids."""
    idx = [i for i, c in enumerate(columns) if c in ID_COLUMNS]
    out = []
    for r in rows:
        r = list(r)
        for i in idx:
            if r[i] is not None:
                r[i] -= shift
        out.append(r)
    return out


def read_parquet(con, path):
    rel = con.sql("SELECT * FROM read_parquet('%s')" % os.path.join(path, "*.parquet"))
    return rel.columns, rel.fetchall()


def oracle_rows(con, sql):
    rel = con.sql(sql)
    return rel.columns, rel.fetchall()


def connect(data_dir):
    import duckdb
    con = duckdb.connect()
    con.execute("SET threads TO %d" % min(os.cpu_count() or 4, 4))
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        t = os.path.basename(p)[:-len(".parquet")]
        con.execute("CREATE VIEW %s AS SELECT * FROM read_parquet('%s')" % (t, p))
    return con


def replay(out_dir, manifest):
    """(operations checked, failures) from the replay's per-operation results."""
    with open(os.path.join(out_dir, "replay.json")) as f:
        results = json.load(f)
    want = {"publish": [manifest["messages"]]}
    for lc, v in manifest["expect"].items():
        want["parse " + lc] = v
    for t, v in manifest["tags"].items():
        want["tag " + t] = v
    for i, (_, _, n, s) in enumerate(manifest["ranges"]):
        want["range %d" % i] = [n, s]
    bad = ["cycle %d %s: got %s, want %s" % (r["cycle"], r["op"], r["got"], want.get(r["op"]))
           for r in results if r["got"] != want.get(r["op"])]
    per_cycle = collections.Counter(r["cycle"] for r in results)
    if not per_cycle or any(n != len(want) for n in per_cycle.values()):
        bad.append("cycles ran %s operations, not %d each" % (sorted(per_cycle.values()), len(want)))
    return len(results), bad


def oracle():
    """{key: {"rows", "sha256", "sql"}} as last refreshed."""
    with open(DIGESTS) as f:
        return json.load(f)


def curate(out_dir, manifest, keys=None):
    """(outputs checked, failures) for one run's curate outputs: the keys
    the run wrote `oracle_sql.json` for, unless `keys` names them."""
    import duckdb
    if keys is None:
        with open(os.path.join(out_dir, "oracle_sql.json")) as f:
            keys = list(json.load(f))
    known = oracle()
    bad = ["%s: no committed oracle digest" % k for k in keys if k not in known]
    want = {k: v for k, v in known.items() if k in keys}
    shift = manifest["remap"]["shift"]
    con = duckdb.connect()
    for key, w in sorted(want.items()):
        w = {"rows": w["rows"], "sha256": w["sha256"]}
        path = os.path.join(out_dir, key)
        if not os.path.isdir(path):
            bad.append("%s: no output" % key)
            continue
        cols, rows = read_parquet(con, path)
        got = digest(cols, unshift(cols, rows, shift))
        if got != w:
            bad.append("%s: output %s != oracle %s" % (key, got, w))
    return len(keys), bad


def refresh(oracle_sql_file):
    with open(oracle_sql_file) as f:
        sqls = json.load(f)
    con = connect(os.path.join(BENCH, "data"))
    out = {}
    for key, sql in sorted(sqls.items()):
        out[key] = dict(digest(*oracle_rows(con, sql)), sql=sql)
        print(key, out[key]["rows"], out[key]["sha256"], flush=True)
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")


if __name__ == "__main__":
    if len(sys.argv) == 3 and sys.argv[1] == "refresh":
        refresh(sys.argv[2])
    else:
        sys.exit(__doc__)
