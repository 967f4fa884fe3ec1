"""DuckDB oracle check for the `curate` workload.

The run writes each entry's collected rows (parquet), the oracle SQL of the
entries that have one (`oracle.json`, from SparkEntry.oracleSql) and the
path of the corpus it ran on. Each oracle query runs in DuckDB over that
corpus; the rows must match with columns sorted by name and rows sorted,
the comparison the engine's own oracle gate uses.
"""
import glob
import json
import math
import os


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "nan" if math.isnan(v) else round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()[:26]
    if isinstance(v, bytes):
        return v.hex()
    if isinstance(v, list):
        return tuple(_norm(x) for x in v)
    return v


def _rows(names, rows):
    order = sorted(range(len(names)), key=lambda i: names[i])
    return [names[i] for i in order], sorted(
        (tuple(_norm(r[i]) for i in order) for r in rows), key=repr)


def check(out_dir):
    """Returns a list of problems; empty when every oracle matches."""
    import duckdb
    import pyarrow.parquet as pq

    with open(os.path.join(out_dir, "oracle.json")) as fh:
        oracles = json.load(fh)
    with open(os.path.join(out_dir, "documents")) as fh:
        docs = fh.read().strip()
    con = duckdb.connect()
    try:
        glob_path = os.path.join(docs, "*.parquet").replace("'", "''")
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{glob_path}')")
        problems = []
        for name, sql in sorted(oracles.items()):
            files = glob.glob(os.path.join(out_dir, name, "*.parquet"))
            if not files:
                problems.append(f"{name}: no result written")
                continue
            t = pq.read_table(files[0])
            got_cols, got = _rows(t.column_names, list(zip(*[t.column(c).to_pylist() for c in t.column_names])))
            res = con.execute(sql)
            exp_cols, exp = _rows([d[0] for d in res.description], res.fetchall())
            if got_cols != exp_cols:
                problems.append(f"{name}: columns {got_cols}, oracle {exp_cols}")
            elif got != exp:
                diff = [(a, b) for a, b in zip(got, exp) if a != b][:2]
                problems.append(f"{name}: {len(got)} rows vs oracle {len(exp)}; first diffs {diff}")
        return problems
    finally:
        con.close()
