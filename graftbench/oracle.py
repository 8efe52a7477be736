"""DuckDB oracle check of the query_mix results, by the rule of the repo's
tools/check.py: the oracle SQL runs over the same parquet tables, and a
result passes when its row count, its column names and its sorted rows
(floats rounded to 9 places, times as ISO strings) all match."""
import glob
import json
import os


def _norm(v):
    if isinstance(v, float):
        return round(v, 9)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    return v


def _rows(table):
    cols = sorted(table.column_names)
    data = [table.column(c).to_pylist() for c in cols]
    return cols, sorted(repr(tuple(_norm(x) for x in row)) for row in zip(*data)) if data else []


def check(data_dir, out_dir):
    """Return {query: "" if it matches the oracle, else why not}."""
    import duckdb
    import pyarrow.parquet as pq
    con = duckdb.connect()
    con.execute("SET threads=2")
    con.execute("SET TimeZone='UTC'")
    for p in sorted(glob.glob(os.path.join(data_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{p}')")
    with open(os.path.join(out_dir, "oracle_sql.json")) as f:
        sql = json.load(f)
    verdicts = {}
    for q in sorted(sql):
        if not os.path.isdir(os.path.join(out_dir, q)):
            verdicts[q] = "no result"
            continue
        dc, dr = _rows(con.execute(sql[q]).fetch_arrow_table())
        sc, sr = _rows(pq.read_table(os.path.join(out_dir, q)))
        if dc != sc:
            verdicts[q] = f"columns {sc}, oracle {dc}"
        elif dr != sr:
            verdicts[q] = f"{len(sr)} rows, oracle {len(dr)}; rows differ"
        else:
            verdicts[q] = ""
    con.close()
    return verdicts
