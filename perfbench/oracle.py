"""Compare a key's Spark output with its DuckDB oracle SQL.

The comparison follows graft's own oracle check: both sides are read as
row lists, columns are put in name order, rows are sorted, and cells
compare equal when they are equal, equal as strings, or floats within a
relative 1e-12.
"""

import math
import os

import duckdb

TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()


def _canon(rows, cols):
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(r[i] for i in order) for r in rows]
    return (sorted(out, key=lambda t: tuple((x is None, str(x)) for x in t)),
            [cols[i] for i in order])


def _eq(a, b):
    if a is None or b is None:
        return a is None and b is None
    if isinstance(a, float) or isinstance(b, float):
        try:
            fa, fb = float(a), float(b)
        except (TypeError, ValueError):
            return str(a) == str(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb or abs(fa - fb) <= 1e-12 * max(1.0, abs(fa), abs(fb))
    return a == b or str(a) == str(b)


def _rows(con, sql):
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return cur.fetchall(), cols


def compare(data_dir, entries):
    """entries: [{"key", "path", "sql"}]. Returns [(key, ok, info)]."""
    con = duckdb.connect()
    con.execute("SET TimeZone='UTC'")
    con.execute("SET threads=4")
    for t in TABLES:
        if os.path.exists(f"{data_dir}/{t}.parquet"):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"read_parquet('{data_dir}/{t}.parquet')")
    out = []
    for e in entries:
        try:
            orows, ocols = _canon(*_rows(con, e["sql"]))
            srows, scols = _canon(*_rows(
                con, f"SELECT * FROM read_parquet('{e['path']}/*.parquet')"))
        except Exception as ex:  # an oracle that cannot run is a failed check
            out.append((e["key"], False, f"error: {ex}"))
            continue
        if ocols != scols:
            out.append((e["key"], False, f"columns {scols} vs oracle {ocols}"))
        elif len(orows) != len(srows):
            out.append((e["key"], False, f"rows {len(srows)} vs oracle {len(orows)}"))
        else:
            bad = [(s, o) for s, o in zip(srows, orows)
                   if not all(_eq(a, b) for a, b in zip(s, o))]
            out.append((e["key"], not bad,
                        f"{len(bad)} rows differ; first {bad[0]}" if bad
                        else f"{len(srows)} rows"))
    con.close()
    return out
