"""Oracle check of the operator-layer rows, in DuckDB.

Each row's full result was written to `<out>/<row>/` as parquet. It must
match the row's declared oracle (`oracle_sql.json`, the same DuckDB SQL
the engine's correctness gate uses) exactly: columns by name, rows as a
multiset.
"""

import json
import os

import duckdb


def _canon(rel):
    cols = list(rel.columns)
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    rows = [tuple(r[i] for i in order) for r in rel.fetchall()]
    rows.sort(key=lambda t: tuple((x is None, str(x)) for x in t))
    return [tuple(cols[i] for i in order)] + rows


def check(out_dir, data_dir, tables, rows, break_oracle=False):
    """Returns one (row, error or None) per row. `break_oracle` drops one
    expected row of every oracle, so a correct result must fail."""
    con = duckdb.connect()
    for t in tables:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{data_dir}/{t}.parquet'")
    with open(os.path.join(out_dir, "oracle_sql.json")) as fh:
        oracle = json.load(fh)
    results = []
    for q in rows:
        try:
            got = _canon(con.sql(f"SELECT * FROM '{out_dir}/{q}/*.parquet'"))
            want = _canon(con.sql(oracle[q]))
            if break_oracle:
                want = want[:-1]
            err = None if got == want else (
                f"{len(got) - 1} rows differ from the oracle's {len(want) - 1}")
        except Exception as e:  # a failed check is a failed operation
            err = f"check raised {e}"
        results.append((q, err))
    return results
