"""Output check: each checked op's parquet output must hash-match its
DuckDB oracle SQL run over the same input tables, compared with the
canonicalization of the repository's tools/compare.py (columns sorted by
name, floats rounded to 9 places, rows sorted)."""
import glob
import os
import sys

import duckdb

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
                                "tools"))
from compare import canon  # noqa: E402


def rows(rel):
    return list(rel.columns), [str(t) for t in rel.types], rel.fetchall()


def check(source_dir, out_dir, oracle_sql):
    """name -> True when the op's output matches its oracle exactly."""
    con = duckdb.connect()
    for p in sorted(glob.glob(os.path.join(source_dir, "*.parquet"))):
        name = os.path.basename(p)[:-len(".parquet")]
        con.sql(f"CREATE VIEW {name} AS SELECT * FROM '{p}'")
    result = {}
    for name, sql in sorted(oracle_sql.items()):
        try:
            s_cols, s_types, s_rows = rows(con.sql(f"SELECT * FROM '{out_dir}/{name}/*.parquet'"))
            d_cols, d_types, d_rows = rows(con.sql(sql))
        except duckdb.Error as e:
            print(f"oracle {name}: {str(e).splitlines()[0]}", file=sys.stderr)
            result[name] = False
            continue
        result[name] = (sorted(zip(s_cols, s_types)) == sorted(zip(d_cols, d_types))
                        and len(s_rows) == len(d_rows)
                        and canon(s_rows, s_cols) == canon(d_rows, d_cols))
    con.close()
    return result
