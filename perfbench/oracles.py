"""Answer the catalog's DuckDB oracle twins in a child process.

    python3 -m perfbench.oracles <request.json> <answers.pickle>

The request names the fixture directory and maps query names to SQL.  The
answers map each name to ``(rows, columns)`` or to an error string.  A
separate process keeps DuckDB's memory out of the driver's resident set,
which the benchmark reports.
"""

from __future__ import annotations

import json
import os
import pickle
import sys


def main(request_path: str, answers_path: str) -> int:
    import duckdb

    with open(request_path) as fh:
        req = json.load(fh)
    con = duckdb.connect()
    answers = {}
    try:
        for t in req["tables"]:
            path = os.path.join(req["data"], f"{t}.parquet")
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        for q, sql in req["queries"].items():
            try:
                rel = con.sql(sql)
                answers[q] = (rel.fetchall(), list(rel.columns))
            except Exception as exc:  # noqa: BLE001 - reported as the query's failure
                answers[q] = f"{type(exc).__name__}: {exc}"
    finally:
        con.close()
    with open(answers_path, "wb") as fh:
        pickle.dump(answers, fh)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:3]))
