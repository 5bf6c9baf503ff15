"""Write the lake tables and compute their DuckDB oracle answers in a
helper process.

    python3 perfbench/lake_prep.py OUT_DIR SEED SF KEY [KEY ...]

``lake_query`` starts this before the Spark session, so the table
generation and the oracle overlap the session start and the capture,
and their memory stays out of the measured process tree. The answers
land in ``OUT_DIR/oracle.json`` as ``{key: [rows, hash]}``; the file
appears (by rename) only once every key is answered.
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import gen  # noqa: E402
from workloads import LAKE_TABLES, canon_hash  # noqa: E402


def main(argv: list[str]) -> int:
    out, seed, sf, keys = argv[1], int(argv[2]), float(argv[3]), argv[4:]
    gen.write_lake(out, seed, sf)
    import duckdb
    from twitter_to_sqlite_spark.plans import catalog

    con = duckdb.connect(config={"threads": 1})
    answers = {}
    try:
        for t in LAKE_TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                        f"'{os.path.join(out, t + '.parquet')}'")
        for key in keys:
            res = con.execute(catalog.ORACLE_SQL[key])
            answers[key] = canon_hash(res.fetchall(), [d[0] for d in res.description])
    finally:
        con.close()
    tmp = os.path.join(out, "oracle.json.tmp")
    with open(tmp, "w") as f:
        json.dump(answers, f)
    os.rename(tmp, os.path.join(out, "oracle.json"))
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
