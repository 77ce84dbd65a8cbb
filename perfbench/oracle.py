"""Check the text workload's calls against the DuckDB replay of their
driver-contract oracle queries.

    python3 perfbench/oracle.py <documents.parquet> <verified.json>

Every call's rows must equal the oracle's. When they do, the Spark digest
of every call's output is written to ``<verified.json>``, and the text
workload checks each op against those digests; otherwise the exit code is
not 0. It runs in a process of its own, so that the compared frames never
count in the benchmark driver's peak RSS.
"""

from __future__ import annotations

import json
import os
import sys

import run


def main(path: str, verified: str) -> int:
    run.prepare_env()
    sys.path.insert(0, run.ROOT)
    import duckdb

    import __spark_entry__ as contract
    import workloads as W
    from scripts.check_contract import normalize, values_match

    oracles = contract.oracle_sql()
    spark = run.start_session(False)
    con = duckdb.connect()
    try:
        frames = W.text_frames(spark.read.parquet(path))
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{path}')")
        for name, query in W.TEXT_CALLS:
            got = normalize(frames[name]().toPandas())
            want = normalize(con.sql(oracles[query]).df())
            if list(got.columns) != list(want.columns) or not values_match(got, want):
                print(f"perfbench: {name}: Spark rows differ from the DuckDB oracle", file=sys.stderr)
                return 1
        digests = {name: list(W.spark_digest(frames[name]())) for name, _ in W.TEXT_CALLS}
    finally:
        con.close()
        run.stop_session(spark)
    os.makedirs(os.path.dirname(verified), exist_ok=True)
    with open(verified + ".tmp", "w") as fh:
        json.dump(digests, fh)
    os.replace(verified + ".tmp", verified)
    return 0


if __name__ == "__main__":
    sys.exit(main(*sys.argv[1:]))
