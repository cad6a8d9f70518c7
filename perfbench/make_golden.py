"""Write ``golden.json``: one digest per ``query_mix`` query, computed from
its DuckDB oracle twin over the benchmark's own generated inputs.

Oracle runs take up to tens of seconds each, so they never run inside a
benchmark run. Rerun this after changing the data generator, the query
list or the oracle canonicalization:

    python3 perfbench/make_golden.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))
sys.path.insert(0, HERE)

import datagen  # noqa: E402
from checks import digest  # noqa: E402
from querymix import GOLDEN, QUERIES, SF  # noqa: E402


def main() -> None:
    from ser_etl_spark.registry import all_queries
    from tests.oracle import duckdb_connection, duckdb_result

    registry = all_queries()
    sf_dir = datagen.ensure_dataset(os.path.join(os.path.dirname(HERE), ".perfbench", "data"), SF)
    con = duckdb_connection(sf_dir)
    digests, rows = {}, {}
    for name in QUERIES:
        cols, result = duckdb_result(con, registry[name].oracle)
        digests[name] = digest(cols, result)
        rows[name] = len(result)
        print(f"{name}: {len(result)} rows", flush=True)
    with open(GOLDEN, "w") as fh:
        json.dump(
            {"sf": SF, "data_seed": datagen.DATA_SEED, "digests": digests, "rows": rows},
            fh,
            indent=1,
            sort_keys=True,
        )
        fh.write("\n")


if __name__ == "__main__":
    main()
