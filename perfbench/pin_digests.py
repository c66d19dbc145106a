"""Derive ``digests.json``: one output digest per registry query the
workloads call, from that query's DuckDB oracle over the committed
fixture tables in ``data/``. Run it once when the inputs or the workloads change; the
benchmark never recomputes them (some oracles take tens of seconds).

    python3 perfbench/pin_digests.py
"""

from __future__ import annotations

import json
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import duckdb  # noqa: E402

from digest import duckdb_digest  # noqa: E402
from inputs import DATA_DIR, TABLES  # noqa: E402
from workloads import registry_calls  # noqa: E402

from demy_spark import queries  # noqa: E402


def main() -> None:
    os.environ["TZ"] = "UTC"
    con = duckdb.connect()
    con.execute("SET threads = 4")
    for name in TABLES:
        path = os.path.join(DATA_DIR, f"{name}.parquet")
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM read_parquet('{path}')")
    pinned = {}
    for name in registry_calls():
        pinned[name] = duckdb_digest(con, queries.REGISTRY[name].oracle)
        print(name, pinned[name], flush=True)
    with open(os.path.join(HERE, "digests.json"), "w", encoding="utf-8") as fh:
        json.dump(pinned, fh, indent=1, sort_keys=True)
        fh.write("\n")


if __name__ == "__main__":
    main()
