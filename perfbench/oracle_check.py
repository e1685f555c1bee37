"""Compare Spark results with their DuckDB oracle twins, in a process
of its own so the comparison's memory stays out of the measured tree.

    python3 perfbench/oracle_check.py <events.parquet dir> <results dir> < oracles.json

``oracles.json`` maps query id -> oracle SQL over a view ``events``;
``<results dir>/<qid>.parquet`` holds the Spark result.  Rows are
compared as multisets after normalising each cell the way the
repository's tests do (floats to 9 places, NaN as a token); prints the
JSON list of query ids that disagree.
"""

from __future__ import annotations

import json
import math
import sys
from datetime import datetime, timezone

import duckdb
import pyarrow.parquet as pq


def _norm_cell(v):
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, 9)
    if isinstance(v, datetime) and v.tzinfo is not None:
        return v.astimezone(timezone.utc).replace(tzinfo=None)
    return v


def _canon(table, order: list[str]) -> list[tuple]:
    """A pyarrow table as a sorted list of normalised row tuples."""
    cols = [table.column(c).to_pylist() for c in order]
    return sorted((tuple(_norm_cell(v) for v in row) for row in zip(*cols)), key=repr)


def main(data_dir: str, results_dir: str, oracles: dict[str, str]) -> list[str]:
    con = duckdb.connect()
    con.execute(f"CREATE VIEW events AS SELECT * FROM '{data_dir}/events.parquet'")
    bad = []
    for qid, sql in oracles.items():
        got = pq.read_table(f"{results_dir}/{qid}.parquet")
        expected = con.sql(sql).arrow()
        order = sorted(got.column_names)
        if sorted(expected.column_names) != order or _canon(got, order) != _canon(expected, order):
            bad.append(qid)
    con.close()
    return bad


if __name__ == "__main__":
    print(json.dumps(main(sys.argv[1], sys.argv[2], json.load(sys.stdin))))
