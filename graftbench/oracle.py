"""DuckDB oracle compare for the benchmark's correctness pass.

Mirrors the canonical sort-and-compare of ``scripts/drive_driver.py``
(that script starts a session at import, so it cannot be imported):
same column set, same row count, and equal values after every cell is
rendered canonically (floats via ``repr``, integral floats as ``:.1f``,
None/NaN as ``∅``) and the rows are sorted on every column.
"""

from __future__ import annotations

import math

import duckdb
import pandas as pd

VIEWS = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def canon(v) -> str:
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return "∅"
    if isinstance(v, float):
        if math.isinf(v):
            return repr(v)
        return f"{v:.1f}" if v == int(v) and abs(v) < 1e15 else repr(v)
    return str(v)


def mismatch(got: pd.DataFrame, want: pd.DataFrame) -> str | None:
    """None when the frames are canonically equal, else what differs."""
    if sorted(got.columns) != sorted(want.columns):
        return f"columns {sorted(got.columns)} != {sorted(want.columns)}"
    if len(got) != len(want):
        return f"rows {len(got)} != {len(want)}"
    cols = sorted(got.columns)
    a = got[cols].map(canon).sort_values(by=cols, kind="mergesort")
    b = want[cols].map(canon).sort_values(by=cols, kind="mergesort")
    if a.values.tolist() != b.values.tolist():
        return "values differ"
    return None


class Oracle:
    """DuckDB views over one corpus directory."""

    def __init__(self, corpus_dir: str):
        self.con = duckdb.connect()
        for t in VIEWS:
            self.con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{corpus_dir}/{t}.parquet')"
            )

    def expected(self, sql: str) -> pd.DataFrame:
        return self.con.execute(sql).fetchdf()

    def close(self) -> None:
        self.con.close()


def self_check() -> None:
    """The compare must accept a reordered equal frame and reject a wrong
    value, a dropped row and a renamed column."""
    want = pd.DataFrame({"k": [1, 2, 3], "v": [0.5, 2.0, None]})
    if mismatch(want.iloc[::-1].reset_index(drop=True), want) is not None:
        raise RuntimeError("oracle compare rejects a reordered equal frame")
    wrong = {
        "value": want.assign(v=[0.5, 2.0000001, None]),
        "row": want.iloc[:2],
        "column": want.rename(columns={"v": "w"}),
    }
    for what, frame in wrong.items():
        if mismatch(frame, want) is None:
            raise RuntimeError(f"oracle compare accepts a frame with a wrong {what}")
