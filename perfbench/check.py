"""Correctness gate: the replicated state against a DuckDB oracle over the
same committed prefix of the log.

* ``catchup_ops``: ``ORACLE_R9`` (all op codes, delta mode);
* ``tail_user``: ``ORACLE_R1`` (row LWW per user, row deletes).
"""

from __future__ import annotations

import duckdb
import pandas as pd

def oracle(workload: str, cfg: dict, cutoff: int) -> pd.DataFrame:
    from scylla_cdc_java_spark.queries import ORACLE_R1, ORACLE_R9

    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW events AS SELECT * FROM read_parquet("
            f"'{cfg['events']}') WHERE event_id <= {cutoff}"
        )
        return con.execute(ORACLE_R9 if workload == "catchup_ops" else ORACLE_R1).df()
    finally:
        con.close()


def _rows(df: pd.DataFrame, cols: list[str]) -> list[tuple]:
    out = []
    for c in cols:
        s = df[c]
        if pd.api.types.is_datetime64_any_dtype(s):
            s = pd.to_datetime(s, utc=True)
            s = s.map(lambda t: None if pd.isna(t) else int(t.value // 1000))
        out.append([None if (not isinstance(v, (str, bytes)) and pd.isna(v)) else v
                    for v in s.tolist()])
    return sorted(zip(*out), key=repr)


def compare(workload: str, cfg: dict, state: pd.DataFrame, cutoff: int) -> str | None:
    """None when the state equals the oracle, else a short description."""
    want = oracle(workload, cfg, cutoff)
    cols = list(want.columns)
    missing = [c for c in cols if c not in state.columns]
    if missing:
        return f"state lacks columns {missing}"
    got_rows, want_rows = _rows(state, cols), _rows(want, cols)
    if got_rows == want_rows:
        return None
    extra = set(got_rows) - set(want_rows)
    lost = set(want_rows) - set(got_rows)
    return (f"{len(got_rows)} rows vs oracle {len(want_rows)}: "
            f"{len(extra)} unexpected, {len(lost)} missing, e.g. "
            f"{sorted(extra, key=repr)[:2]} / {sorted(lost, key=repr)[:2]}")
