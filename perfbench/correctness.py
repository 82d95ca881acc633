"""Correctness gate: engine results against their DuckDB oracles.

Batch queries compare column names, row count and the order-insensitive
value hash of `scripts/verify_local.table_hash`. The stream replay checks
every micro-batch's top-k serving snapshot against the `streaming_trending`
oracle formulas evaluated over the events of the files consumed so far.
A check returns an error string, or None when the result is right.
"""

from __future__ import annotations

import glob
import os
import sys

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq


def _table_hash():
    # verify_local extends sys.path on import; keep the path as it was
    saved = list(sys.path)
    try:
        from scripts.verify_local import table_hash
    finally:
        sys.path[:] = saved
    return table_hash


class Oracle:
    """DuckDB over one generated dataset directory."""

    def __init__(self, sf_dir: str, tables) -> None:
        self.sf_dir = sf_dir
        self.con = duckdb.connect()
        for t in tables:
            path = os.path.join(sf_dir, f"{t}.parquet")
            if os.path.exists(path):
                self.con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
        self.table_hash = _table_hash()

    def close(self) -> None:
        self.con.close()

    def check_query(self, query, cols: list[str], rows: list[tuple]) -> str | None:
        sql = query.oracle_for(self.sf_dir)
        if sql is None:
            return f"{query.name}: no oracle"
        res = self.con.execute(sql)
        ocols = [d[0] for d in res.description]
        orows = res.fetchall()
        if sorted(cols) != sorted(ocols):
            return f"{query.name}: columns {sorted(cols)} != oracle {sorted(ocols)}"
        if len(rows) != len(orows):
            return f"{query.name}: {len(rows)} rows != oracle {len(orows)}"
        if self.table_hash(cols, rows) != self.table_hash(ocols, orows):
            return f"{query.name}: value hash differs from oracle"
        return None


#: streaming_trending's oracle formulas, evaluated per consumed file prefix:
#: after file f, a (window, key) pair updated by f carries the aggregate of
#: every event of files <= f, and the sink keeps the top k of those rows by
#: (trending_score desc, window_start, key).
_REPLAY_ORACLE = """
WITH ev AS (
  SELECT ts, user_id, value::DOUBLE AS value,
         (SELECT COUNT(*) FROM cuts WHERE cuts.c <= e.rn) AS f
  FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY event_id) - 1 AS rn FROM events) e
),
part AS (
  SELECT (epoch_us(ts) // 300000000) * 300000000 AS ws_us, user_id AS key, f,
         COUNT(*) AS n, SUM(value) AS s
  FROM ev GROUP BY 1, 2, 3
),
cum AS (
  SELECT ws_us, key, f,
         SUM(n) OVER w AS n_events, SUM(s) OVER w AS eng
  FROM part WINDOW w AS (PARTITION BY ws_us, key ORDER BY f)
),
scored AS (
  SELECT f, ws_us, key, CAST(n_events AS BIGINT) AS n_events,
         ROUND(eng, 2) AS engagement,
         ROUND((eng / 5.0) * (1 + 0.1 * ln(1 + n_events)), 6) AS velocity,
         ROUND(100.0 / (1 + exp(-0.8 * (
           0.5 * ((eng / 5.0) * (1 + 0.1 * ln(1 + n_events)) / 100.0)
           + 0.3 * (n_events / 10.0) + 0.2 - 2.0))), 6) AS trending_score
  FROM cum
)
SELECT f, ws_us, key, n_events, engagement, velocity, trending_score
FROM (
  SELECT *, ROW_NUMBER() OVER (
    PARTITION BY f ORDER BY trending_score DESC, ws_us, key) AS rn
  FROM scored
) WHERE rn <= {k}
"""


def check_replay(
    events_path: str,
    cuts: list[int],
    snapshot_dir: str,
    epoch_file: dict[int, int],
    k: int,
) -> list[str]:
    """Compare each epoch's snapshot (`snapshot_dir/epoch=N`) with the
    oracle top-k after the file that epoch consumed (`epoch_file`; epochs
    without input must leave an empty snapshot). `cuts` are the row
    offsets where files 1.. start. Returns one error per bad epoch."""
    con = duckdb.connect()
    try:
        con.execute(f"CREATE VIEW events AS SELECT * FROM '{events_path}'")
        con.execute("CREATE TABLE cuts (c BIGINT)")
        con.executemany("INSERT INTO cuts VALUES (?)", [(c,) for c in cuts])
        rows = con.execute(_REPLAY_ORACLE.format(k=k)).fetchall()
    finally:
        con.close()
    expect: dict[int, set] = {}
    for f, *vals in rows:
        expect.setdefault(f, set()).add(tuple(vals))
    table_hash = _table_hash()
    cols = ["ws_us", "key", "n_events", "engagement", "velocity", "trending_score"]
    errors = []
    seen = set()
    for path in sorted(glob.glob(os.path.join(snapshot_dir, "epoch=*"))):
        epoch = int(path.rsplit("=", 1)[1])
        seen.add(epoch)
        t = pq.read_table(path)
        ws = t.column("window_start")
        per_us = {"s": 10**-6, "ms": 10**-3, "us": 1, "ns": 1000}[ws.type.unit]
        got = list(
            zip(
                [int(v // per_us) for v in ws.cast(pa.int64()).to_pylist()],
                *(t.column(c).to_pylist() for c in cols[1:]),
            )
        )
        want = expect.get(epoch_file[epoch], set()) if epoch in epoch_file else set()
        if table_hash(cols, got) != table_hash(cols, list(want)):
            errors.append(f"epoch {epoch}: top-{k} snapshot differs from oracle")
    missing = set(epoch_file) - seen
    if missing:
        errors.append(f"epochs without a snapshot: {sorted(missing)[:5]}")
    return errors
