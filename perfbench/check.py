"""Result checks against DuckDB, run once per benchmark run and untimed.

Batch queries are checked against the program's own oracle SQL
(`SparkEntry.oracleSql`), stream-replay against SQL written here from the
stream's stated semantics. Results compare as in `tools/check.py`:
columns sorted by name, rows sorted, values exact, and an int column never
equal to a float one.
"""
import glob
import os

import duckdb
import pandas as pd


def compare(got, exp):
    """None when the frames hold the same rows, else what differs."""
    got = got.reindex(sorted(got.columns), axis=1)
    exp = exp.reindex(sorted(exp.columns), axis=1)
    if list(got.columns) != list(exp.columns):
        return f"columns {list(got.columns)} vs {list(exp.columns)}"
    if len(got) != len(exp):
        return f"rows {len(got)} vs {len(exp)}"
    g = got.sort_values(by=list(got.columns)).reset_index(drop=True)
    e = exp.sort_values(by=list(exp.columns)).reset_index(drop=True)
    for c in g.columns:
        gv, ev = g[c], e[c]
        gk, ek = gv.dtype.kind, ev.dtype.kind
        if gk != ek and "f" in (gk, ek) and {gk, ek} & {"i", "u"}:
            return f"col {c}: dtype {gv.dtype} vs {ev.dtype}"
        if gk == "f" or ek == "f":
            bad = ~((gv.isna() & ev.isna()) | (gv == ev))
        else:
            bad = ~((gv.isna() & ev.isna()) | (gv.astype(object) == ev.astype(object)))
        if bad.any():
            i = bad.idxmax()
            return f"col {c} row {i}: got={gv[i]!r} exp={ev[i]!r} ({int(bad.sum())} diffs)"
    return None


def _read(path):
    return pd.read_parquet(path) if os.path.isdir(path) else None


def batch(data_dir, results_dir, oracle, names):
    """{query: error or None} for each query name."""
    con = duckdb.connect()
    for p in glob.glob(os.path.join(data_dir, "*.parquet")):
        con.execute(f"CREATE VIEW {os.path.basename(p)[:-8]} AS "
                    f"SELECT * FROM read_parquet('{p}/**/*.parquet')"
                    if os.path.isdir(p) else
                    f"CREATE VIEW {os.path.basename(p)[:-8]} AS SELECT * FROM read_parquet('{p}')")
    out = {}
    for n in names:
        got = _read(os.path.join(results_dir, n))
        if got is None:
            out[n] = "no result"
        elif n not in oracle:
            out[n] = "no oracle SQL"
        else:
            try:
                out[n] = compare(got, con.execute(oracle[n]).df())
            except duckdb.Error as e:
                out[n] = f"oracle error: {e}"[:300]
    return out


def stream_sql(backlog, delay_s, within_s):
    """Expected stream-replay outputs, from the backlog files themselves.

    Micro-batch b reads backlog file b. `tumble` emits, in append mode, the
    1-hour windows per event type that the final watermark (max event time
    minus the delay) has closed. `funnel` replays each user's click and
    purchase events in processing order (batch, then time, clicks first):
    a click becomes the pending one; a purchase at most `within_s` after
    the pending click, and not before it, pairs with it and consumes it.
    Arrival jitter stays under the delay, so no event is late and no
    evicted click could still have paired."""
    src = f"read_parquet('{backlog}/*.parquet', filename = true)"
    tumble = f"""
      WITH ev AS (SELECT * FROM {src}),
      w AS (SELECT TIME_BUCKET(INTERVAL 1 HOUR, ts) AS window_start, event_type,
                   COUNT(*) AS n, CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT) AS sum_cents
            FROM ev GROUP BY 1, 2)
      SELECT event_type, n, sum_cents, window_start, window_start + INTERVAL 1 HOUR AS window_end
      FROM w
      WHERE window_start + INTERVAL 1 HOUR
            <= (SELECT MAX(ts) FROM ev) - INTERVAL {delay_s} SECOND"""
    funnel = f"""
      WITH ev AS (
        SELECT user_id AS k, ts, CASE WHEN event_type = 'click' THEN 0 ELSE 1 END AS p,
               CAST(REGEXP_EXTRACT(filename, 'batch-(\\d+)', 1) AS INT) AS b
        FROM {src} WHERE event_type IN ('click', 'purchase')),
      o AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY k ORDER BY b, ts, p) AS rn FROM ev),
      c AS (SELECT *, MAX(CASE WHEN p = 0 THEN rn END) OVER (
                PARTITION BY k ORDER BY rn ROWS UNBOUNDED PRECEDING) AS click_rn
            FROM o),
      cand AS (
        SELECT pu.k, pu.rn, cl.ts AS from_ts, pu.ts AS to_ts, pu.click_rn
        FROM c pu JOIN o cl ON cl.k = pu.k AND cl.rn = pu.click_rn
        WHERE pu.p = 1 AND pu.ts >= cl.ts
          AND epoch_us(pu.ts) - epoch_us(cl.ts) <= CAST({within_s} AS BIGINT) * 1000000)
      SELECT k, from_ts, to_ts, epoch_us(to_ts) - epoch_us(from_ts) AS latency_us
      FROM cand QUALIFY ROW_NUMBER() OVER (PARTITION BY k, click_rn ORDER BY rn) = 1"""
    return {"tumble": tumble, "funnel": funnel}


def stream(backlog, results_dir, delay_s, within_s):
    con = duckdb.connect()
    out = {}
    for name, sql in stream_sql(backlog, delay_s, within_s).items():
        got = _read(os.path.join(results_dir, name))
        out[name] = "no result" if got is None else compare(got, con.execute(sql).df())
    return out
