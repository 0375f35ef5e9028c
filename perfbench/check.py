"""Output checks: DuckDB recomputes every output from the same generated
parquet and the engine's result must match it as a multiset.

A match means equal row counts, equal order-independent hashes and an
empty ``EXCEPT ALL`` in both directions. Float outputs follow the
engine's ``fpround`` convention on both sides: ``round(1e-9 + x, 4)``.
The checks run outside the timed region.
"""

from __future__ import annotations

import duckdb

WATERMARK_S = 120  # ql_stream's watermark delay; disorder stays below it
PANE_S, PANE_SLIDE_S = 1800, 300  # streaming time(30 min) panes


def connect(events: str | None = None, vip: str | None = None, docs: str | None = None):
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    con.execute("SET enable_progress_bar = false")
    if events:
        con.execute(f"CREATE VIEW ev AS SELECT * FROM read_parquet('{events}')")
    if vip:
        con.execute(f"CREATE VIEW vip AS SELECT * FROM read_parquet('{vip}')")
    if docs:
        con.execute(f"CREATE VIEW documents AS SELECT * FROM read_parquet('{docs}')")
    return con


def r4(x: str) -> str:
    return f"round(1e-9 + {x}, 4)"


# The batch semantics of each output of perfbench/app.siddhi.
BATCH_ORACLE = {
    "VipPurchases": f"""
        SELECT e.event_id, e.user_id, {r4('e.value')} AS value, v.tier
        FROM ev e JOIN vip v ON e.user_id = v.user_id
        WHERE e.event_type = 'purchase'""",
    "RecentErrors": """
        SELECT event_id, ts, user_id FROM ev WHERE event_type = 'error'""",
    # time(30 min) consumer: per-arrival emission over the trailing
    # 30-minute RANGE frame (both ends inclusive) per group-by key
    "ErrorCounts": """
        SELECT user_id, count(*) OVER w AS n, max(event_id) OVER w AS last_id
        FROM ev WHERE event_type = 'error'
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts)
                     RANGE BETWEEN 1800000000 PRECEDING AND CURRENT ROW)""",
    # every e1 -> e2 within 30 min: each error takes the first later
    # purchase of the same user, ties broken by event id
    "Recovered": """
        SELECT user_id, err_id, buy_id FROM (
          SELECT e1.user_id, e1.event_id AS err_id, e2.event_id AS buy_id,
                 row_number() OVER (PARTITION BY e1.event_id
                                    ORDER BY e2.ts, e2.event_id) AS rn
          FROM ev e1 JOIN ev e2
            ON e1.user_id = e2.user_id AND e2.ts > e1.ts
           AND e2.ts <= e1.ts + INTERVAL 30 MINUTE
          WHERE e1.event_type = 'error' AND e2.event_type = 'purchase')
        WHERE rn = 1""",
    "TypeTotals": f"""
        SELECT event_type, count(*) AS n, {r4('sum(value)')} AS total,
               max(event_id) AS last_id
        FROM ev GROUP BY event_type""",
}


def stream_panes_oracle(watermark_us: int) -> str:
    """ErrorCounts in streaming mode: sliding 30-minute panes every 5
    minutes (epoch-aligned), emitted once the watermark passes their end."""
    k = PANE_S // PANE_SLIDE_S
    slide = PANE_SLIDE_S * 1_000_000
    return f"""
        WITH err AS (SELECT event_id, epoch_us(ts) AS t, user_id
                     FROM ev WHERE event_type = 'error'),
        panes AS (SELECT (t // {slide} - k) * {slide} AS ws, user_id, event_id
                  FROM err, range({k}) r(k))
        SELECT make_timestamp(ws) AS window_start,
               make_timestamp(ws + {PANE_S * 1_000_000}) AS window_end,
               user_id, count(*) AS n, max(event_id) AS last_id
        FROM panes GROUP BY ws, user_id
        HAVING ws + {PANE_S * 1_000_000} <= {watermark_us}"""


def compare(con, got: str, want: str) -> dict:
    """Multiset comparison of two queries with the same columns."""
    n_got, n_want, h_got, h_want, extra, missing = con.execute(
        f"""WITH g AS ({got}), w AS ({want})
        SELECT (SELECT count(*) FROM g), (SELECT count(*) FROM w),
               (SELECT coalesce(sum(hash(gr)::HUGEINT), 0) FROM g gr),
               (SELECT coalesce(sum(hash(wr)::HUGEINT), 0) FROM w wr),
               (SELECT count(*) FROM (FROM g EXCEPT ALL FROM w)),
               (SELECT count(*) FROM (FROM w EXCEPT ALL FROM g))"""
    ).fetchone()
    return {
        "ok": n_got == n_want and h_got == h_want and extra == 0 and missing == 0,
        "rows": n_got,
        "expected_rows": n_want,
        "extra": extra,
        "missing": missing,
    }


def parquet(path: str) -> str:
    return f"SELECT * FROM read_parquet('{path}/*.parquet')"


def check_batch_outputs(con, out_dir: str) -> dict[str, dict]:
    """Each output the engine wrote under ``out_dir/<name>`` against its
    oracle."""
    return {
        name: compare(con, parquet(f"{out_dir}/{name}"), sql)
        for name, sql in BATCH_ORACLE.items()
    }
