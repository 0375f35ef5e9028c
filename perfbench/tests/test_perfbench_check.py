"""The output check passes the oracle's own answer and catches a
planted wrong row, which then counts as a failure of the run."""

import os

import duckdb
import pytest

import check
import gen
import run as bench


@pytest.fixture()
def staged(tmp_path, monkeypatch):
    monkeypatch.chdir(tmp_path)
    r = bench.Run("ql_small", 1, 1.0)
    table, _ = gen.events(1, 4_000, 60, None, 0.05, 2 * 86_400, 60)
    gen.write(table, r.path("in", "events.parquet"))
    gen.write(gen.vip_users(1, 60), r.path("in", "vip.parquet"))
    con = check.connect(r.path("in", "events.parquet"), r.path("in", "vip.parquet"))
    for name, sql in check.BATCH_ORACLE.items():
        os.makedirs(r.path("out", name))
        con.execute(f"COPY ({sql}) TO '{r.path('out', name, 'part-0.parquet')}'")
    return r


def _plant(r, name, sql):
    """Rewrite one output with ``sql`` applied to its rows."""
    path = r.path("out", name, "part-0.parquet")
    con = duckdb.connect()
    rows = con.execute(f"SELECT * FROM read_parquet('{path}')").arrow()
    con.register("t", rows)
    con.execute(f"COPY ({sql}) TO '{path}'")


def test_oracle_answer_passes(staged):
    res = check.check_batch_outputs(check.connect(
        staged.path("in", "events.parquet"), staged.path("in", "vip.parquet")
    ), staged.path("out"))
    assert all(r["ok"] for r in res.values()), res
    assert res["RecentErrors"]["rows"] > 0 and res["Recovered"]["rows"] > 0


def test_planted_wrong_row_is_caught_and_counted(staged):
    _plant(
        staged,
        "RecentErrors",
        "SELECT event_id, ts, CASE WHEN event_id = (SELECT min(event_id) FROM t) "
        "THEN user_id + 1 ELSE user_id END AS user_id FROM t",
    )
    res = check.check_batch_outputs(check.connect(
        staged.path("in", "events.parquet"), staged.path("in", "vip.parquet")
    ), staged.path("out"))
    bad = res["RecentErrors"]
    assert not bad["ok"] and bad["extra"] == 1 and bad["missing"] == 1
    assert bad["rows"] == bad["expected_rows"]
    assert all(r["ok"] for n, r in res.items() if n != "RecentErrors")

    out = bench.finish_batch(
        staged,
        {"checked_ok": True, "walls": [1.0], "wall_p50": 1.0, "rows": 1, "setup": [1.0]},
        {},
        bench.ql_check,
    )
    assert staged.failed == 1 and out["e2e"]["wall_p50_s"] == 1.0


def test_a_run_whose_every_unit_raised_still_reports(staged):
    staged.attempted, staged.failed = 3, 3
    out = bench.finish_batch(
        staged,
        {"checked_ok": False, "walls": [], "wall_p50": 0.0, "rows": 1, "setup": [1.0]},
        {},
        bench.ql_check,
    )
    assert out["e2e"]["input_rows_per_s"] == 0.0 and staged.failed == 3


def test_a_missing_row_is_caught(staged):
    _plant(staged, "TypeTotals", "SELECT * FROM t WHERE event_type <> 'view'")
    res = check.check_batch_outputs(check.connect(
        staged.path("in", "events.parquet"), staged.path("in", "vip.parquet")
    ), staged.path("out"))
    assert not res["TypeTotals"]["ok"] and res["TypeTotals"]["missing"] == 1
