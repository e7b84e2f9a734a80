"""The generator's expectations, recounted by DuckDB over the parquet it
wrote.  Run: python3 -m pytest perfbench -q"""

from __future__ import annotations

import os
import sys

import duckdb
import pyarrow.parquet as pq
import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))
import gen  # noqa: E402

DIFF = " OR ".join(f"b.{c} IS DISTINCT FROM m.{c}" for c in gen.VALUE_COLS)
# writetime window test on the common non-collection columns, in
# truncated seconds, as the reconcile's window does
OUT = " OR ".join(
    f"{s}.{c}__writetime // 1000000 NOT BETWEEN {gen.WINDOW_START_S} AND {gen.WINDOW_END_S}"
    for s in ("b", "m") for c in ("amount", "name", "qty")
)


@pytest.fixture(params=[(11, 0.3), (12, 0.01)], ids=["dirty", "clean"])
def pair(request, tmp_path):
    seed, div = request.param
    p = gen.mv_pair(seed, 3_000, div)
    gen.write_mv_pair(p, str(tmp_path), 2)
    return p


def _joined(con, p):
    con.execute(f"CREATE VIEW base AS SELECT * FROM '{p.base_path}/*.parquet'")
    con.execute(f"CREATE VIEW mv AS SELECT * FROM '{p.mv_path}/*.parquet'")
    con.execute(f"""
        CREATE VIEW j AS SELECT coalesce(b.id, m.id) AS id,
          CASE WHEN b.id IS NULL THEN 'MISSING_IN_BASE_TABLE'
               WHEN m.id IS NULL THEN 'MISSING_IN_MV_TABLE'
               WHEN {DIFF} THEN 'INCONSISTENT' ELSE 'CONSISTENT' END AS problem,
          coalesce({OUT}, false) AS skipped,
          {", ".join(f"b.{c} IS DISTINCT FROM m.{c} AS d_{c}" for c in gen.VALUE_COLS)}
        FROM base b FULL OUTER JOIN mv m USING (grp, id, ck)""")


def test_class_counts_and_stats(pair):
    con = duckdb.connect()
    _joined(con, pair)
    rows = con.execute("SELECT problem, skipped, count(*) FROM j GROUP BY ALL").fetchall()
    live = {}
    for problem, skipped, n in rows:
        if not skipped and problem != "CONSISTENT":
            live[problem] = live.get(problem, 0) + n
    assert live == pair.expected_report_records()
    stats = pair.expected_stats(repair=True)
    assert sum(n for _, _, n in rows) == stats["totRecords"]
    assert sum(n for _, s, n in rows if s) == stats["skippedRecords"]
    assert sum(n for p, s, n in rows if not s and p == "CONSISTENT") == stats["consistentRecords"]
    assert pq.read_table(pair.base_path).num_rows == pair.base_rows
    assert pq.read_table(pair.mv_path).num_rows == pair.mv_rows


def test_repair_cells_deletes_and_merkle(pair):
    con = duckdb.connect()
    _joined(con, pair)
    cells = set()
    for c in gen.VALUE_COLS:
        cells.update(
            (i, c) for (i,) in con.execute(
                f"SELECT id FROM j WHERE NOT skipped AND (problem = 'MISSING_IN_MV_TABLE'"
                f" OR (problem = 'INCONSISTENT' AND d_{c}))").fetchall()
        )
    assert cells == pair.expected_upsert_cells()
    deletes = {i for (i,) in con.execute(
        "SELECT id FROM j WHERE NOT skipped AND problem = 'MISSING_IN_BASE_TABLE'").fetchall()}
    assert deletes == pair.expected_delete_ids()
    merkle = dict(con.execute("SELECT id, problem FROM j WHERE problem <> 'CONSISTENT'").fetchall())
    assert merkle == pair.expected_merkle()


def test_delta_cells_and_compaction(tmp_path):
    plan = gen.DeltaPlan(seed=5, snapshot_keys=2_000, delta_rows=300, hot_keys=500)
    plan.write_snapshot(str(tmp_path), 2)
    con = duckdb.connect()
    con.execute(f"CREATE VIEW snap AS SELECT * FROM '{plan.snapshot_path}/*.parquet'")
    log = set()
    n_cells = 0
    for i in range(4):
        table, want = plan.delta(i)
        path = str(tmp_path / f"delta{i}.parquet")
        pq.write_table(table, path)
        got = set()
        for c in gen.VALUE_COLS:
            got.update(con.execute(
                f"SELECT d.id, '{c}' FROM '{path}' d LEFT JOIN snap m USING (grp, id, ck)"
                f" WHERE m.id IS NULL OR d.{c} IS DISTINCT FROM m.{c}").fetchall())
        assert got == want
        plan.record(want)
        log |= got
        n_cells += len(got)
    assert plan.expected_compaction() == {
        "n_log_cells": n_cells, "n_applied": len(log), "n_superseded": n_cells - len(log),
    }
    assert plan.expected_compaction()["n_superseded"] > 0


def test_span_dedup_duplicates():
    """The documents hold tile-aligned copied spans, and ``removed_spans``
    counts them as span_dedup's tiling sees them."""
    t = gen.analytics_tables(3, 600)["documents"]
    con = duckdb.connect()
    con.register("documents", t)
    (dups,) = con.execute(f"""
        WITH t AS (SELECT string_split(text, ' ') AS ts FROM documents),
        tiles AS (SELECT array_to_string(ts[i*{gen.SPAN_W}+1 : i*{gen.SPAN_W}+{gen.SPAN_W}], ' ') AS s
                  FROM t, unnest(range(0, len(ts) // {gen.SPAN_W})) AS u(i))
        SELECT sum(n - 1) FROM (SELECT count(*) AS n FROM tiles GROUP BY s)""").fetchone()
    assert dups == gen.removed_spans(t.column("text").to_pylist())
    assert dups > 0
