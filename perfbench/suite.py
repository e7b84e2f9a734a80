"""analytics_suite: a fixed list of registry queries over seeded tables,
each materialized through the noop sink as ``bench.py`` does, and each
checked once per run against its ``oracle_sql()`` twin on DuckDB with
``tools/check_oracle.py``'s canonicalization."""

from __future__ import annotations

import os
import sys
import time

import gen
from harness import Run, median

# One query of the fixed-round loop family (ROADMAP direction 2) and one
# of the shingle family (direction 5): the list is trimmed to what a
# run's time budget holds.
QUERIES = ["part_pagerank", "span_dedup"]
SCALE = 1_500  # orders; lineitem holds four times as many rows


class Suite:
    # passes keep getting faster for about eight warm-up passes
    MIN_SETTLE = 3

    def __init__(self, run: Run):
        self.run = run
        k = run.seed % len(QUERIES)
        self.order = QUERIES[k:] + QUERIES[:k]
        self.sf = None
        self.rows = {}
        self.removed_spans = 0

    def setup_round(self, r: int) -> None:
        import __spark_entry__ as entry

        self.sf = self.run.fresh_dir("inputs", f"r{r}")
        self.rows, self.removed_spans = gen.write_analytics(self.run.seed, SCALE, self.sf)
        self.fns = entry.queries()

    def warm_unit(self) -> float:
        return sum(self.run.unit(f"q.{q}", lambda q=q: self.query_unit(q), timed=False) or 0.0
                   for q in self.order)

    def query_unit(self, name: str, traced: bool = False):
        from mvrepair import cache

        spark = self.run.spark
        with self.run.tracer.span(f"suite.{name}", traced=traced) as s:
            self.fns[name](spark, self.sf).write.format("noop").mode("overwrite").save()
        # as bench.py: release operator-owned frames between repeats, so the
        # next repeat measures the computation, not a cache hit
        cache.release_all()
        spark.catalog.clearCache()
        return s.wall_s, []

    def measure(self) -> None:
        run = self.run
        deadline = time.monotonic() + run.seconds
        passes = 0
        while time.monotonic() < deadline or passes < (4 if run.trace else 3):
            traced = run.trace and passes % 2 == 1
            for q in self.order:
                op = f"traced.q.{q}" if traced else f"q.{q}"
                run.unit(op, lambda q=q: self.query_unit(q, traced))
            passes += 1
        run.env["suite_passes"] = passes
        t = time.time()
        for q in self.order:
            run.unit("oracle", lambda q=q: self.oracle_unit(q), timed=False)
        run.env["oracle_s"] = time.time() - t

    def pass_s(self, prefix: str = "q.") -> float:
        """One pass over the list: the sum of per-query medians, as bench.py."""
        return sum(median(self.run.times.get(f"{prefix}{q}", [])) for q in QUERIES)

    def headline(self) -> float:
        return self.pass_s()

    def close(self) -> None:
        pass

    def oracle_unit(self, name: str):
        """Untimed: Spark result vs the DuckDB oracle twin."""
        import duckdb

        import __spark_entry__ as entry

        tools = os.path.join(self.run.root, "tools")
        if tools not in sys.path:
            sys.path.insert(0, tools)
        import check_oracle as co

        from mvrepair import cache

        spark = self.run.spark
        sdf = self.fns[name](spark, self.sf)
        srows, scols = [tuple(r) for r in sdf.collect()], sdf.columns
        cache.release_all()
        sql = entry.oracle_sql()[name]
        con = duckdb.connect()
        try:
            for t in self.rows:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.sf}/{t}.parquet'")
            arrow = con.execute(sql).arrow()
        finally:
            con.close()
        ocols = arrow.column_names
        orows = list(zip(*[c.to_pylist() for c in arrow.columns]))
        errors = []
        if sorted(scols) != sorted(ocols):
            errors.append(f"{name}: columns {scols} vs {ocols}")
        errors += [f"{name}: {d}" for d in co.type_mismatches(sdf.schema, arrow.schema)]
        to_rows = co.df_to_sequence if co.has_toplevel_order_by(sql) else co.df_to_multiset
        if not errors and to_rows(scols, srows) != to_rows(ocols, orows):
            errors.append(f"{name}: {len(srows)} rows differ from the oracle's {len(orows)}")
        if name == "span_dedup":
            # the generator's own count, so a query and oracle that both
            # remove nothing still fail
            removed = sum(r[scols.index("n_removed")] for r in srows)
            if removed != self.removed_spans:
                errors.append(f"span_dedup removed {removed} spans, expected {self.removed_spans}")
        return 0.0, errors

    def layers(self) -> dict:
        run, tr = self.run, self.run.tracer
        out = {}
        task = gap = 0.0
        for q in QUERIES:
            spans = tr.named(f"suite.{q}")
            out[f"suite.{q}.wall_s"] = median([s.wall_s for s in spans])
            out[f"suite.{q}.jobs"] = median([s.jobs for s in spans])
            task += median([s.task_s for s in spans])
            gap += median([s.driver_gap_s for s in spans])
        out["suite.task_s"] = task
        out["suite.driver_gap_s"] = gap
        out["trace.overhead_s"] = self.pass_s("traced.q.") - self.pass_s()
        return out

    def describe(self) -> dict:
        return {"tables": self.rows, "order": self.order, "rows": sum(self.rows.values()),
                "removed_spans": self.removed_spans}
