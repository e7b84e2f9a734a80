"""MV workloads: batch reconcile/repair through ``runner.run`` plus the
Merkle drill, and the incremental (streaming) repair loop.

Every unit is checked against the generator's own expectations (see
``gen.py``) outside its timed region.
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time

import pyarrow.parquet as pq

import gen
from harness import Run, median, noop, tail

# (n_keys, divergence, fix flags on) per batch workload
BATCH = {
    "reconcile_clean": (40_000, 0.001, False),
    "repair_dirty": (10_000, 0.30, True),
}
# incremental: MV snapshot keys, rows per delta, hot key range, deltas in
# the compacted log prefix, and the fewest deltas a traced run times
# (eleven or more give a tail percentile with ten samples beyond it)
INCREMENTAL = dict(snapshot_keys=50_000, delta_rows=1_000, hot_keys=2_000, log_deltas=8,
                   min_deltas=12)

MERKLE_KEYS = ["grp", "id", "ck"]
MERKLE_VALS = ["amount", "name", "qty", "tags"]


def spec():
    from mvrepair.schema import MVSpec, TableSchema

    cols = gen.LOGICAL_TYPES
    return MVSpec(
        base=TableSchema(pk=gen.BASE_PK, columns=dict(cols)),
        mv=TableSchema(pk=gen.MV_PK, columns=dict(cols)),
    )


def settings(repair: bool):
    from mvrepair.config import SyncSettings

    conf = {
        "cass.mv.starttsinsec": str(gen.WINDOW_START_S),
        "cass.mv.endtsinsec": str(gen.WINDOW_END_S),
    }
    if repair:
        for flag in ("fixmissingmv", "fixorphanmv", "fixinconsistentmv"):
            conf[f"cass.mv.{flag}"] = "true"
    return SyncSettings(conf)


def _render(df):
    """String rendering the Merkle digest hashes (its callers' contract)."""
    from pyspark.sql import functions as F

    return df.select(
        *[F.col(c).cast("string").alias(c) for c in ("grp", "id", "ck", "amount", "name", "qty")],
        F.array_join("tags", ",").alias("tags"),
    )


def _read_ids(path: str, cols: list[str]) -> list[tuple]:
    files = glob.glob(os.path.join(path, "*.parquet"))
    if not files:
        return []
    t = pq.ParquetDataset(files).read(columns=cols)
    return list(zip(*[t.column(c).to_pylist() for c in cols]))


def _report_records(outdir: str) -> dict[str, int]:
    from mvrepair.report import SEPARATOR

    counts = {}
    for cat in sorted(os.listdir(outdir)):
        path = os.path.join(outdir, cat)
        if not os.path.isdir(path):
            continue
        n = 0
        for f in glob.glob(os.path.join(path, "part-*")):
            with open(f) as fh:
                n += sum(1 for line in fh if line.rstrip("\n") == SEPARATOR)
        counts[cat.removeprefix("category=")] = n
    return counts


class Batch:
    """reconcile_clean / repair_dirty."""

    MIN_SETTLE = 0  # units are flat from the third on

    def __init__(self, run: Run):
        self.run = run
        self.n_keys, self.divergence, self.repair = BATCH[run.workload]
        self.spec = spec()
        self.settings = settings(self.repair)
        self.depth = 0
        self.pair = None
        self.k = 0

    # -- set-up ------------------------------------------------------------
    def setup_round(self, r: int) -> None:
        from mvrepair.operators.merkle import choose_depth

        root = self.run.fresh_dir("inputs", f"r{r}")
        self.pair = gen.mv_pair(self.run.seed, self.n_keys, self.divergence)
        gen.write_mv_pair(self.pair, root, self.run.cores)
        self.depth = choose_depth(round(self.divergence * self.n_keys))

    def warm_unit(self) -> float:
        return self.run.unit("unit", self.reconcile_unit, timed=False) or 0.0

    def inputs(self):
        spark = self.run.spark
        return spark.read.parquet(self.pair.base_path), spark.read.parquet(self.pair.mv_path)

    # -- units -------------------------------------------------------------
    def _out(self, name: str) -> str:
        self.k += 1
        return self.run.fresh_dir("units", f"{name}{self.k % 3}")

    def reconcile_unit(self, span: str | None = None):
        """One ``runner.run`` job; the applier writes the upsert and
        delete frames to parquet (file-mode mutation log)."""
        from mvrepair.metrics import JobMetrics
        from mvrepair.runner import run as mv_run

        out = self._out("run")
        ups, dels = os.path.join(out, "upserts"), os.path.join(out, "deletes")

        def applier(upserts, deletes):
            upserts.write.parquet(ups)
            deletes.write.parquet(dels)

        base, mv = self.inputs()
        with self.run.tracer.span(span or "runner.run", traced=span is not None) as s:
            stats = mv_run(
                self.run.spark, self.settings, base_df=base, mv_df=mv, spec=self.spec,
                metrics=JobMetrics(), outdir=os.path.join(out, "report"),
                repair_applier=applier if self.repair else None,
            )
        return s.wall_s, self.check_run(stats.counters, out)

    def check_run(self, counters: dict, out: str) -> list[str]:
        pair, errors = self.pair, []
        for k, v in pair.expected_stats(self.repair).items():
            if counters.get(k) != v:
                errors.append(f"stats {k}: {counters.get(k)} != {v}")
        got = _report_records(os.path.join(out, "report"))
        if got != pair.expected_report_records():
            errors.append(f"report records {got} != {pair.expected_report_records()}")
        if self.repair:
            errors += self.check_plans(os.path.join(out, "upserts"), os.path.join(out, "deletes"))
        return errors

    def check_plans(self, ups: str, dels: str) -> list[str]:
        errors = []
        cells = _read_ids(ups, ["id", "column"])
        if len(cells) != len(set(cells)) or set(cells) != self.pair.expected_upsert_cells():
            errors.append(f"upsert cells: {len(cells)} rows vs {len(self.pair.expected_upsert_cells())} expected")
        keys = [k for (k,) in _read_ids(dels, ["id"])]
        if len(keys) != len(set(keys)) or set(keys) != self.pair.expected_delete_ids():
            errors.append(f"delete keys: {len(keys)} rows vs {len(self.pair.expected_delete_ids())} expected")
        return errors

    def merkle_keys(self, base, mv) -> list[str]:
        """Traced ``merkle_repair_keys`` call, its result written to
        parquet and checked against the window-free divergence."""
        from mvrepair.operators.merkle import merkle_repair_keys

        out = os.path.join(self._out("merkle"), "keys")
        with self.run.tracer.span("merkle.keys"):
            merkle_repair_keys(
                _render(base), _render(mv), MERKLE_KEYS, MERKLE_VALS, self.depth
            ).write.parquet(out)
        got = _read_ids(out, ["id", "status"])
        want = self.pair.expected_merkle()
        if len(got) == len(want) and {int(i): st for i, st in got} == want:
            return []
        return [f"merkle keys: {len(got)} vs {len(want)}"]

    def traced_unit(self):
        """Cumulative prefix spans scan → classify → report → repair plan,
        each forced by its own action, then the Merkle diff and drill."""
        from mvrepair.operators.merkle import merkle_diff
        from mvrepair.operators.reconcile import classify
        from mvrepair.operators.repair import plan_deletes, plan_upserts
        from mvrepair.report import write_reports

        tr, window = self.run.tracer, self.settings.window_micros()
        out = self._out("trace")
        errors = []
        base, mv = self.inputs()
        with tr.span("sources.scan"):
            noop(base)
            noop(mv)
        with tr.span("reconcile.classify", parent="sources.scan"):
            noop(classify(base, mv, self.spec, window=window))
        with tr.span("report.write", parent="reconcile.classify"):
            write_reports(classify(base, mv, self.spec, window=window), self.spec,
                          os.path.join(out, "report"), self.settings)
        records = _report_records(os.path.join(out, "report"))
        if records != self.pair.expected_report_records():
            errors.append(f"traced report records {records}")
        self.run.layer.setdefault("report.records", []).append(sum(records.values()))
        ups, dels = os.path.join(out, "upserts"), os.path.join(out, "deletes")
        if self.repair:
            with tr.span("repair.plan", parent="reconcile.classify"):
                wide = classify(base, mv, self.spec, window=window)
                plan_upserts(wide, self.spec, self.settings, respect_flags=True).write.parquet(ups)
                plan_deletes(wide, self.spec, base).write.parquet(dels)
            errors += self.check_plans(ups, dels)
            self.run.layer.setdefault("repair.upsert_cells", []).append(len(_read_ids(ups, ["id"])))
            self.run.layer.setdefault("repair.delete_keys", []).append(len(_read_ids(dels, ["id"])))
        with tr.span("merkle.diff"):
            dirty = merkle_diff(_render(base), _render(mv), MERKLE_KEYS, MERKLE_VALS, self.depth).select("bucket").collect()
        self.run.layer.setdefault("merkle.dirty_bucket_frac", []).append(len(dirty) / (1 << self.depth))
        errors += self.merkle_keys(base, mv)
        secs, e1 = self.reconcile_unit(span="runner.run")
        self.run.times.setdefault("traced.unit", []).append(secs)
        return secs, errors + e1

    # -- measurement ---------------------------------------------------------
    def measure(self) -> None:
        """``runner.run`` units for ``seconds``; a traced run interleaves
        three traced units."""
        run = self.run
        deadline = time.monotonic() + run.seconds
        traced = 0
        while time.monotonic() < deadline or (run.trace and traced < 3):
            run.unit("unit", self.reconcile_unit)
            if run.trace:
                run.unit("traced", self.traced_unit, timed=False)
                traced += 1
                if traced == 3:
                    break

    def layers(self) -> dict:
        run, tr = self.run, self.run.tracer

        def wall(name):
            return median([s.wall_s for s in tr.named(name)])

        def stat(name, key):
            return median([getattr(s, key) for s in tr.named(name)])

        out = {
            "sources.scan_s": wall("sources.scan"),
            "sources.input_records": stat("sources.scan", "input_records"),
            "reconcile.classify_self_s": wall("reconcile.classify") - wall("sources.scan"),
            "reconcile.shuffle_write_bytes": stat("reconcile.classify", "shuffle_write_bytes"),
            "reconcile.spill_bytes": stat("reconcile.classify", "spill_bytes"),
            "report.write_self_s": wall("report.write") - wall("reconcile.classify"),
            "repair.plan_self_s": (wall("repair.plan") - wall("reconcile.classify")) if self.repair else 0.0,
            "runner.jobs": stat("runner.run", "jobs"),
            "runner.stages": stat("runner.run", "stages"),
            "runner.task_s": stat("runner.run", "task_s"),
            "runner.driver_gap_s": stat("runner.run", "driver_gap_s"),
            "runner.scan_amplification": stat("runner.run", "input_records") / (self.pair.base_rows + self.pair.mv_rows),
            "merkle.diff_s": wall("merkle.diff"),
            "merkle.keys_s": wall("merkle.keys"),
            "merkle.drill_s": wall("merkle.keys") - wall("merkle.diff"),
            "merkle.jobs": stat("merkle.keys", "jobs"),
            "trace.overhead_s": median(run.times.get("traced.unit", [])) - median(run.times.get("unit", [])),
        }
        for k in ("report.records", "repair.upsert_cells", "repair.delete_keys", "merkle.dirty_bucket_frac"):
            out[k] = median(run.layer.get(k, []))
        return out

    def headline(self) -> float:
        return median(self.run.times.get("unit", []))

    def close(self) -> None:
        pass

    def describe(self) -> dict:
        p = self.pair
        return {
            "n_keys": p.n_keys, "base_rows": p.base_rows, "mv_rows": p.mv_rows,
            "on_disk_bytes": p.on_disk_bytes, "divergence": self.divergence,
            "merkle_depth": self.depth, "expected_divergent_keys": len(p.expected_merkle()),
            "rows": p.base_rows + p.mv_rows,
        }


class Incremental:
    """incremental_repair: base deltas land one at a time (closed loop, one
    client) against a static MV snapshot and feed one long-lived
    ``streaming_repair_upserts`` → ``repair_cells_to_files`` query."""

    # deltas keep getting faster for about eight warm-up units (16 deltas)
    MIN_SETTLE = 3

    def __init__(self, run: Run):
        self.run = run
        self.spec = spec()
        self.cfg = INCREMENTAL
        self.plan = None
        self.query = None
        self.i = 0
        self.committed: dict[int, list[str]] = {}  # delta → log data files
        self.prefix_plan = None
        self.last_batch = -1

    def setup_round(self, r: int) -> None:
        from mvrepair.streaming.repair import repair_cells_to_files, streaming_repair_upserts

        if self.query is not None:
            self.query.stop()
        run = self.run
        root = run.fresh_dir("inputs", f"r{r}")
        self.dirs = {d: os.path.join(root, d) for d in ("src", "stage", "log", "ckpt")}
        for d in ("src", "stage"):
            os.makedirs(self.dirs[d])
        self.plan = gen.DeltaPlan(
            seed=run.seed, snapshot_keys=self.cfg["snapshot_keys"],
            delta_rows=self.cfg["delta_rows"], hot_keys=self.cfg["hot_keys"],
        )
        self.plan.write_snapshot(root, run.cores)
        empty = os.path.join(root, "schema.parquet")
        pq.write_table(gen.BASE_SCHEMA.empty_table(), empty)
        schema = run.spark.read.parquet(empty).schema
        stream = run.spark.readStream.schema(schema).parquet(self.dirs["src"])
        mv_static = run.spark.read.parquet(self.plan.snapshot_path)
        cells = streaming_repair_upserts(stream, mv_static, self.spec)
        self.query = repair_cells_to_files(
            cells, self.dirs["log"], self.dirs["ckpt"], trigger_available_now=False
        )
        self.i, self.committed, self.prefix_plan, self.last_batch = 0, {}, None, -1

    def warm_unit(self) -> float:
        """Two deltas: a round's fresh query needs more than one batch."""
        return sum(self.run.unit("unit", self.delta_unit, timed=False) or 0.0 for _ in range(2))

    def _new_batches(self) -> list:
        """Progress of the data batches run since the last delta; waits
        briefly, since progress is posted just after the commit."""
        for _ in range(200):
            new = [p for p in self.query.recentProgress
                   if p.batchId > self.last_batch and p.numInputRows > 0]
            if new:
                return new
            time.sleep(0.01)
        return []

    def _batch_files(self, batch_id: int) -> list[str]:
        """Data files the file sink committed in ``batch_id``, from its
        manifest (every tenth batch writes a cumulative ``.compact`` one)."""
        meta = os.path.join(self.dirs["log"], "_spark_metadata", str(batch_id))
        if not os.path.exists(meta):
            meta += ".compact"
        with open(meta) as fh:
            lines = fh.read().splitlines()[1:]
        seen = {f for fs in self.committed.values() for f in fs}
        files = [json.loads(line)["path"].removeprefix("file:") for line in lines]
        return [f for f in files if f not in seen]

    def delta_unit(self, traced: bool = False):
        run, q = self.run, self.query
        table, want = self.plan.delta(self.i)
        staged = os.path.join(self.dirs["stage"], f"delta-{self.i:05d}.parquet")
        pq.write_table(table, staged)
        sc = run.spark.sparkContext
        jobs_before = set(sc.statusTracker().getJobIdsForGroup(str(q.runId))) if traced else set()
        t0 = time.monotonic()
        os.rename(staged, os.path.join(self.dirs["src"], os.path.basename(staged)))
        start_ms = time.time() * 1000.0
        q.processAllAvailable()
        secs = time.monotonic() - t0
        end_ms = time.time() * 1000.0

        progress = self._new_batches()
        if progress:
            self.last_batch = max(p.batchId for p in progress)
        errors = []
        if len(progress) != 1 or progress[0].numInputRows != table.num_rows:
            errors.append(f"delta {self.i}: batches {[p.numInputRows for p in progress]}")
        else:
            p = progress[0]
            files = self._batch_files(p.batchId)
            got = []
            for f in files:
                t = pq.read_table(f, columns=["id", "column"])
                got += list(zip(t.column("id").to_pylist(), t.column("column").to_pylist()))
            if len(got) != len(want) or set(got) != want:
                errors.append(f"delta {self.i}: {len(got)} cells vs {len(want)} expected")
            self.committed[self.i] = files
            if traced:
                self._trace_batch(p, secs, jobs_before, start_ms, end_ms, table.num_rows)
        self.plan.record(want)
        self.i += 1
        if self.i == self.cfg["log_deltas"]:
            self._snapshot_prefix()
        return secs, errors

    def _trace_batch(self, p, secs, jobs_before, start_ms, end_ms, rows) -> None:
        from harness import stage_stats

        run, d = self.run, p.durationMs
        sc = run.spark.sparkContext
        jobs = set(sc.statusTracker().getJobIdsForGroup(str(self.query.runId))) - jobs_before
        st = stage_stats(run.spark, sorted(jobs), start_ms, end_ms)
        for k, key in (("trigger_ms", "triggerExecution"), ("add_batch_ms", "addBatch"),
                       ("planning_ms", "queryPlanning"), ("commit_ms", "commitOffsets"),
                       ("offset_ms", "latestOffset")):
            run.layer.setdefault(f"streaming.{k}", []).append(float(d.get(key, 0)))
        run.layer.setdefault("streaming.poll_gap_ms", []).append(secs * 1000.0 - float(d.get("triggerExecution", 0)))
        run.layer.setdefault("streaming.jobs_per_batch", []).append(len(jobs))
        run.layer.setdefault("streaming.snapshot_amplification", []).append(
            max(0, st["input_records"] - rows) / rows
        )
        run.times.setdefault("traced.unit", []).append(secs)

    def _snapshot_prefix(self) -> None:
        """Copy the log files of the first ``log_deltas`` deltas aside: the
        compaction units run over this fixed prefix of the run's log, so
        their work does not grow with how many deltas the run fit in."""
        dst = os.path.join(self.run.work, "log_prefix")
        shutil.rmtree(dst, ignore_errors=True)
        os.makedirs(dst)
        for i in range(self.cfg["log_deltas"]):
            for f in self.committed.get(i, []):
                shutil.copy(f, os.path.join(dst, f"d{i}-{os.path.basename(f)}"))
        self.prefix_plan = dict(self.plan.expected_compaction())
        self.prefix_path = dst

    def compact_unit(self, traced: bool = False):
        """``compact_and_apply_log`` over the log prefix, applying the
        compacted plan by writing it to parquet (file mode)."""
        from mvrepair.streaming.repair import compact_and_apply_log

        run = self.run
        out = os.path.join(self.run.fresh_dir("units", "apply"), "mv_upserts")
        applied = {}

        def apply_fn(plan):
            t = time.monotonic()
            plan.write.parquet(out)
            applied["s"] = time.monotonic() - t

        with run.tracer.span("streaming.compact_and_apply", traced=traced) as s:
            _, stats = compact_and_apply_log(run.spark, self.prefix_path, gen.MV_PK, apply_fn=apply_fn)
        expected = self.prefix_plan
        errors = []
        if stats != expected:
            errors.append(f"compaction {stats} != {expected}")
        n_out = len(_read_ids(out, ["id"]))
        if n_out != expected["n_applied"]:
            errors.append(f"applied {n_out} cells != {expected['n_applied']}")
        if traced:
            run.layer.setdefault("streaming.apply_s", []).append(applied["s"])
            run.layer.setdefault("streaming.compact_s", []).append(s.wall_s - applied["s"])
            run.layer.setdefault("streaming.superseded_frac", []).append(stats["n_superseded"] / stats["n_log_cells"])
        return s.wall_s, errors

    def measure(self) -> None:
        run = self.run
        deadline = time.monotonic() + run.seconds
        n = 0
        while time.monotonic() < deadline or (run.trace and n < self.cfg["min_deltas"]):
            traced = run.trace and n % 2 == 1
            run.unit("unit", lambda: self.delta_unit(traced=traced), timed=not traced)
            n += 1
        self.query.stop()
        self.query = None
        # the run ends with compact_and_apply_log; a traced run repeats it
        # once warm, under a span
        for traced in (False, True) if run.trace else (False,):
            run.unit("compact", lambda: self.compact_unit(traced))

    def layers(self) -> dict:
        run = self.run
        out = {k: median(run.layer.get(k, [])) for k in (
            "streaming.trigger_ms", "streaming.add_batch_ms", "streaming.planning_ms",
            "streaming.commit_ms", "streaming.offset_ms", "streaming.poll_gap_ms",
            "streaming.jobs_per_batch", "streaming.snapshot_amplification",
            "streaming.compact_s", "streaming.apply_s", "streaming.superseded_frac",
        )}
        lat = run.times.get("unit", []) + run.times.get("traced.unit", [])
        value, pct = tail(lat)
        out["streaming.delta_latency_tail_s"] = value
        run.env["delta_latency_tail_percentile"] = pct
        run.env["delta_latency_samples"] = len(lat)
        out["trace.overhead_s"] = median(run.times.get("traced.unit", [])) - median(run.times.get("unit", []))
        return out

    def headline(self) -> float:
        return median(self.run.times.get("unit", []))

    def describe(self) -> dict:
        return {**self.cfg, "snapshot_rows": self.plan.snapshot_rows,
                "deltas": self.i, "rows": self.cfg["delta_rows"]}

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
            self.query = None
