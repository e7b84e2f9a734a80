"""Seeded input generators for the benchmark, with expectations computed
from the generator's own key arithmetic.

Nothing here imports ``mvrepair`` or Spark: inputs are written with
pyarrow, and every expected count (defect classes, JobStats counters,
report records, repair cells, delete keys, Merkle keys, streaming cells,
compaction counts) is derived from the per-key draws below.  The
benchmark's tests recount the same expectations with DuckDB over the
written parquet, so a generator bug cannot hide behind the system under
test.

The base/MV pair models a Cassandra table ``(id, ck)`` and a view keyed
``(grp, id, ck)`` (``grp`` is the promoted column).  Every non-collection
non-key column carries ``__writetime`` (µs) and ``__ttl`` companions, and
``tags`` is a LIST column (no companions, as in Cassandra).
"""

from __future__ import annotations

import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# the report/repair window, in seconds (inclusive); rows whose writetimes
# fall past END are skipped by the windowed reconcile
WINDOW_START_S = 1_600_000_000
WINDOW_END_S = 1_700_000_000

CONS, MISS_MV, MISS_BASE, INC = 0, 1, 2, 3
CLASS_NAMES = {
    MISS_MV: "MISSING_IN_MV_TABLE",
    MISS_BASE: "MISSING_IN_BASE_TABLE",
    INC: "INCONSISTENT",
}

# MV non-key columns, alphabetical (the order plan_upserts iterates)
VALUE_COLS = ("amount", "name", "qty", "tags")
TAG_VOCAB = np.array(["red", "green", "blue", "hot", "cold", "new"], dtype=object)

BASE_PK = ["id", "ck"]
MV_PK = ["grp", "id", "ck"]
LOGICAL_TYPES = {
    "id": "BIGINT",
    "ck": "INT",
    "grp": "TEXT",
    "amount": "DOUBLE",
    "name": "TEXT",
    "qty": "INT",
    "tags": "LIST",
}

_SCALAR_TYPES = {"grp": pa.string(), "amount": pa.float64(), "name": pa.string(), "qty": pa.int32()}


def _schema(columns: list[str]) -> pa.Schema:
    fields = []
    for c in columns:
        if c == "id":
            fields.append(pa.field(c, pa.int64()))
        elif c == "ck":
            fields.append(pa.field(c, pa.int32()))
        elif c == "tags":
            fields.append(pa.field(c, pa.list_(pa.string())))
        else:
            fields += [
                pa.field(c, _SCALAR_TYPES[c]),
                pa.field(f"{c}__writetime", pa.int64()),
                pa.field(f"{c}__ttl", pa.int32()),
            ]
    return pa.schema(fields)


BASE_SCHEMA = _schema(["id", "ck", "grp", "amount", "name", "qty", "tags"])
MV_SCHEMA = _schema(["grp", "id", "ck", "amount", "name", "qty", "tags"])


@dataclass
class MVPair:
    """One generated base/MV pair and everything a correct run must report."""

    n_keys: int
    cls: np.ndarray          # per key: CONS / MISS_MV / MISS_BASE / INC
    oow: np.ndarray          # per key: rows carry out-of-window writetimes
    inc_mask: np.ndarray     # per key: bit i set = VALUE_COLS[i] differs
    base_rows: int
    mv_rows: int
    base_path: str = ""
    mv_path: str = ""
    on_disk_bytes: int = 0
    extra: dict = field(default_factory=dict)

    # -- expectations -------------------------------------------------------
    def class_counts(self) -> dict[str, int]:
        """Defect classes among the keys the window keeps."""
        return {
            name: int(np.sum((self.cls == c) & ~self.oow))
            for c, name in CLASS_NAMES.items()
        }

    def expected_stats(self, repair: bool) -> dict[str, int]:
        """The 15 JobStats counters of a windowed ``runner.run``."""
        k = self.class_counts()
        inc, mb, mm = k["INCONSISTENT"], k["MISSING_IN_BASE_TABLE"], k["MISSING_IN_MV_TABLE"]
        skipped = int(self.oow.sum())
        problems = inc + mb + mm
        return {
            "totRecords": self.n_keys,
            "skippedRecords": skipped,
            "consistentRecords": self.n_keys - skipped - problems,
            "inConsistentRecords": inc,
            "missingBaseTableRecords": mb,
            "missingMvRecords": mm,
            "repairRecords": problems if repair else 0,
            "notRepairRecords": 0 if repair else problems,
            "delAttemptedRecords": mb if repair else 0,
            "delErrRecords": 0,
            "delSuccessRecords": mb if repair else 0,
            "notDelRecords": 0,
            "upsertAttemptedRecords": inc + mm if repair else 0,
            "upsertErrRecords": 0,
            "upsertSuccessRecords": inc + mm if repair else 0,
        }

    def expected_report_records(self) -> dict[str, int]:
        return {n: v for n, v in self.class_counts().items() if v}

    def expected_upsert_cells(self) -> set[tuple[int, str]]:
        """(id, column) of every upsert cell the windowed plan emits."""
        live = ~self.oow
        out = set()
        for k in np.flatnonzero(live & (self.cls == MISS_MV)):
            out.update((int(k), c) for c in VALUE_COLS)
        for k in np.flatnonzero(live & (self.cls == INC)):
            m = int(self.inc_mask[k])
            out.update((int(k), c) for i, c in enumerate(VALUE_COLS) if m >> i & 1)
        return out

    def expected_delete_ids(self) -> set[int]:
        return {int(k) for k in np.flatnonzero(~self.oow & (self.cls == MISS_BASE))}

    def expected_merkle(self) -> dict[int, str]:
        """Window-free divergence: id → status for every defective key."""
        return {int(k): CLASS_NAMES[int(self.cls[k])] for k in np.flatnonzero(self.cls != CONS)}


def key_columns(ids: np.ndarray) -> tuple[np.ndarray, np.ndarray]:
    """(ck, grp) derived from the id alone, so every side agrees."""
    ck = (ids % 7).astype(np.int32)
    grp = np.char.add("g", ((ids * 2654435761) % 97).astype(str)).astype(object)
    return ck, grp


def _values(rng: np.random.Generator, n: int) -> dict[str, np.ndarray]:
    amount = np.round(rng.uniform(0.0, 10_000.0, n), 2)
    name = np.char.add("n", rng.integers(0, 1_000_000, n).astype(str)).astype(object)
    qty = rng.integers(0, 1000, n).astype(np.int32)
    n_tags = rng.integers(0, 4, n)
    picks = rng.integers(0, len(TAG_VOCAB), (n, 3))
    tags = [list(TAG_VOCAB[picks[i, : n_tags[i]]]) for i in range(n)]
    return {"amount": amount, "name": name, "qty": qty, "tags": tags}


def _changed(vals: dict, idx: np.ndarray, mask: np.ndarray, salt: int) -> dict:
    """Copy of ``vals`` at ``idx`` with the masked columns altered."""
    out = {}
    sel = {c: (v[idx] if isinstance(v, np.ndarray) else [v[i] for i in idx]) for c, v in vals.items()}
    bit = {c: (mask >> i) & 1 == 1 for i, c in enumerate(VALUE_COLS)}
    out["amount"] = np.where(bit["amount"], sel["amount"] + 1.0 + salt, sel["amount"])
    out["name"] = np.where(bit["name"], np.char.add(sel["name"].astype(str), f"~{salt}").astype(object), sel["name"])
    out["qty"] = np.where(bit["qty"], sel["qty"] + 1 + salt, sel["qty"]).astype(np.int32)
    out["tags"] = [t + [f"x{salt}"] if b else t for t, b in zip(sel["tags"], bit["tags"])]
    return out


def _table(schema: pa.Schema, ids: np.ndarray, vals: dict, wt: np.ndarray, ttl: np.ndarray) -> pa.Table:
    ck, grp = key_columns(ids)
    cols = {"id": ids.astype(np.int64), "ck": ck, "grp": grp, **vals}
    arrays = []
    for f in schema:
        if f.name.endswith("__writetime"):
            arrays.append(pa.array(wt, pa.int64()))
        elif f.name.endswith("__ttl"):
            arrays.append(pa.array(ttl, pa.int32(), mask=ttl < 0))
        else:
            arrays.append(pa.array(cols[f.name], f.type))
    return pa.Table.from_arrays(arrays, schema=schema)


def write_parts(table: pa.Table, path: str, n_files: int) -> int:
    """Write ``table`` as ``n_files`` parquet files; returns bytes on disk."""
    os.makedirs(path, exist_ok=True)
    n = table.num_rows
    step = max(1, -(-n // n_files))
    total = 0
    for i, start in enumerate(range(0, n, step)):
        f = os.path.join(path, f"part-{i:05d}.parquet")
        pq.write_table(table.slice(start, step), f)
        total += os.path.getsize(f)
    return total


def mv_pair(seed: int, n_keys: int, divergence: float, oow_frac: float = 0.05) -> MVPair:
    """Draw a base/MV pair: ``divergence`` of keys split evenly over the
    three defect classes, ``oow_frac`` of keys written past the window."""
    rng = np.random.default_rng(seed)
    u = rng.random(n_keys)
    third = divergence / 3
    cls = np.select(
        [u < third, u < 2 * third, u < divergence], [MISS_MV, MISS_BASE, INC], CONS
    ).astype(np.int8)
    oow = rng.random(n_keys) < oow_frac
    inc_mask = np.where(cls == INC, rng.integers(1, 16, n_keys), 0).astype(np.int8)
    return MVPair(
        n_keys=n_keys,
        cls=cls,
        oow=oow,
        inc_mask=inc_mask,
        base_rows=int(np.sum(cls != MISS_BASE)),
        mv_rows=int(np.sum(cls != MISS_MV)),
        extra={"seed": seed, "divergence": divergence, "oow_frac": oow_frac},
    )


def write_mv_pair(pair: MVPair, root: str, n_files: int) -> None:
    """Materialize ``pair`` as ``<root>/base`` and ``<root>/mv`` parquet."""
    rng = np.random.default_rng(pair.extra["seed"] + 1)
    n = pair.n_keys
    ids = np.arange(n, dtype=np.int64)
    vals = _values(rng, n)
    wt_s = rng.integers(WINDOW_START_S + 1, WINDOW_END_S - 1, n)
    wt_s = np.where(pair.oow, WINDOW_END_S + 1 + rng.integers(0, 1000, n), wt_s)
    wt = wt_s.astype(np.int64) * 1_000_000 + rng.integers(0, 1_000_000, n)
    ttl = np.where(rng.random(n) < 0.5, -1, 86_400).astype(np.int32)

    b = np.flatnonzero(pair.cls != MISS_BASE)
    m = np.flatnonzero(pair.cls != MISS_MV)
    base = _table(BASE_SCHEMA, ids[b], {c: (v[b] if isinstance(v, np.ndarray) else [v[i] for i in b]) for c, v in vals.items()}, wt[b], ttl[b])
    mv_vals = _changed(vals, m, np.where(pair.cls[m] == INC, pair.inc_mask[m], 0), 0)
    mv = _table(MV_SCHEMA, ids[m], mv_vals, wt[m], ttl[m])
    pair.base_path = os.path.join(root, "base")
    pair.mv_path = os.path.join(root, "mv")
    pair.on_disk_bytes = write_parts(base, pair.base_path, n_files) + write_parts(mv, pair.mv_path, n_files)


# ---------------------------------------------------------------------------
# incremental repair: a static MV snapshot and a sequence of base deltas
# ---------------------------------------------------------------------------

@dataclass
class DeltaPlan:
    """A static MV snapshot plus seeded base-change deltas against it."""

    seed: int
    snapshot_keys: int
    delta_rows: int
    hot_keys: int
    snapshot_path: str = ""
    snapshot_rows: int = 0
    _vals: dict = field(default_factory=dict, repr=False)
    _wt: np.ndarray | None = field(default=None, repr=False)
    # (id, column) → number of cells the log holds for that target
    log_targets: dict = field(default_factory=dict, repr=False)
    log_cells: int = 0

    def write_snapshot(self, root: str, n_files: int) -> None:
        rng = np.random.default_rng(self.seed)
        n = self.snapshot_keys
        ids = np.arange(n, dtype=np.int64)
        self._vals = _values(rng, n)
        self._wt = (rng.integers(WINDOW_START_S, WINDOW_END_S, n) * 1_000_000).astype(np.int64)
        ttl = np.full(n, -1, np.int32)
        self.snapshot_path = os.path.join(root, "mv_snapshot")
        write_parts(_table(MV_SCHEMA, ids, self._vals, self._wt, ttl), self.snapshot_path, n_files)
        self.snapshot_rows = n

    def delta(self, i: int) -> tuple[pa.Table, set[tuple[int, str]]]:
        """Delta ``i``: base rows (distinct ids) and the (id, column) cells
        a correct streaming repair emits for it.

        70% of rows revisit the hot key range ``[0, hot_keys)``; 10% are
        keys past the snapshot (MISSING_IN_MV_TABLE: every column is a
        cell); a quarter of the rest change nothing (CONSISTENT).  Each
        delta's writetimes are later than the last, so a revisited target
        supersedes its earlier cell in the log."""
        rng = np.random.default_rng([self.seed, i + 1])
        m = self.delta_rows
        n_hot, n_new = int(m * 0.7), int(m * 0.1)
        hot = rng.choice(self.hot_keys, n_hot, replace=False)
        cold = rng.choice(np.arange(self.hot_keys, self.snapshot_keys), m - n_hot - n_new, replace=False)
        new = self.snapshot_keys + rng.choice(self.snapshot_keys, n_new, replace=False)
        ids = np.concatenate([hot, cold, new]).astype(np.int64)
        in_snap = ids < self.snapshot_keys
        mask = np.where(rng.random(m) < 0.25, 0, rng.integers(1, 16, m)).astype(np.int8)
        mask = np.where(in_snap, mask, 15).astype(np.int8)

        snap_idx = np.where(in_snap, ids, 0)
        vals = _changed(self._vals, snap_idx, mask, i + 1)
        wt = self._wt[snap_idx] + (i + 1) * 1_000
        ttl = np.where(rng.random(m) < 0.5, -1, 3_600).astype(np.int32)
        table = _table(BASE_SCHEMA, ids, vals, wt, ttl)

        cells = set()
        for k, mk in zip(ids.tolist(), mask.tolist()):
            cells.update((k, c) for j, c in enumerate(VALUE_COLS) if mk >> j & 1)
        return table, cells

    def record(self, cells: set[tuple[int, str]]) -> None:
        for t in cells:
            self.log_targets[t] = self.log_targets.get(t, 0) + 1
        self.log_cells += len(cells)

    def expected_compaction(self) -> dict[str, int]:
        n_applied = len(self.log_targets)
        return {
            "n_log_cells": self.log_cells,
            "n_applied": n_applied,
            "n_superseded": self.log_cells - n_applied,
        }


# ---------------------------------------------------------------------------
# analytics suite: small seeded tables in the registry queries' schemas
# ---------------------------------------------------------------------------

SPAN_W = 10  # span_dedup's tile width, in tokens

WORDS = np.array(
    "the a fast slow big small key order sort table scan merge part window "
    "hash join batch stream spark group query row data filter customer line "
    "value agg column vector dup".split(),
    dtype=object,
)


def analytics_tables(seed: int, scale: int) -> dict[str, pa.Table]:
    """``lineitem``/``orders``/``part``/``embeddings``/``documents`` with
    ``scale`` orders.  Documents share copied spans and embeddings sit in
    ten clusters, so the dedup and clustering queries have work to find
    (``removed_spans`` counts the duplicate spans)."""
    rng = np.random.default_rng(seed)
    n_orders, n_parts = scale, max(50, scale // 8)
    n_items = 4 * n_orders
    epoch = np.datetime64("1995-01-01", "us")

    orders = pa.table({
        "o_orderkey": pa.array(np.arange(1, n_orders + 1), pa.int64()),
        "o_custkey": pa.array(rng.integers(1, max(2, n_orders // 10), n_orders), pa.int64()),
        "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_orders)),
        "o_totalprice": pa.array(np.round(rng.uniform(1e3, 5e5, n_orders), 2)),
        "o_orderdate": pa.array(epoch + rng.integers(0, 2000, n_orders).astype("timedelta64[D]")),
        "o_orderpriority": pa.array(rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_orders)),
    })
    # Four items per order and a fixed, skewed part-popularity histogram
    # (stratified, so every seed gets the same one): the seed only decides
    # which parts share an order, and the co-purchase graph keeps its size.
    u = (np.arange(n_items) + 0.5) / n_items
    partkey = rng.permutation(1 + np.floor(n_parts * u**3)).astype(np.int64)
    lineitem = pa.table({
        "l_orderkey": pa.array(np.repeat(np.arange(1, n_orders + 1), 4), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(1, 100, n_items), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_items), pa.int32()),
        "l_quantity": pa.array(rng.integers(1, 51, n_items).astype(float)),
        "l_extendedprice": pa.array(np.round(rng.uniform(900, 1e5, n_items), 2)),
        "l_discount": pa.array(rng.integers(0, 11, n_items) / 100.0),
        "l_tax": pa.array(rng.integers(0, 9, n_items) / 100.0),
        "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_items)),
        "l_linestatus": pa.array(rng.choice(["O", "F"], n_items)),
        "l_shipdate": pa.array(epoch + rng.integers(0, 2500, n_items).astype("timedelta64[D]")),
    })
    part = pa.table({
        "p_partkey": pa.array(np.arange(1, n_parts + 1), pa.int64()),
        "p_name": pa.array([f"part {i}" for i in range(n_parts)]),
        "p_brand": pa.array(rng.choice([f"Brand#{i}" for i in range(1, 6)], n_parts)),
        "p_type": pa.array(rng.choice(["STEEL", "BRASS", "TIN", "COPPER"], n_parts)),
        "p_size": pa.array(rng.integers(1, 51, n_parts), pa.int32()),
        "p_retailprice": pa.array(np.round(rng.uniform(900, 2000, n_parts), 2)),
    })

    n_vec = max(100, scale // 3)
    centers = rng.normal(0, 1, (10, 64))
    label = rng.integers(0, 10, n_vec)
    vecs = centers[label] + rng.normal(0, 0.35, (n_vec, 64))
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    embeddings = pa.table({
        "vec_id": pa.array(np.arange(n_vec), pa.int64()),
        "embedding": pa.array(list(vecs.astype(np.float32)), pa.list_(pa.float32())),
        "label": pa.array(label, pa.int32()),
    })

    # document lengths and copied spans sit at fixed places; the seed picks
    # the words.  Every 4th doc gets one 10-token tile (span_dedup's tile
    # width) of an odd-numbered doc, which is never itself changed, pasted
    # on a tile boundary, so the copy is a duplicate tile span_dedup removes.
    n_docs = max(60, scale // 5)
    docs = [list(rng.choice(WORDS, 10 + (7 * i) % 81)) for i in range(n_docs)]
    for i in range(0, n_docs, 4):
        src = docs[2 * ((13 * i + 5) % (n_docs // 2)) + 1]
        if len(src) >= 2 * SPAN_W:
            docs[i] = docs[i][:SPAN_W] + src[SPAN_W:2 * SPAN_W] + docs[i][SPAN_W:]
    text = [" ".join(d) for d in docs]
    documents = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": pa.array(text),
        "lang": pa.array(rng.choice(["en", "fr", "es", "zh", "de"], n_docs)),
        "source": pa.array([f"src{i % 20}" for i in range(n_docs)]),
        "n_chars": pa.array([len(t) for t in text], pa.int64()),
    })
    return {"orders": orders, "lineitem": lineitem, "part": part,
            "embeddings": embeddings, "documents": documents}


def removed_spans(texts: list[str]) -> int:
    """Tiles span_dedup must cut: every occurrence of a full
    ``SPAN_W``-token tile beyond its first, corpus-wide."""
    seen: dict[tuple, int] = {}
    for t in texts:
        toks = t.split(" ")
        for j in range(len(toks) // SPAN_W):
            tile = tuple(toks[j * SPAN_W:(j + 1) * SPAN_W])
            seen[tile] = seen.get(tile, 0) + 1
    return sum(n - 1 for n in seen.values())


def write_analytics(seed: int, scale: int, root: str) -> tuple[dict[str, int], int]:
    """Write the analytics tables as ``<root>/<name>.parquet``; returns
    their row counts and the documents' ``removed_spans``."""
    os.makedirs(root, exist_ok=True)
    rows = {}
    tables = analytics_tables(seed, scale)
    for name, table in tables.items():
        pq.write_table(table, os.path.join(root, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows, removed_spans(tables["documents"].column("text").to_pylist())
