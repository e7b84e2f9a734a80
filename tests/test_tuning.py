"""Runtime session-conf scoping (mvrepair.tuning.scoped_conf).

Properties pinned:
- an operator that scopes a conf leaves the shared session's AQE,
  shuffle-partition and AQE-under-cache settings exactly as it found
  them, also when it raises part-way (a missing column);
- ``scoped_conf`` restores a prior value and unsets a key that was unset;
- no module changes a session conf outside ``scoped_conf`` except the
  four documented one-way sets.
"""

from __future__ import annotations

import ast
from collections import Counter
from pathlib import Path

import pytest

from mvrepair.operators import dedup as D
from mvrepair.operators import linkage as L
from mvrepair.operators import selection as SEL
from mvrepair.operators import similarity as S
from mvrepair.tuning import scoped_conf

ROOT = Path(__file__).resolve().parents[1]

SCOPED_KEYS = (
    "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
    "spark.sql.adaptive.enabled",
    "spark.sql.shuffle.partitions",
)


def _docs(spark):
    return spark.createDataFrame(
        [(1, "a b c d e f", "train"), (2, "a b c d e g", "test")],
        "doc_id long, text string, split string",
    )


def _vecs(spark):
    return spark.createDataFrame(
        [(1, [0.1, 0.2]), (2, [0.2, 0.1])], "vec_id long, embedding array<double>"
    )


def _edges(spark):
    return spark.createDataFrame([(1, 2), (2, 3)], "src long, dst long")


def _nodes(spark):
    return spark.createDataFrame([(1,), (2,), (3,)], "id long")


OPERATORS = {
    "ngram_jaccard_pairs": lambda s: D.ngram_jaccard_pairs(
        _docs(s), text_col="missing"
    ),
    "contamination_check": lambda s: D.contamination_check(
        _docs(s), text_col="missing"
    ),
    "minhash_calibration": lambda s: D.minhash_calibration(
        _docs(s), text_col="missing"
    ),
    "semantic_dedup": lambda s: S.semantic_dedup(
        _vecs(s), [[100_000, 200_000]], vec_col="missing"
    ),
    "pagerank_micro": lambda s: L.pagerank_micro(
        _edges(s), _nodes(s), id_col="missing"
    ),
    "label_communities": lambda s: L.label_communities(
        _edges(s), _nodes(s), id_col="missing"
    ),
    "connected_components": lambda s: D.connected_components(
        s.createDataFrame([(1, 2)], "id_a long, id_b long"),
        _docs(s),
        id_col="missing",
    ),
    "kcenter_select": lambda s: SEL.kcenter_select(
        _vecs(s), k=1, vec_col="missing"
    ),
    "mmr_select": lambda s: SEL.mmr_select(_vecs(s), k=1, vec_col="missing"),
}


def _snapshot(spark):
    return {k: spark.conf.get(k) for k in SCOPED_KEYS}


@pytest.fixture
def _restore_scoped_keys(spark):
    """Put the keys back after each case, so one operator's leak cannot
    mask the next one's (a leaked value would become its baseline)."""
    raw = {k: spark.conf.get(k, None) for k in SCOPED_KEYS}
    yield
    for k, v in raw.items():
        if v is None:
            spark.conf.unset(k)
        else:
            spark.conf.set(k, v)


@pytest.mark.parametrize("name", sorted(OPERATORS))
def test_operator_leaves_session_confs_unchanged_on_error(
    spark, _restore_scoped_keys, name
):
    before = _snapshot(spark)
    with pytest.raises(Exception):
        OPERATORS[name](spark)
    assert _snapshot(spark) == before


def test_scoped_conf_restores_set_and_unsets_unset(spark):
    set_key, unset_key = "spark.sql.shuffle.partitions", "mvrepair.test.k"
    old = spark.conf.get(set_key)
    assert spark.conf.get(unset_key, None) is None
    with pytest.raises(RuntimeError):
        with scoped_conf(spark, {set_key: "7", unset_key: "v"}):
            assert spark.conf.get(set_key) == "7"
            assert spark.conf.get(unset_key) == "v"
            raise RuntimeError("boom")
    assert spark.conf.get(set_key) == old
    assert spark.conf.get(unset_key, None) is None


# (file, key) -> count of the session conf sets that are deliberately
# one-way; each call site documents why the session-wide set is safe.
ONE_WAY_SETS = Counter({
    ("mvrepair/sources/parquet.py", "spark.sql.legacy.parquet.nanosAsLong"): 2,
    ("mvrepair/operators/layout.py",
     "spark.sql.legacy.bucketedTableScan.outputOrdering"): 1,
    ("__spark_entry__.py", "spark.sql.python.filterPushdown.enabled"): 1,
})


def _conf_writes(path: Path):
    """(enclosing function, first argument) of every ``conf.set(`` /
    ``conf.unset(`` call in ``path``."""
    tree = ast.parse(path.read_text())
    out = []

    def visit(node, func):
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                visit(child, child.name)
                continue
            if (
                isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr in ("set", "unset")
                and (
                    (isinstance(child.func.value, ast.Attribute)
                     and child.func.value.attr == "conf")
                    or (isinstance(child.func.value, ast.Name)
                        and child.func.value.id == "conf")
                )
            ):
                arg = child.args[0] if child.args else None
                key = arg.value if isinstance(arg, ast.Constant) else ast.unparse(arg)
                out.append((func, key))
            visit(child, func)

    visit(tree, None)
    return out


def test_session_confs_change_only_through_scoped_conf():
    files = sorted((ROOT / "mvrepair").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    found = Counter()
    for path in files:
        rel = path.relative_to(ROOT).as_posix()
        for func, key in _conf_writes(path):
            if rel == "mvrepair/tuning.py" and func == "scoped_conf":
                continue
            found[(rel, key)] += 1
    assert found == ONE_WAY_SETS, (
        "session conf changed outside tuning.scoped_conf: "
        f"{dict(found - ONE_WAY_SETS)}"
    )
