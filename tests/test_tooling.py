"""Repository tooling checks: no dead module-level definitions in the
package, bench.py or scripts/, no persist/cache calls in operators or
plans, no plan-selector parameters on operators, the gate registry's
pinned oracle texts, and the gate checker (scripts/gate.py): its row
canonicalization, multiset row diff, oracle type-widening check and
per-gate verdicts."""

import ast
import hashlib
import importlib.util
import json
import re
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
PACKAGE = REPO / "osmflat_rs_spark"
_SKIP_DIRS = {"__pycache__", "spark-warehouse", "metastore_db"}


def _repo_py_files():
    for path in sorted(REPO.rglob("*.py")):
        rel = path.relative_to(REPO).parts
        if any(p.startswith(".") or p in _SKIP_DIRS for p in rel[:-1]):
            continue
        yield path


def test_no_unreferenced_module_level_defs():
    """Every module-level function or class in the package, bench.py and
    scripts/ is named somewhere in the repo's Python besides its own
    definition (a call, an import, a test, or a docstring pointing at
    it). A definition nothing names is dead code: delete it or use it."""
    texts = {p: p.read_text(encoding="utf-8") for p in _repo_py_files()}
    dead = []
    scanned = [*PACKAGE.rglob("*.py"), REPO / "bench.py", *(REPO / "scripts").glob("*.py")]
    for path in sorted(scanned):
        tree = ast.parse(texts[path], filename=str(path))
        for node in tree.body:
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                continue
            word = re.compile(rf"\b{re.escape(node.name)}\b")
            # the definition itself is one occurrence in its own module
            mentions = sum(len(word.findall(t)) for t in texts.values())
            if mentions <= 1:
                dead.append(f"{path.relative_to(REPO)}:{node.lineno} {node.name}")
    assert not dead, "module-level definitions named nowhere else:\n" + "\n".join(dead)


def test_operators_do_not_persist():
    """Operators and the plans they build on (``plans/``) materialize
    through local checkpoints only: a ``persist``/``cache`` call pins
    blocks in the session CacheManager until someone unpersists them,
    and an ``unpersist`` is dead without one."""
    found = []
    for path in sorted([*(PACKAGE / "operators").rglob("*.py"), *(PACKAGE / "plans").rglob("*.py")]):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Call)
                and isinstance(node.func, ast.Attribute)
                and node.func.attr in ("persist", "cache", "unpersist")
            ):
                found.append(f"{path.relative_to(REPO)}:{node.lineno} .{node.func.attr}(")
    assert not found, "persist/cache calls in operators or plans:\n" + "\n".join(found)


def test_operators_take_no_plan_selector_options():
    """An operator picks its own physical plan (from its input, or the one
    branch its callers run), so no operator function takes a
    ``pre_reduce`` or ``broadcast_*`` parameter. The one exception is
    knn's ``broadcast_cover``: the bucketed-layout path keeps it until
    its cover is reworked."""
    allowed = {("knn.py", "broadcast_cover")}
    found = []
    for path in sorted((PACKAGE / "operators").rglob("*.py")):
        tree = ast.parse(path.read_text(encoding="utf-8"), filename=str(path))
        for node in ast.walk(tree):
            if not isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                continue
            a = node.args
            for arg in [*a.posonlyargs, *a.args, *a.kwonlyargs]:
                name = arg.arg
                if (name == "pre_reduce" or name.startswith("broadcast_")) and (
                    path.name,
                    name,
                ) not in allowed:
                    found.append(f"{path.relative_to(REPO)}:{arg.lineno} {name}")
    assert not found, "plan-selector parameters in operators:\n" + "\n".join(found)


def test_oracle_sql_fingerprints():
    """Every ``oracle_sql()`` text hashes (sha256) to its entry in
    tests/oracle_fingerprints.json, and ``queries()`` lists the gates in
    the recorded order. Results recorded against a gate stay comparable
    only while its oracle text is unchanged; an intended change updates
    the JSON in the same commit."""
    import __spark_entry__ as entry

    pinned = json.loads((REPO / "tests" / "oracle_fingerprints.json").read_text(encoding="utf-8"))
    assert list(entry.queries()) == pinned["queries"]
    got = {k: hashlib.sha256(v.encode()).hexdigest() for k, v in entry.oracle_sql().items()}
    assert got == pinned["oracle_sql_sha256"]


def _load_gate():
    spec = importlib.util.spec_from_file_location("gate", REPO / "scripts" / "gate.py")
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


def test_gate_counts_multiset_difference():
    """One inserted row is one differing row — a positional pairing
    would count every row after the insertion point as different."""
    cb = _load_gate()
    cols = ["k", "v"]
    base = [{"k": i, "v": float(i) / 3} for i in range(10)]
    extra = base[:3] + [{"k": 99, "v": 0.5}] + base[3:]
    a, b = cb.rows_of(base, cols), cb.rows_of(extra, cols)
    assert cb.diff_rows(a, b) == 1
    assert cb.diff_rows(b, a) == 1
    assert cb.diff_rows(a, list(reversed(a))) == 0
    # a duplicated row is a difference; -0.0 vs 0.0 is too (IEEE bytes)
    assert cb.diff_rows(a, a + a[:1]) == 1
    assert cb.diff_rows(cb.rows_of([{"k": 0, "v": 0.0}], cols),
                        cb.rows_of([{"k": 0, "v": -0.0}], cols)) == 2


def test_gate_canon_and_widening():
    """Signed zeros stay apart, NaNs meet, nested lists hash; a DuckDB
    column widened to HUGEINT is flagged."""
    import duckdb

    g = _load_gate()
    assert g.canon(-0.0) != g.canon(0.0)
    assert g.canon(float("nan")) == g.canon(-float("nan"))
    nested = g.canon([[1.0, -0.0], {"a": [2.5]}])
    assert hash(nested) == hash(g.canon([[1.0, -0.0], {"a": [2.5]}]))
    assert nested != g.canon([[1.0, 0.0], {"a": [2.5]}])
    con = duckdb.connect()
    assert g.widened(con.sql("SELECT CAST(1 AS HUGEINT) AS n, 2.5::DOUBLE AS x")) == [
        ("n", "HUGEINT")
    ]
    assert g.widened(con.sql("SELECT CAST(1 AS BIGINT) AS n")) == []


def test_gate_verdicts(spark):
    """q1_pricing matches its oracle, a gate without oracle SQL is
    rows-only, and a perturbed oracle fails with the first differing
    row pair."""
    import __spark_entry__ as entry

    g = _load_gate()
    sf = "/root/testdata/sf0.001"
    con = g.oracle_connection(sf)
    qs, osql = entry.queries(), entry.oracle_sql()
    assert "jenks_events" not in osql
    ok = g.check_gate(spark, con, sf, "q1_pricing", qs["q1_pricing"], osql["q1_pricing"])
    assert ok["verdict"] == "OK" and ok["rows"] > 0 and ok["sec"] >= 0
    ro = g.check_gate(spark, con, sf, "jenks_events", qs["jenks_events"], None)
    assert ro["verdict"] == "rows-only" and ro["rows"] > 0
    bad_sql = osql["q1_pricing"].replace("COUNT(*) AS count_order", "COUNT(*) + 1 AS count_order")
    assert bad_sql != osql["q1_pricing"]
    bad = g.check_gate(spark, con, sf, "q1_pricing", qs["q1_pricing"], bad_sql)
    assert bad["verdict"] == "mismatch"
    assert bad["differing"] == 2 * ok["rows"]
    pair = bad["first"]
    assert pair["oracle"]["count_order"] == pair["spark"]["count_order"] + 1
