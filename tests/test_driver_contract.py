"""Pins the driver contract: every queries() entry runs; every
oracle-paired entry matches DuckDB exactly (row count + column names +
sorted normalized values) at sf0.001.  (The driver itself re-checks at
sf0.01; full-scale parity is exercised via ``python -m tools.parity``.)
"""

from __future__ import annotations

import duckdb
import pytest

from tools.parity import TABLES, rows_of

SF_DIR = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def contract():
    import __spark_entry__

    return __spark_entry__.queries(), __spark_entry__.oracle_sql()


@pytest.fixture(scope="module")
def duck():
    con = duckdb.connect()
    for name in TABLES:
        con.execute(f"CREATE VIEW {name} AS SELECT * FROM '{SF_DIR}/{name}.parquet'")
    return con


def test_every_query_has_callable(contract):
    from accountant_pdf_extract_spark.plans.driver_queries import _PRIORITY

    qs, oracles = contract
    # The registry is the 50 scored queries plus the three that bench.py
    # and perfbench time: a query nothing scores or times is dead surface.
    assert set(qs) == set(_PRIORITY) | {
        "q_tokcount", "q_extract_spans", "q_extract_fields"}
    assert set(oracles) <= set(qs)
    # Every query is oracle-paired except the two kernel views, whose
    # gate is the golden-fixture suite (tests/test_golden_spans.py).  A
    # query nothing checks must not be registered.
    kernel_views = {"q_extract_spans", "q_extract_fields"}
    rows_only = set(qs) - set(oracles)
    assert rows_only == kernel_views, (
        f"unchecked: {sorted(rows_only - kernel_views)}, "
        f"missing: {sorted(kernel_views - rows_only)}"
    )


# SHA-256 over (name, NUL, oracle SQL, NUL) of the 50 scored queries, in
# order.  A change here changes the scored contract: update it only on
# purpose, never to make an unrelated edit pass.
SCORED_SQL_SHA256 = (
    "84917820efb9fe77119ce74d3f46d42b1ca07b079a36cf8f356036aa06df13af"
)


def test_scored_slots_pinned(contract):
    """Only the first 50 registered queries are scored: they are
    exactly ``_PRIORITY``, in order, and their oracle SQL is
    byte-identical to the pinned digest."""
    import hashlib

    from accountant_pdf_extract_spark.plans.driver_queries import _PRIORITY

    qs, oracles = contract
    scored = list(qs)[:50]
    assert scored == _PRIORITY
    h = hashlib.sha256()
    for name in scored:
        h.update(name.encode() + b"\0" + oracles[name].encode() + b"\0")
    assert h.hexdigest() == SCORED_SQL_SHA256


def test_oracle_parity(spark, contract, duck):
    # Typed comparison through the same pandas/Arrow path the driver uses
    # (Spark toPandas vs DuckDB .df()) — int-kind vs float-kind vs Decimal
    # are distinct, so an uncast HUGEINT sum in an oracle fails here too.
    qs, oracles = contract
    failures = []
    for name, sql in sorted(oracles.items()):
        spd = qs[name](spark, SF_DIR).toPandas()
        dpd = duck.execute(sql).df()
        if sorted(spd.columns) != sorted(dpd.columns):
            failures.append(
                f"{name}: cols {sorted(spd.columns)} != {sorted(dpd.columns)}"
            )
        elif len(spd) != len(dpd):
            failures.append(f"{name}: rows {len(spd)} != {len(dpd)}")
        elif rows_of(spd) != rows_of(dpd):
            failures.append(f"{name}: typed values differ")
    assert not failures, failures


def test_entry_smoke(spark):
    import __spark_entry__

    df = __spark_entry__.entry(spark)
    assert df.count() > 0
    assert df.columns == ["doc_id", "kind", "text", "media_ref", "order"]


@pytest.mark.parametrize("name", ["q_extract_spans", "q_extract_fields"])
def test_kernel_plan_has_one_python_runner(spark, contract, name):
    """Generation is fused into the extraction kernel: one MapInArrow
    (one Python runner per task), one shuffle Exchange (the salted
    proxy repartition, placing each bucket by its id), and, with no
    explicit num_partitions, one task per core."""
    import re

    qs, _ = contract
    plan = qs[name](spark, SF_DIR)._jdf.queryExecution().sparkPlan().toString()
    assert plan.count("MapInArrow") == 1, plan
    exchanges = re.findall(r"Exchange (\w+)\((.*?), (\d+)\)", plan)
    assert len(exchanges) == 1 and plan.count("Exchange") == 1, plan
    kind, key, n = exchanges[0]
    assert kind == "shufflepartitionidpassthrough", plan
    assert key.startswith("direct_shuffle_partition_id(_salt_bucket"), plan
    assert int(n) == spark.sparkContext.defaultParallelism


# Package-level names that no reached non-test file uses, each kept on
# purpose.  Every entry needs its reason.
NAME_ALLOWLIST: dict[str, str] = {
    "parse_pdf": "pages-only view of parse_pdf_full for the PDF unit tests",
}


def test_every_package_module_is_reached():
    """Every package module is imported, directly or through other
    package modules, by a registered query, a job path, the driver
    entry or a script, and every top-level ``def``/``class`` of a
    package module is used in some reached non-test file outside its
    own definition.  A module or name only tests reach is dead surface:
    delete it with its tests.  Static ``ast`` walk, no Spark."""
    import ast
    import collections
    import pathlib

    root = pathlib.Path(__file__).resolve().parent.parent
    pkg = "accountant_pdf_extract_spark"

    def dotted(path):
        parts = path.relative_to(root).with_suffix("").parts
        return ".".join(parts[:-1] if parts[-1] == "__init__" else parts)

    modules = {dotted(p): p for p in (root / pkg).rglob("*.py")}
    roots = [
        root / "__spark_entry__.py",
        root / "bench.py",
        *(root / pkg / "plans" / f"{m}.py"
          for m in ("q_relational", "q_text", "q_tpch", "q_pipeline",
                    "job")),
        root / pkg / "session.py",
        *(p for d in ("tools", "bench", "perfbench")
          for p in (root / d).glob("*.py")),
    ]

    def imported(path):
        for node in ast.walk(ast.parse(path.read_text())):
            if isinstance(node, ast.Import):
                yield from (a.name for a in node.names)
            elif isinstance(node, ast.ImportFrom) and node.module:
                yield node.module
                yield from (f"{node.module}.{a.name}" for a in node.names)

    reached: set[str] = set()
    todo = []

    def reach(name):
        # importing a.b.c runs a/__init__, a/b/__init__ and a/b/c
        parts = name.split(".")
        for i in range(1, len(parts) + 1):
            mod = ".".join(parts[:i])
            if mod in modules and mod not in reached:
                reached.add(mod)
                todo.append(modules[mod])

    for p in roots:
        if p.is_relative_to(root / pkg):
            reach(dotted(p))
        else:
            todo.append(p)
    while todo:
        for name in imported(todo.pop()):
            reach(name)
    unreached = sorted(set(modules) - reached)
    assert not unreached, unreached

    def identifiers(tree):
        for node in ast.walk(tree):
            if isinstance(node, ast.Name):
                yield node.id
            elif isinstance(node, ast.Attribute):
                yield node.attr
            elif isinstance(node, ast.alias):
                yield node.name.rsplit(".", 1)[-1]

    # every use of an identifier in a reached non-test file, minus the
    # uses inside the definition itself (recursion does not reach it)
    uses = collections.Counter()
    defs = []
    files = [modules[m] for m in reached] + [
        p for p in roots if not p.is_relative_to(root / pkg)]
    for path in files:
        if path.name.startswith("test_"):
            continue
        tree = ast.parse(path.read_text())
        uses.update(identifiers(tree))
        if path.is_relative_to(root / pkg):
            defs += [(path, node) for node in tree.body if isinstance(
                node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))]

    def registered(node):
        # the registry is a root: queries() hands every entry out by name
        return any(isinstance(d, ast.Call) and getattr(d.func, "id", "")
                   == "register" for d in node.decorator_list)

    unused = sorted(
        f"{path.relative_to(root)}:{node.lineno} {node.name}"
        for path, node in defs
        if node.name not in NAME_ALLOWLIST and not registered(node)
        and uses[node.name] == list(identifiers(node)).count(node.name)
    )
    assert not unused, unused
    stale = sorted(set(NAME_ALLOWLIST) - {node.name for _, node in defs})
    assert not stale, stale
