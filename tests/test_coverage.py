"""SURVEY §2 ↔ registry parity: every `q_*` row in the contract table
must be registered (with an oracle when it claims the hash gate), and
every registered query must appear in the contract — the drift net
between the documented surface and the implemented one."""

from __future__ import annotations

import os

from scripts.coverage_report import build_report

_SURVEY = os.path.join(
    os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "SURVEY.md"
)


def test_survey_and_registry_agree():
    report = build_report(_SURVEY)
    assert report["problems"] == [], "\n".join(report["problems"])
    assert report["survey_queries"] == report["registered_queries"]
    # the only rows-only queries are the declared approximate ones
    # (HLL estimates are sketch-library-specific on both engines)
    assert report["rows_only"] == ["q_agg_approx", "q_agg_hll_merge"]


def test_driver_window_priority_invariants():
    """The driver records only the first ~50 enumeration-order queries
    per round.  Three tiers: (0) names whose latest driver row is red
    must re-record first; (1) the never-driver-recorded evidence debt
    comes next; (2) already-recorded names go last, oldest evidence
    first.  Cheap before expensive within each tier so a time-capped
    driver run records the maximum number of rows."""
    from polybot_data_etl_spark import registry

    names = list(registry.queries())
    tiers = [registry._tier(n) for n in names]
    assert tiers == sorted(tiers), "tier order must be monotonic"
    # each name's status comes from its latest round: green and red
    # are disjoint, and red names lead everything
    assert not (registry._DRIVER_GREEN & registry._DRIVER_RED)
    red = registry._DRIVER_RED & set(names)
    assert set(names[: len(red)]) == red
    assert {n for n in names if registry._tier(n) == 1} == (
        set(names) - registry._DRIVER_GREEN - registry._DRIVER_RED
    )
    for t in (0, 1, 2):
        in_tier = [n for n in names if registry._tier(n) == t]
        costs = [registry._cost_class(n) for n in in_tier]
        assert costs == sorted(costs), "cheap before expensive"
        if t == 2:
            # within a cost class, oldest driver evidence first
            for c in (0, 1):
                rounds = [
                    registry._EVIDENCE_ROUND[n]
                    for n in in_tier
                    if registry._cost_class(n) == c
                ]
                assert rounds == sorted(rounds)


def test_every_registered_query_has_driver_hashable_schema(spark, sf_dir):
    """The driver's differential gate canonicalizes results in pandas —
    it sorts every column before hashing, and a cell holding a list /
    dict / Row is unhashable there (round-5 lesson: `q_embed_whiten`
    returned array<double> and errored the gate with `TypeError:
    unhashable type: 'list'` despite being semantically correct).  Pin
    the invariant: every registered query's RESOLVED schema (lazy —
    no execution) is all-scalar.  Queries that compute per-row arrays
    must emit them long-form (one row per element) or string-joined."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    from polybot_data_etl_spark import registry

    bad: list[str] = []
    for name, fn in registry.queries().items():
        schema = fn(spark, sf_dir).schema
        for field in schema.fields:
            if isinstance(field.dataType, (ArrayType, MapType, StructType)):
                bad.append(f"{name}.{field.name}: {field.dataType.simpleString()}")
    assert bad == [], (
        "driver-unhashable (non-scalar) output columns:\n" + "\n".join(bad)
    )


def test_recorded_set_folds_in_every_committed_driver_green():
    """Regression pin for VERDICT r7 §What's wrong #3 and r8 #1: a
    query that already has driver evidence must never take an
    enumeration-head slot from one that has none.  Greens are read
    here straight from the committed CORRECTNESS_r*.json records (hash
    pass, or declared rows-only pass), independently of the registry's
    own derivation.  Once the never-recorded debt drops below the
    window size the head MUST back-fill with prior greens, so the
    invariant is that a prior green never DISPLACES outstanding debt:
      (a) every never-recorded query precedes every prior-green, and
      (b) the head contains ALL never-recorded queries when debt<50
          (else the first 50 slots are all debt)."""
    import glob
    import json

    from polybot_data_etl_spark import registry

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    greens: set[str] = set()
    for path in sorted(glob.glob(os.path.join(root, "CORRECTNESS_r*.json"))):
        with open(path) as f:
            rows = json.load(f)
        for name, row in rows.items():
            if row.get("hash_match") or (
                row.get("err") == "no_oracle" and row.get("spark_rows", 0) > 0
            ):
                greens.add(name)
    greens &= set(registry.queries())  # ignore since-renamed keys, if any
    red = registry._DRIVER_RED
    names = list(registry.queries())
    debt = [n for n in names if n not in greens and n not in red]
    if debt:
        last_debt_pos = names.index(debt[-1])
        displaced = [
            n for n in names[:last_debt_pos] if n in greens and n not in red
        ]
        assert not displaced, (
            "prior-green queries enumerate BEFORE outstanding evidence "
            f"debt (they would waste driver window slots): {displaced}"
        )
    head = set(names[: max(50, len(red) + len(debt))])
    not_in_head = [n for n in debt[:50] if n not in head]
    assert not not_in_head, (
        "never-recorded queries pushed out of the driver's recording "
        f"window head: {not_in_head}"
    )


def test_endgame_head_backfill_is_not_stale():
    """Regression pin for VERDICT r8 #1: with fewer than 50 queries of
    never-recorded debt, the enumeration head necessarily back-fills
    with prior-green names — that back-fill is CORRECT (the driver
    re-records them as fresh evidence), not staleness.  Simulate the
    <50-debt state explicitly: whatever the current debt is, verify
    the green-displacement invariant holds on a synthetic ordering
    where greens trail all debt, and FAILS on one where a green
    displaces debt — i.e. the check tests the right property."""
    from polybot_data_etl_spark import registry

    names = list(registry.queries())
    greens, red = registry._DRIVER_GREEN, registry._DRIVER_RED
    debt = [n for n in names if n not in greens and n not in red]

    def displaced(order: list[str]) -> list[str]:
        d = [n for n in order if n in debt]
        if not d:
            return []
        last = order.index(d[-1])
        return [n for n in order[:last] if n in greens]

    # Current registry order: no green displaces debt.
    assert displaced(names) == []
    if debt and len(debt) < len(names):
        # Synthetic violation: move one green ahead of the debt tail.
        some_green = next(n for n in names if n in greens)
        bad = [n for n in names if n != some_green]
        bad.insert(max(0, len(debt) - 1), some_green)
        assert displaced(bad) != [], "the displacement check must catch a green ahead of debt"


def _module_private_defs(tree) -> dict:
    """Module-level private names (``_x``, not dunders) bound by a def,
    class or assignment, each with the statements that bind it."""
    import ast

    out: dict = {}
    for st in tree.body:
        if isinstance(
            st, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)
        ):
            names = [st.name]
        elif isinstance(st, (ast.Assign, ast.AnnAssign)):
            targets = st.targets if isinstance(st, ast.Assign) else [st.target]
            names = [
                n.id for t in targets for n in ast.walk(t)
                if isinstance(n, ast.Name)
            ]
        else:
            continue
        for name in names:
            if name.startswith("_") and not name.startswith("__"):
                out.setdefault(name, []).append(st)
    return out


def _names_read(tree, skip=()) -> set:
    """Every name ``tree`` reads (a loaded name or attribute, or an
    imported name), ignoring the nodes inside the ``skip`` statements."""
    import ast

    skipped = {id(n) for st in skip for n in ast.walk(st)}
    read: set = set()
    for n in ast.walk(tree):
        if id(n) in skipped:
            continue
        if isinstance(n, ast.Name) and isinstance(n.ctx, ast.Load):
            read.add(n.id)
        elif isinstance(n, ast.Attribute) and isinstance(n.ctx, ast.Load):
            read.add(n.attr)
        elif isinstance(n, ast.ImportFrom):
            read.update(a.name for a in n.names)
    return read


def test_no_dead_private_module_names():
    """Dead-name lint: every module-level private name of the package
    must be read somewhere in the package or in tests/, outside its own
    definition — a constant, helper or class nothing reads is dormant
    code."""
    import ast
    import glob

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pkg = os.path.join(root, "polybot_data_etl_spark")
    files = glob.glob(os.path.join(pkg, "**", "*.py"), recursive=True)
    tests = os.path.join(root, "tests")
    files += glob.glob(os.path.join(tests, "**", "*.py"), recursive=True)
    trees = {}
    for path in files:
        with open(path) as f:
            trees[path] = ast.parse(f.read(), path)
    read = {path: _names_read(tree) for path, tree in trees.items()}
    dead = []
    for path, tree in trees.items():
        if not path.startswith(pkg + os.sep):
            continue
        for name, defs in _module_private_defs(tree).items():
            if any(name in r for p, r in read.items() if p != path):
                continue
            if name not in _names_read(tree, skip=defs):
                dead.append(f"{os.path.relpath(path, root)}: {name}")
    assert not dead, "unread private module names:\n" + "\n".join(sorted(dead))
