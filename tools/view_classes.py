"""Classify every view-SQL literal of the repository with the incremental
MV classifier (``views/incremental.py::classify_view_sql``), so two
checkouts' classifications can be diffed:

    PYTHONPATH=<checkout-a> python tools/view_classes.py --root <checkout-b> > a.jsonl
    PYTHONPATH=<checkout-b> python tools/view_classes.py --root <checkout-b> > b.jsonl
    python tools/view_classes.py --diff a.jsonl b.jsonl

The literals are every string constant starting with SELECT in
``tests/``, ``iceberg_rust_custom_spark/queries.py``, ``tools/mv_ladder.py``
and ``perfbench/workloads.py`` under ``--root`` (f-strings are skipped:
their text is only known at run time). Each output line is one SQL and
its plan, or null.

``--diff`` sorts each SQL into one class and exits 1 when any falls
outside the first four:

* ``same`` — identical plans;
* ``relations-added`` — a single-table plan that now carries ``relations``;
* ``agg-recompute-folded`` — a plan of the removed single-table
  recompute mode that became the n = 1 ``joinN_agg`` plan with the same
  relation, group keys and probe, its key sources mapped ``("col", c)`` →
  ``(0, c)``, ``("dtrunc", c, u)`` → ``(0, c, u)``, ``("opaque",)`` →
  ``None``;
* ``newly-classified`` — None before, a plan after;
* ``other`` — anything else, including a plan that became None.

A classifier that reads Spark's parsed plan runs under a local session."""

from __future__ import annotations

import ast
import dataclasses
import json
import os
import re
import sys

_FILES = (
    "iceberg_rust_custom_spark/queries.py",
    "tools/mv_ladder.py",
    "perfbench/workloads.py",
)


def _literals(root: str) -> list[str]:
    paths = [os.path.join(root, f) for f in _FILES]
    tests = os.path.join(root, "tests")
    paths += sorted(
        os.path.join(tests, f) for f in os.listdir(tests) if f.endswith(".py")
    )
    out: set[str] = set()
    for path in paths:
        with open(path) as fh:
            tree = ast.parse(fh.read())
        joined = {
            id(v) for n in ast.walk(tree) if isinstance(n, ast.JoinedStr) for v in n.values
        }
        for node in ast.walk(tree):
            if (
                isinstance(node, ast.Constant)
                and isinstance(node.value, str)
                and id(node) not in joined
                and re.match(r"\s*SELECT\b", node.value, re.IGNORECASE)
            ):
                out.add(node.value)
    return sorted(out)


def classify(root: str) -> None:
    import inspect

    from iceberg_rust_custom_spark.views.incremental import classify_view_sql

    # a classifier that reads Spark's parsed plan takes the session first;
    # an older text-only one takes the SQL alone
    session = ()
    if "spark" in inspect.signature(classify_view_sql).parameters:
        from iceberg_rust_custom_spark.session import get_spark

        session = (get_spark("view_classes", shuffle_partitions=1),)
    for sql in _literals(root):
        try:
            plan = classify_view_sql(*session, sql)
        except Exception as e:  # a literal that is not a view SQL
            plan = {"error": type(e).__name__}
        if dataclasses.is_dataclass(plan):
            plan = dataclasses.asdict(plan)
        print(json.dumps({"sql": sql, "plan": plan}, sort_keys=True))


def _fold_key_source(ks):
    if ks[0] == "col":
        return [0, ks[1]]
    if ks[0] == "dtrunc":
        return [0, ks[1], ks[2]]
    return None


def _kind(a, b) -> str:
    if a == b:
        return "same"
    if a is None:
        return "newly-classified"
    if b is None or "error" in a or "error" in b:
        return "other"
    if a["mode"] != b["mode"]:
        want = dict(
            a,
            mode="joinN_agg",
            relations=[a["relation"]],
            key_sources=[_fold_key_source(k) for k in a["key_sources"]],
        )
        return "agg-recompute-folded" if want == b else "other"
    if not a["relations"] and dict(a, relations=[a["relation"]]) == b:
        return "relations-added"
    return "other"


def diff(path_a: str, path_b: str) -> int:
    def load(p):
        with open(p) as fh:
            return {r["sql"]: r["plan"] for r in map(json.loads, fh)}

    a, b = load(path_a), load(path_b)
    counts: dict[str, int] = {}
    bad = 0
    for sql in sorted(set(a) | set(b)):
        if sql not in a or sql not in b:
            print(f"missing on one side: {sql!r}")
            bad += 1
            continue
        kind = _kind(a[sql], b[sql])
        counts[kind] = counts.get(kind, 0) + 1
        if kind not in ("same", "relations-added"):
            print(f"{kind}: {' '.join(sql.split())}")
            if kind == "other":
                print(f"    before: {a[sql]}\n    after:  {b[sql]}")
                bad += 1
    print(json.dumps(counts, sort_keys=True))
    return 1 if bad else 0


def main() -> None:
    args = sys.argv[1:]
    if args[:1] == ["--diff"]:
        sys.exit(diff(args[1], args[2]))
    root = args[args.index("--root") + 1] if "--root" in args else os.path.dirname(
        os.path.dirname(os.path.abspath(__file__))
    )
    classify(root)


if __name__ == "__main__":
    main()
