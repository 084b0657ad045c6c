"""Single-mechanism guard (Spark-free, ``ast`` only).

Every lineage truncation in the package goes through
``operators/reliability.materialize``, whose durability regime is the
session conf ``spark.graft.materialize`` — so a 100 TB job picks its
fault tolerance once, and no operator can quietly opt out of it. This
test fails if:

- any package module other than ``operators/reliability.py`` calls
  ``localCheckpoint`` / ``checkpoint`` / ``persist`` / ``cache``
  (beyond the one named exemption below), or
- any package function takes a per-call ``materialize`` or
  ``checkpoint_mode`` parameter again.
"""

from __future__ import annotations

import ast
import pathlib

PKG = (
    pathlib.Path(__file__).resolve().parents[1]
    / "apache_hadoop_framework_for_peptide_identification_spark"
)
ENTRY_POINT = "operators/reliability.py"
MATERIALIZING_CALLS = {"localCheckpoint", "checkpoint", "persist", "cache"}
KNOB_PARAMS = {"materialize", "checkpoint_mode"}

# (module, enclosing function, call) -> reason. PageRank's
# non-broadcast edge-factor table must keep its hash partitioning
# across iterations, which only a cached relation preserves (a
# checkpoint leaf reports UnknownPartitioning) — so it is a persist,
# documented in pagerank_int's docstring as the one truncation the
# regime does not govern.
EXEMPT = {
    ("operators/graph.py", "pagerank_int", "persist"): (
        "edge-factor table keeps hash partitioning; a checkpoint cannot"
    ),
}


def _modules():
    for path in sorted(PKG.rglob("*.py")):
        yield path.relative_to(PKG).as_posix(), ast.parse(path.read_text(), str(path))


def _materializing_calls(tree):
    """(enclosing function name, attribute) for every ``x.<attr>(...)``
    call whose attribute is a materializing one."""
    found = []

    def visit(node, func):
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef)):
            func = node.name
        if (
            isinstance(node, ast.Call)
            and isinstance(node.func, ast.Attribute)
            and node.func.attr in MATERIALIZING_CALLS
        ):
            found.append((func, node.func.attr))
        for child in ast.iter_child_nodes(node):
            visit(child, func)

    visit(tree, "<module>")
    return found


def test_materialization_only_through_reliability():
    seen, offenders = set(), []
    for rel, tree in _modules():
        if rel == ENTRY_POINT:
            continue
        for func, attr in _materializing_calls(tree):
            key = (rel, func, attr)
            if key in EXEMPT:
                seen.add(key)
            else:
                offenders.append(f"{rel}:{func} calls .{attr}()")
    assert not offenders, (
        "materialize through operators.reliability.materialize instead: "
        f"{offenders}"
    )
    # a stale exemption hides nothing but still reads as policy
    assert seen == set(EXEMPT), f"unused exemptions: {set(EXEMPT) - seen}"


def test_entry_point_still_materializes():
    """The guard above is vacuous if the entry point itself stops
    being where the calls live."""
    tree = ast.parse((PKG / ENTRY_POINT).read_text())
    attrs = {attr for func, attr in _materializing_calls(tree) if func == "materialize"}
    assert {"localCheckpoint", "checkpoint"} <= attrs


def test_no_per_call_materialization_knobs():
    offenders = []
    for rel, tree in _modules():
        for node in ast.walk(tree):
            if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                a = node.args
                names = {x.arg for x in (*a.posonlyargs, *a.args, *a.kwonlyargs)}
                for bad in sorted(names & KNOB_PARAMS):
                    offenders.append(f"{rel}:{getattr(node, 'name', '<lambda>')}({bad}=)")
    assert not offenders, (
        "durability is the session conf spark.graft.materialize, not a "
        f"per-call parameter: {offenders}"
    )
