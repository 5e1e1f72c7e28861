"""Shared physical-plan introspection: ONE copy of the formatted-explain
incantation and ONE exchange classification, consumed by both the PLANS.md
audit (tools/explain_audit.py) and the plan-shape tests (tests/test_plans.py,
tests/test_dedup.py).

Both exchange counts come from one partition of one list, so PLANS.md and
the tests cannot disagree about what counts as a shuffle.
"""

from __future__ import annotations

import re


def formatted_plan(df) -> str:
    """The ``explain('formatted')`` text via the same JVM entry point
    ``DataFrame.explain`` uses. ``PythonSQLUtils`` is a private PySpark API —
    when an upgrade moves it, this is the only line to update."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")


def count_op(plan: str, op: str) -> int:
    """Occurrences of a physical operator in the plan's detail sections
    ("(5) Exchange" lines — not tree echoes)."""
    return len(re.findall(rf"^\(\d+\) {op}", plan, re.M))


_GUARD_ARGS = re.compile(
    r"^Arguments: (?:hashpartitioning\((?:[\w.]+#\d+L?, )+\d+\)"
    r"|RoundRobinPartitioning\(\d+\)), REPARTITION_BY_NUM", re.M)
# what Spark pushes below a repartition: pruning, filter pushdown (a filter
# on a Python UDF result brings its eval node along, e.g. ivf_knn)
_PUSHED_BELOW = {"ArrowEvalPython", "BatchEvalPython", "ColumnarToRow",
                 "Filter", "Project"}


def split_exchanges(plan: str) -> tuple[int, int]:
    """``(data, guard)`` exchange counts from the detail sections.

    guard — the small-scan guard's widening repartitions ONLY
    (``io.scan_min_parallel``: fires when a fixture table arrives in fewer
    splits than cores, structurally absent at production split counts): a
    numbered hash repartition on bare key columns, or round-robin, over a
    file scan through only ``_PUSHED_BELOW`` operators. The
    ``REPARTITION_BY_NUM`` tag alone is not enough: every explicit
    ``repartition(n, ...)`` carries it, e.g. ``salted_repartition`` with
    ``num_partitions`` (hash on a computed salt), a data shuffle. An
    explicit ``repartition(n, col)`` straight over a file scan has the
    guard's shape and counts as one.

    data — every other exchange: hash, range AND SinglePartition (a global
    agg/sort is a real data-dependent shuffle and must stay counted).
    """
    parts = re.split(r"^\((\d+)\) ", plan, flags=re.M)
    details = dict(zip(parts[1::2], parts[2::2]))
    tree = [(len(m[1]), m[2].strip(), m[3]) for m in re.finditer(
        r"^([ :|+\-]*)(\w.*?) \((\d+)\)$", parts[0], re.M)]
    guard = 0
    for i, (depth, name, nid) in enumerate(tree):
        if name != "Exchange" or not _GUARD_ARGS.search(details[nid]):
            continue
        for child_depth, child, cid in tree[i + 1:]:  # down the unary chain
            if child_depth <= depth:
                break
            if "ReadSchema:" in details[cid]:  # a file-format scan
                guard += 1
                break
            if child not in _PUSHED_BELOW:
                break
            depth = child_depth
    n_ex = sum(1 for d in details.values() if d.startswith("Exchange"))
    return n_ex - guard, guard


def n_data_exchanges(plan: str) -> int:
    """Data-dependent exchanges (see ``split_exchanges``)."""
    return split_exchanges(plan)[0]
