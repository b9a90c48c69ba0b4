"""Plan-level helpers and the audit contract.

The engine deliberately ships ZERO custom Catalyst rules (SURVEY.md §4):
every optimization is either expressed declaratively (so Catalyst applies
predicate pushdown, column pruning, partition pruning, broadcast selection,
AQE) or is a physical-layout decision (key-clustered tier files, salted
aggregation, Arrow partition passes). docs/PLANS.md records the audited
physical plans.

One size rule picks between two plan shapes, and it is the only one:
:func:`fits_one_task`. An input whose analyzed size estimate is at most
:data:`ONE_TASK_MAX_BYTES` is coalesced to ONE partition by
``decode_chunks``, ``gapfill`` and ``m4_downsample``, so a small
key-filtered query runs as one task with no exchange; a larger input
keeps the operator's parallel shape. The bound is a constant of this
module, not a Spark setting, and the rule adds no option of its own.

The module also offers :func:`quote_ident` for operators that build
their plans as SQL text, and small helpers for asserting plan properties
in tests and notebooks.
"""

from __future__ import annotations

import contextlib
import io

from pyspark.sql import DataFrame


#: Largest analyzed size estimate that one task takes whole. Measured at
#: local[4] on a 4-vCPU host (one task vs the parallel shape, same JVM,
#: alternating): gapfill and M4 over whole event tables ran as fast or
#: faster in one task up to estimates of 494 KB and 617 KB, and M4 lost
#: at sf0.1's 1.02 MB (0.85 s vs 0.59 s wall); perfbench's key-filtered
#: query inputs estimate 97-192 KB. Without CBO a ``Filter`` keeps its
#: child's estimate, so a key-filtered read counts as its whole table.
ONE_TASK_MAX_BYTES = 512 * 1024


def fits_one_task(df: DataFrame) -> bool:
    """True when ``df``'s analyzed size estimate is at most
    :data:`ONE_TASK_MAX_BYTES`."""
    size = int(df._jdf.queryExecution().analyzed().stats().sizeInBytes())
    return size <= ONE_TASK_MAX_BYTES


def quote_ident(name: str) -> str:
    """``name`` as a SQL identifier: backtick-quoted, inner backticks doubled."""
    return "`" + name.replace("`", "``") + "`"


def formatted_plan(df: DataFrame) -> str:
    """Capture df.explain('formatted') as a string."""
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def assert_plan(df: DataFrame, contains: tuple = (), absent: tuple = ()) -> str:
    """Assert physical-plan properties; returns the plan text for context."""
    plan = formatted_plan(df)
    for frag in contains:
        if frag not in plan:
            raise AssertionError(f"expected {frag!r} in plan:\n{plan}")
    for frag in absent:
        if frag in plan:
            raise AssertionError(f"did not expect {frag!r} in plan:\n{plan}")
    return plan
