"""Row-pattern helpers: maximal runs of rows and a group's values in order.

Gaps-and-islands operators (role runs, tool loops, episodes, sessions,
script segments) number the maximal runs of an ordered partition, and
reassembly aggregates (rendered chats, cleaned documents, markdown
tables) need a group's values in key order. Both idioms are written once
here (cf. *High-Performance Row Pattern Recognition Using Joins*, VLDB
2023: one run primitive in place of ad-hoc window chains).

A run is numbered by a running count of run starts over the one ordered
window, never by a ``row_number() − row_number()`` difference: that
difference needs a second window, and so a second sort, for every extra
partition key it groups on.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.window import Window, WindowSpec


def conv_window() -> WindowSpec:
    """Turn order within a conversation: ``conv_id`` ORDER BY ``turn_idx``."""
    return Window.partitionBy("conv_id").orderBy("turn_idx")


def changed(col: str, w: WindowSpec) -> Column:
    """Whether ``col`` differs NULL-safely from the previous row of ``w``
    (two NULLs are equal; a partition's first row compares with NULL)."""
    return ~F.lag(col).over(w).eqNullSafe(F.col(col))


def run_ids(w: WindowSpec, starts: Column) -> Column:
    """The 0-based index of each row's maximal run within ``w``'s
    partition (BIGINT). A partition's first row and every row where
    ``starts`` is true open a new run; a NULL ``starts`` does not. One
    running sum over ``w``, so it costs ``w``'s sort and nothing more."""
    opens = (F.row_number().over(w) == 1) | starts
    running = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return F.sum(F.when(opens, 1).otherwise(0)).over(running) - 1


def ordered_list(order: str, value: str | Column) -> Column:
    """Aggregate: the group's ``value``s sorted by ``order`` (ties by
    value). NULL values keep their place, so a caller that drops rows
    passes ``F.when(keep, value)`` and joins with ``array_join`` or
    ``concat_ws``, which skip NULLs."""
    v = F.col(value) if isinstance(value, str) else value
    pair = F.struct(F.col(order).alias("o"), v.alias("v"))
    return F.transform(F.array_sort(F.collect_list(pair)), lambda s: s["v"])
