"""functions subpackage."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def _let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(value)`` with ``value`` evaluated once per row.

    Catalyst eliminates common subexpressions only in a Project without
    higher-order functions; a Filter or a Generate (explode) evaluates
    every occurrence of a repeated subexpression again. Here ``value``
    is bound to a lambda variable instead: a one-element array is
    transformed by ``body`` and its only element taken, so ``body`` may
    name the value any number of times at the cost of one evaluation.
    NULL passes through as NULL, as it would inline."""
    return F.transform(F.array(value), body)[0]
