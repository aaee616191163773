"""Evaluate a computed column once for a higher-order-function body.

Spark's higher-order functions (``transform``, ``filter``,
``aggregate``, ``zip_with``) run interpreted: each is a
``CodegenFallback``, and subexpression elimination does not look
inside their lambdas. A lambda body that reads an array which is not
one of its own lambda variables therefore re-evaluates that array's
whole definition on every call, once per element: an n-gram body
that slices ``tokenize(text)`` re-splits the document at every
position. Binding the array as a lambda variable first evaluates it
once per row; the body then reads a plain variable.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def bind(col: Column, body: Callable[[Column], Column]) -> Column:
    """``body(col)`` with ``col`` evaluated once per row: ``col`` is
    the lambda variable of a one-element ``transform``. The value is
    that of ``body(col)``, nulls included."""
    return F.element_at(F.transform(F.array(col), body), 1)
