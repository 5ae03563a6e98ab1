"""``let``: evaluate a subexpression once per row (ARCHITECTURE §1).

``get(transform(array(value), body), 0)``. The one-element array is never
NULL, so a NULL ``value`` reaches ``body`` as NULL. The body is
interpreted (``CodegenFallback``), not compiled by whole-stage codegen.
"""

from __future__ import annotations

from typing import Callable

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """``body(v)`` with ``v`` bound to ``value``, evaluated once per row."""
    return F.get(F.transform(F.array(value), body), 0)
