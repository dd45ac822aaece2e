"""Shared higher-order-function evaluation discipline.

Spark evaluates HOF lambdas (``transform``/``filter``/``aggregate``)
interpreted, and CollapseProject inlines any COLUMN reference inside a
lambda as the full upstream expression — re-evaluated at every
reference.  A LAMBDA VARIABLE, by contrast, is bound once per row.
``let`` turns the former into the latter structurally (the streaming
pair generator's fix, ``streaming/ingest.py``; measured there at 52 s →
6 s on 175k turns).
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def let(bound: Column, body) -> Column:
    """Evaluate ``bound`` ONCE per row and pass it to ``body`` as a
    higher-order-function lambda variable (a `let` binding via
    transform-over-singleton-array)."""
    return F.element_at(F.transform(F.array(bound), body), 1)
