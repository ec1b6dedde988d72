"""Column-expression helpers shared by the operator modules."""

from __future__ import annotations

from pyspark.sql import Column
import pyspark.sql.functions as F


def let(val: Column, body) -> Column:
    """Expression-level ``let``: evaluate ``val`` ONCE per row and bind it
    as a lambda variable in ``body``.

    Spark evaluates non-lambda-variable subexpressions captured inside a
    higher-order-function lambda PER ARRAY ELEMENT (there is no
    subexpression cache across lambda invocations). Any transform that
    reads its input array through ``element_at`` inside a lambda — e.g.
    every geometric permutation in ``operators.augment`` — would therefore
    re-evaluate a *composed* input expression n times per row: O(n²) per
    image for a chained policy. Binding the input through a 1-element array
    transform makes it a lambda VARIABLE, which is a cheap per-element slot
    read. Catalyst still fuses the whole chain into one projection."""
    return F.element_at(F.transform(F.array(val), body), 1)
