"""Expression binding: let-binding for higher-order-function lambdas, and
per-JVM memoization of static expression trees (``per_jvm``).

Catalyst performs common-subexpression elimination inside whole-stage
codegen projections, but NOT inside higher-order-function lambda bodies:
an outer (non lambda-variable) expression spliced into a ``transform`` /
``aggregate`` / ``filter`` lambda is re-evaluated for EVERY element of
the array being traversed.  For cheap outer expressions this is noise;
for an O(len) outer expression it turns a linear traversal quadratic —
word shingling re-ran its ``regexp_extract_all`` tokenizer once per
shingle position (measured 5.1 s -> 0.5 s at sf0.1 after binding, ~10x),
and int8 quantization re-reduced the whole vector once per component.

``let(value, body)`` is SQL's missing LET, built from primitives:
``transform(array(value), v -> body(v))[1]`` — the one-element array
argument is evaluated exactly once, and the lambda variable ``v`` is a
plain bound reference wherever the body uses it.  Nesting works (HOF
lambdas may reference outer lambda variables), so multi-binding is
``let(a, lambda x: let(b, lambda y: ...))``.
"""

from __future__ import annotations

import functools
from typing import Callable, TypeVar

from pyspark import SparkContext
from pyspark.sql import Column
from pyspark.sql import functions as F

T = TypeVar("T")


def let(value: Column, body: Callable[[Column], Column]) -> Column:
    """Evaluate ``value`` once per row and pass the bound reference to
    ``body``.  Use whenever a non-trivial expression would otherwise be
    referenced inside a higher-order-function lambda.

    Caveat: struct FIELD NAMES assigned inside ``body`` (via ``.alias``
    on ``F.struct`` members) do not survive the transform's result type —
    downstream field-by-name access resolves wrong.  Bind only the
    scalar/array computation and build named structs OUTSIDE the let."""
    return F.element_at(F.transform(F.array(value), body), 1)


def per_jvm(build: Callable[..., T]) -> Callable[..., T]:
    """Memoize ``build(*args)`` per Py4J gateway, i.e. per JVM.

    Every node of a Column built in Python is one Py4J round trip, so a
    pipeline that builds its fixed expression trees on each call pays
    hundreds to thousands of round trips per call.  A Column is an
    immutable JVM expression tree that any DataFrame on the same JVM can
    reuse, so a builder whose result depends only on its (hashable)
    arguments runs once per JVM.  Per-call values (a date, a lookup table)
    belong in projected columns that the static trees reference by name.

    The gateway is compared by identity, not ``id()``: a new gateway at a
    recycled address must still rebuild."""
    state: tuple = (None, {})

    @functools.wraps(build)
    def cached(*args):
        nonlocal state
        gateway, trees = state
        if gateway is not SparkContext._gateway:
            gateway, trees = state = (SparkContext._gateway, {})
        if args not in trees:
            trees[args] = build(*args)
        return trees[args]

    return cached
