"""Array literals from one ``F.lit(np.ndarray)`` (r11 optimization round).

``F.array(*[F.lit(v) for v in vals])`` pays ~4 py4j round trips PER ELEMENT
at plan-build time (807 calls for 200 doubles) plus a CreateArray node per
array for the analyzer/optimizer to walk; the MMD-class queries build
64 × 64-element literal matrices × 3 branches that way — seconds of pure
driver compile cost, constant in data size. ``F.lit(np.ndarray)`` builds ONE
array Literal, but it is not one py4j call: pyspark's ``NumpyArrayConverter``
sets each element of the Java array separately, so it still pays ~2 calls
per element (405 calls for 200 doubles, 7 for one) — half the per-element
form's cost, not a constant. For a long literal LIST in a predicate, a
single SQL expression string (``F.expr("c IN ('a', 'b')")``) is the
constant-cost form (4 calls at any length).

Value semantics are identical: python floats are IEEE doubles either way,
and the integer helpers emit int64, which is what the surrounding
``zip_with`` arithmetic coerces int literals to anyway (every call site
pairs the literal with an ``array<bigint>`` column or casts explicitly).
"""

from __future__ import annotations

from typing import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F


def lit_double_array(vals: Iterable[float]) -> Column:
    """array<double> literal (~2 py4j calls per element, see above)."""
    import numpy as np

    return F.lit(np.asarray(list(vals), dtype=np.float64))


def lit_long_array(vals: Iterable[int]) -> Column:
    """array<bigint> literal (~2 py4j calls per element, see above)."""
    import numpy as np

    return F.lit(np.asarray([int(v) for v in vals], dtype=np.int64))
