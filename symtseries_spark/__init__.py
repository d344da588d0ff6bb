"""symtseries_spark — a PySpark-native SAX time-series analytics engine.

Re-expresses the capabilities of Quadrocube/symtseries (SAX encoding,
sliding-window words, MINDIST similarity search) as Spark DataFrame/SQL
operators, plus data-pipeline operations (dedup, similarity search, text
analysis, multimodal columns).

Everything on the hot path is a JVM-side Column expression: window
aggregates, CASE chains, sums unrolled at a plan-time length, and
higher-order array functions where no length is fixed. Python appears
only in the streaming state handlers and the multimodal decode stubs,
always Arrow-batched.

Public surface::

    from symtseries_spark import functions as SF    # column expressions
    from symtseries_spark import operators as ops   # DataFrame operators
    from symtseries_spark.streaming import sliding_sax_stream
    from symtseries_spark import pykernel           # scalar reference twin
"""

from __future__ import annotations

__version__ = "0.1.0"

from . import constants, functions, operators, pykernel, sources, streaming

__all__ = [
    "__version__",
    "constants",
    "functions",
    "operators",
    "pykernel",
    "sources",
    "streaming",
]
