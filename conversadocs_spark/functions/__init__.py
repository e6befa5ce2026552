"""Pure column-expression builders (no UDFs unless unavoidable).

Everything here returns pyspark Column expressions evaluated JVM-side,
with no Python worker (array math: see functions/vector.py).
"""

from conversadocs_spark.functions.vector import (  # noqa: F401
    cosine_similarity,
    dot_product,
    l2_norm,
    l2_normalize,
)
