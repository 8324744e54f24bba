"""PySpark-native re-implementation of phrocker/nifi-datasynthesizer.

Schema-driven synthetic data generation (log-synth semantics) as pure
Spark column algebra, plus the large-scale data-pipeline operators
(dedup, similarity search, text analysis, multimodal plumbing) the
reference's users need at 100 TB.
"""

import sys

from pyspark import cloudpickle

from .schema import CompiledSchema, SchemaRegistry, compile_schema, synthesize
from .session import get_spark

# pickle the package's functions by value: the Python workers that
# run them then need not import the package
cloudpickle.register_pickle_by_value(sys.modules[__name__])

__all__ = [
    "CompiledSchema",
    "SchemaRegistry",
    "compile_schema",
    "synthesize",
    "get_spark",
]
