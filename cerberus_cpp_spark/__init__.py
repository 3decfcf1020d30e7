"""cerberus_cpp_spark — a PySpark-native schema + constraint
validation engine with the capabilities of dokempf/cerberus-cpp.

Two execution paths share one schema front-end:

- :class:`Validator` — the dynamic document interpreter (driver-side
  meta-validation, schemaless fallback, distributed via mapInArrow).
- :class:`TableValidator` (``plans.engine``) — the columnar compiler:
  a whole schema fused into ONE Spark ``select`` of Column
  predicates producing a violations array per row; the 100 TB path.
"""

from .errors import (
    CerberusError,
    DocumentError,
    SchemaError,
    ValidationErrorItem,
)
from .dynamic.interpreter import Priority, Validator
from .functions.pytypes import UNDEFINED, TypeAdapter

__all__ = [
    "CerberusError",
    "DocumentError",
    "Priority",
    "SchemaError",
    "TypeAdapter",
    "UNDEFINED",
    "ValidationErrorItem",
    "Validator",
]

__version__ = "0.1.0"
