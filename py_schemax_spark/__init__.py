"""py_schemax_spark — a from-scratch PySpark-native schema + constraint
validation engine with the capabilities of ``gauthamchettiar/py-schemax``
(reference at /root/reference), lifted from metadata-level checks to
data-level checks over web-page tables at cluster scale.

The reference validates schema *definition files* with Pydantic
(``py_schemax/validator.py``); this engine validates *data* against
declarative constraint specs compiled to vectorized DataFrame plans:

- column stats in one salted aggregation pass (SURVEY.md §2 V1)
- uniqueness via hash-repartitioned groupBy + window attribution (V3)
- referential integrity via broadcast anti-joins (V4)
- distribution drift: exact counts against a baseline quantile grid,
  PSI/KS on the driver
- violation rows ``(url, constraint_id, observed, expected)`` — the
  data-level analogue of the reference's ValidationErrorSchema
  (``py_schemax/schema/validation.py:11-26``)

Everything is DataFrame-API expressible: the byte-identical text
extraction check is codegen'd JVM expressions and drift is one JVM
aggregation, so a ``validate`` run starts no Python worker.
"""

__version__ = "0.4.0"
