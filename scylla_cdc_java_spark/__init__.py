"""scylla_cdc_java_spark — a PySpark-native CDC stream-processing engine.

A from-scratch re-expression of the capabilities of scylladb/scylla-cdc-java
(the reference library at /root/reference) on top of Apache Spark:

* the CDC event data model (stream ids, TIMEUUID change times, operation
  types, the ``cdc$*`` envelope) as DataFrame schemas + native column
  expressions (``model/``, ``functions/``),
* the consumer pipeline (windowed source scan, per-stream ordering, dedup,
  confidence window, checkpointing) as batch DataFrame operators and a
  Structured Streaming consumer (``operators/``, ``sources/``,
  ``streaming/``),
* the replicator (change application: insert/update/delete/range-delete/
  partition-delete/collection-delta/pre-post-image) as a distributed
  merge kernel (``operators/apply.py``),
* plus the large-scale training-data pipeline surface (dedup families,
  similarity search, text analysis, multimodal columns) in ``pipeline/``.

Everything is DataFrame-first: logical plans are declared with the
PySpark DataFrame/SQL API so Catalyst can push filters, prune columns
and pick join strategies; Python UDFs are confined to Arrow-batched
pandas kernels (``mapInPandas``/``applyInPandas``) where built-in
operators cannot express the semantics (the ordered stateful apply).
"""

__version__ = "0.1.0"
