"""kdcloganalyzer_spark — a PySpark-native analytics engine.

A from-scratch reimplementation of the query surface of the reference
Hadoop MapReduce engine (cg2v/kdcloganalyzer) on Apache Spark, plus the
relational + LLM-data-pipeline operators a large-scale training-data
pipeline needs (SURVEY.md §2).

Design rules (SURVEY.md §0, §4):
- DataFrame/SQL first; Catalyst owns the physical plan.
- Python UDFs only where built-in functions can't express the semantics,
  and then always Arrow-batched (pandas_udf / mapInPandas).
- Every operator id in SURVEY.md §2 maps to ``plans.registry.QUERIES``.

Logging: modules log through ``logging.getLogger(__name__)``, children of
the package logger ``kdcloganalyzer_spark``. The package installs no
handler, so a best-effort handler that swallows an exception still shows
it (with its traceback) on stderr through logging's last-resort handler,
unless the application configures logging itself.
"""

__version__ = "0.1.0"
