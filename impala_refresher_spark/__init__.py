"""impala_refresher_spark — a PySpark-native analytics engine.

A from-scratch engine with the capabilities of the reference
``rickysaltzer/impala-refresher`` (a concurrent Impala catalog-refresh
CLI — see ``/root/reference/impala-refresher.go``), re-expressed
Spark-first, plus the full relational / streaming / LLM-data-pipeline
surface inventoried in SURVEY.md §2.

Design principles (100 TB scale):

- Declare plans with the DataFrame/SQL API and let Catalyst + Tungsten
  pick physical strategies (predicate pushdown, column pruning,
  broadcast-join selection, whole-stage codegen, AQE come free).
- Broadcast small dimension tables explicitly; shuffle only on keys
  that genuinely need it; AQE handles skew and partition coalescing.
- Python stays off the hot path: built-in ``pyspark.sql.functions``
  everywhere possible; Arrow-batched Pandas UDFs when not.
"""

__version__ = "0.1.0"
