"""gmall_flink_200621_spark — a PySpark-native analytics engine.

A from-scratch rebuild of the *query and data-processing capabilities* of the
reference repo ``atguigu-WHAlex/gmall-flink-200621`` (Flink 1.10 DataStream
e-commerce analytics), re-expressed Spark-first:

- every pipeline is a declarative DataFrame/SQL plan (Catalyst optimizes);
- streaming variants use Structured Streaming with watermarks;
- the handful of semantics Spark lacks natively (per-key timers, CEP,
  side outputs) live in ``streaming/stateful.py`` as
  ``applyInPandasWithState`` functions and in batch as window-function
  rewrites (``operators/cep.py``);
- beyond-reference training-data operators (dedup, similarity search,
  text analysis) live under ``operators/``.

See SURVEY.md at the repo root for the full operator inventory this package
implements (§2) and the build plan it follows (§7).
"""

__version__ = "0.1.0"
