"""flink_rc_spark — a PySpark-native analytics engine.

A brand-new engine (not a port) with the query and data-processing
capabilities of the reference ``h4nek/flink-rc`` (Reservoir Computing /
Echo State Networks on Apache Flink), re-expressed Spark-first:

- relational surface: DataFrame/SQL + Catalyst (``operators/``,
  ``functions/``) — every query declared in the registry with a DuckDB
  oracle;
- streaming surface: Structured Streaming (``streaming/``);
- RC/ML surface: stateful recurrence + readout fitting (``rc/``) —
  the reference's ESN pipeline (its ``rc_core``/``lm`` modules,
  SURVEY.md §2.1 R4–R8) rebuilt on applyInPandas /
  applyInPandasWithState;
- LLM-data-pipeline surface: dedup / similarity / text analysis /
  multimodal plumbing (``llm/``).

Reference provenance: /root/reference was empty when this engine was
designed (SURVEY.md §0); reference citations in docstrings use the
survey's [K:*] expected paths, not verified line numbers.
"""

__version__ = "0.1.0"

from flink_rc_spark.registry import REGISTRY, register, get_queries, get_oracles  # noqa: F401
