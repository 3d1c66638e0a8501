"""tower_parse_spark — a PySpark-native analytics engine.

A ground-up rebuild of the query and data-processing capabilities of the
``alexavr/tower_parse`` reference pipeline (TCP line stream -> regex
projection -> typed columns -> per-group count-based packs -> columnar
compressed sink), re-expressed Spark-first:

- batch: DataFrame/SQL plans optimized by Catalyst,
- streaming: Structured Streaming with stateful exact-count packing,
- plus the relational + LLM-data-pipeline surface (dedup, similarity
  search, text analysis, multimodal columns) the reference defers to its
  downstream server.

Nothing here is a translation of the reference's imperative code; citations
in docstrings (``readport.py:NNN``) identify the *behavior* being matched.
"""

__version__ = "0.1.0"

from tower_parse_spark.session import get_spark  # noqa: F401
