"""mapreduce_rust_spark — a PySpark-native analytics engine.

A ground-up re-expression of the capabilities of the reference
``RaldLukka/MapReduce-Rust`` (a coordinator/worker MapReduce framework
executing user map/reduce functions over text files; see SURVEY.md) as
an idiomatic Spark DataFrame engine, extended with the operators a
large-scale LLM-training-data pipeline needs (dedup, similarity
search, text analysis, multimodal columns).

Design center (SURVEY.md §7):

* **DataFrame/Catalyst for everything.** The reference's semantic
  surface is ``map → shuffle-by-key → reduce`` over string KV pairs —
  exactly ``explode → groupBy → agg`` in DataFrame terms. We declare
  logical plans and let Catalyst/Tungsten pick physical strategy.
* **A thin ``MapReduceJob`` API** (``operators.mapreduce``) gives
  surface parity with the reference's ``MapFn``/``ReduceFn`` pairs,
  executed via Arrow-vectorized ``mapInPandas`` (map) and one
  ``mapInArrow`` call per batch of key groups (reduce).
* **Scale-first**: AQE on, broadcast small dims, algebraic (partial)
  aggregation preferred over collect_list, salting documented for hot
  keys. Tested on local[32]; designed for 1000 executors.
"""

from mapreduce_rust_spark.session import get_spark

__all__ = ["get_spark"]
__version__ = "0.1.0"
