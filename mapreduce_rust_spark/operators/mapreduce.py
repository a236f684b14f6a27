"""The reference's MapReduce surface, re-expressed on Spark.

Reference semantics being honored (SURVEY.md §2a):

* ``MapFn = fn(String, String) -> Vec<(String, String)>``
  (``worker.rs:23``) — flatMap: one input pair to N output pairs.
* ``ReduceFn = fn(String, Vec<String>) -> (String, String)``
  (``worker.rs:24``) — one call per key over all its values.
* Shuffle: we implement the *intended* canonical semantics —
  hash-partition by key, global group per key — not the reference's
  per-map-task modulo routing quirk (``coordinator.rs:147``, which can
  send the same key to different reducers; README.md:37 admits hash
  assignment was never written). Divergence is deliberate and
  documented here.
* The reference's coordinator/worker control plane (task scheduling,
  retries, barriers — ``coordinator.rs``/``worker.rs``) is entirely
  subsumed by Spark's DAGScheduler and is not reimplemented.

Execution strategy, in preference order:

1. ``reduce_by_key`` — when the user reduction is associative+
   commutative, express it as a Spark aggregate so Tungsten does
   map-side partial aggregation (the combiner the reference lacks,
   README.md:70 TODO 1) with spill-to-disk. This is the only shape
   that survives a hot key at 100 TB.
2. ``MapReduceJob``/``reduce_groups`` — arbitrary user Python
   ``ReduceFn``: Spark collects each key's values into one list (with
   map-side partial collection before the shuffle), then one
   ``mapInArrow`` call per Arrow batch of key groups runs the user
   function once per key. A single giant group must still fit one
   executor's memory — same failure mode as the reference's
   per-reducer HashMap (``worker.rs:126-131``), so prefer (1)
   whenever the algebra allows.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator
import pandas as pd

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

# Python-side signatures mirroring worker.rs:23-24.
MapFn = Callable[[str, str], list[tuple[str, str]]]
ReduceFn = Callable[[str, list[str]], tuple[str, str]]

KV_SCHEMA = "key string, value string"


def flat_map(df: DataFrame, map_fn: MapFn, key_col: str = "key", value_col: str = "value") -> DataFrame:
    """Apply a user MapFn over (key, value) rows → (key, value) rows.

    ``map_udf`` parity (``worker.rs:106-121``): flatMap semantics, the
    outputs of all inputs concatenated. Runs as ``mapInPandas`` so the
    Python function sees Arrow batches, not one row at a time; each
    input partition streams through Python once, preserving Spark's
    partition-parallel execution (no driver collect).
    """

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            out_k: list[str] = []
            out_v: list[str] = []
            for k, v in zip(pdf[key_col], pdf[value_col]):
                for ok, ov in map_fn(k, v):
                    out_k.append(ok)
                    out_v.append(ov)
            yield pd.DataFrame({"key": out_k, "value": out_v})

    return df.select(key_col, value_col).mapInPandas(run, schema=KV_SCHEMA)


def group_by_key(df: DataFrame, key_col: str = "key", value_col: str = "value", sort_values: bool = True) -> DataFrame:
    """``(key, value)`` → ``(key, values array)``.

    ``group_by_key`` parity (``worker.rs:126-131``). The reference
    groups into a HashMap with nondeterministic value order; we sort
    the value list by default so results are deterministic and
    testable. Scale note: collect_list is unbounded per key — fine for
    the parity surface, but hot-key workloads should use
    ``reduce_by_key`` (algebraic, partial-agg) instead; this is the
    documented anti-pattern boundary (SURVEY.md §7 Phase 3).
    """
    vals = F.collect_list(value_col)
    if sort_values:
        vals = F.sort_array(vals)
    return df.groupBy(key_col).agg(vals.alias("values"))


def reduce_by_key(df: DataFrame, agg_expr: Column, key_col: str = "key") -> DataFrame:
    """Algebraic reduction per key — the scale-correct ReduceFn path.

    Spark performs map-side partial aggregation automatically (the
    combiner the reference lists as unfinished, README.md:70), so
    shuffle volume is O(distinct keys), not O(rows).
    """
    return df.groupBy(key_col).agg(agg_expr)


def reduce_groups(
    df: DataFrame,
    reduce_fn: ReduceFn,
    key_col: str = "key",
    value_col: str = "value",
) -> DataFrame:
    """Arbitrary user ReduceFn per key → one (key, value) row per key.

    ``reduce_udf`` parity (``worker.rs:124-144``): the user function
    receives (key, list-of-values) exactly as in the reference, once
    per key. Values arrive in Python ``sorted()`` (code-point) order,
    nulls first, so ``len(values)`` is always the key's row count
    (deterministic; the reference's hash order is not).

    Spark groups first: ``collect_list`` per key, partially on the
    map side and finished after a hash shuffle on key (canonical
    MapReduce partitioning, not the reference's per-map-task modulo
    routing, ``coordinator.rs:147``). ``collect_list`` drops nulls, so a
    ``count_if`` column carries them. Then one ``mapInArrow`` call
    per Arrow batch of groups runs ``reduce_fn`` over every group row
    in it. A non-string return fails the Arrow conversion, so the job
    fails as a raising ``reduce_fn`` does.
    """
    import pyarrow as pa

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            keys, values, nulls = (c.to_pylist() for c in batch.columns)
            out_k: list[str] = []
            out_v: list[str] = []
            for key, vals, n_null in zip(keys, values, nulls):
                k, v = reduce_fn(key, [None] * n_null + sorted(vals))
                out_k.append(k)
                out_v.append(v)
            yield pa.record_batch(
                [pa.array(out_k, pa.string()), pa.array(out_v, pa.string())],
                names=["key", "value"],
            )

    # F.isnull, not Column.isNull: a Column method's call-site capture
    # imports IPython (when installed) into the driver, about 20 MB
    return (
        df.groupBy(key_col)
        .agg(F.collect_list(value_col), F.count_if(F.isnull(value_col)))
        .mapInArrow(run, schema=KV_SCHEMA)
    )


def union_merge(*dfs: DataFrame) -> DataFrame:
    """Merge N grouped-KV sources, concatenating value lists per key.

    ``union_merge`` parity (``merge_hashmap``, ``mr/tests/
    test.rs:155-169``). Accepts ``(key, values array)`` frames;
    re-groups with flatten so the result is one row per key. Expressed
    as unionAll + groupBy — Spark plans one shuffle total regardless
    of input count.
    """
    if not dfs:
        raise ValueError("union_merge needs at least one DataFrame")
    out = dfs[0]
    for d in dfs[1:]:
        out = out.unionByName(d)
    return out.groupBy("key").agg(
        F.sort_array(F.flatten(F.collect_list("values"))).alias("values")
    )


def cogroup_merge(left: DataFrame, right: DataFrame) -> DataFrame:
    """Two-source per-key merge — the exact shape of the reference
    prototype's ``merge_hashmap`` (``mr/tests/test.rs:155-169``):
    given two grouped KV sources, concatenate their value lists per
    key (keys present in either side appear once).

    Uses Spark's cogroup + ``applyInPandas``: both sides hash-shuffle
    on key once, then each key's two pandas frames meet in one Python
    call — the canonical relational form of the reference's in-memory
    hashmap merge, without materializing either side as a map. Values
    are sorted for determinism (the reference's hash order is not).
    """

    def merge(l: pd.DataFrame, r: pd.DataFrame) -> pd.DataFrame:
        key = l["key"].iloc[0] if len(l) else r["key"].iloc[0]
        vals = sorted(l["value"].tolist() + r["value"].tolist())
        return pd.DataFrame({"key": [key], "values": [vals]})

    return (
        left.select("key", "value")
        .groupBy("key")
        .cogroup(right.select("key", "value").groupBy("key"))
        .applyInPandas(merge, schema="key string, values array<string>")
    )


class MapReduceJob:
    """User-facing job API with the reference's shape.

    Reference: a job = (MapFn, ReduceFn) compiled into the worker
    binary + a file list and (n_map, n_reduce) in the coordinator
    (``mr_app/src/client.rs:23-31``, ``mr_app/src/server.rs:3-15``).
    Here: ``MapReduceJob(map_fn, reduce_fn).run(spark, input_paths)``
    over text files, or ``.run_on(df)`` over any (key, value) frame.

    ``n_reduce`` maps to shuffle partitioning; unlike the reference's
    fixed ``n_reduce=1`` (``server.rs:12``) the default defers to AQE.
    """

    def __init__(self, map_fn: MapFn, reduce_fn: ReduceFn, n_reduce: int | None = None):
        self.map_fn = map_fn
        self.reduce_fn = reduce_fn
        self.n_reduce = n_reduce

    def run_on(self, kv: DataFrame) -> DataFrame:
        mapped = flat_map(kv, self.map_fn)
        if self.n_reduce:
            mapped = mapped.repartition(self.n_reduce, "key")
        return reduce_groups(mapped, self.reduce_fn)

    def run(self, spark: SparkSession, input_paths: str | list[str]) -> DataFrame:
        """Text-file entry point: key = file path, value = whole file
        contents, exactly the map input the reference feeds user code
        (``worker.rs:106-115``)."""
        from mapreduce_rust_spark.sources.text import read_whole_files

        kv = read_whole_files(spark, input_paths).withColumnsRenamed(
            {"path": "key", "content": "value"}
        )
        return self.run_on(kv)

    def write(self, result: DataFrame, out_dir: str, fmt: str = "json", mode: str = "overwrite") -> None:
        """``sink_write_json`` parity (``worker.rs:138-143``): one
        output file per reduce partition. JSON to match the reference;
        parquet is the recommended format at scale."""
        result.write.mode(mode).format(fmt).save(out_dir)


def wordcount_fns() -> tuple[MapFn, ReduceFn]:
    """The reference's one application (``mr_app/src/client.rs:3-21``):
    whitespace-split map emitting (word, "1"); int-sum reduce. Counts
    are strings at this API edge, as in the reference (client.rs:20)."""

    def map_function(_key: str, value: str) -> list[tuple[str, str]]:
        return [(w, "1") for w in value.split()]

    def reduce_function(key: str, values: list[str]) -> tuple[str, str]:
        return key, str(sum(int(v) for v in values))

    return map_function, reduce_function
