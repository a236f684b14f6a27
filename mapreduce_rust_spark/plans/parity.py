"""Reference operator parity queries (SURVEY.md §2a), one per slug.

Each function takes ``(spark, sf_dir)`` and returns a DataFrame; the
module-level ``ORACLE`` dict holds the DuckDB-equivalent SQL with
identical output column names (the driver's correctness gate hashes
values under sorted column names).

These run over the driver's parquet tables (TESTDATA.md) rather than
raw text files so the oracle can see the same input; the raw-file
entry points (``sources.text``, ``MapReduceJob.run``) are exercised by
the pytest suite against the reference's own fixture corpus.

Every query here deliberately routes through the engine's operator
implementations (``operators.mapreduce``) where one exists, so the
correctness gate checks the real code path, not a shortcut.
"""

from __future__ import annotations

import glob
import os
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from mapreduce_rust_spark.functions.text import tokenize_whitespace
from mapreduce_rust_spark.operators.mapreduce import (
    MapReduceJob,
    flat_map,
    group_by_key,
    union_merge,
    wordcount_fns,
)
from mapreduce_rust_spark.plans.wordcount import wordcount
from mapreduce_rust_spark.functions.numeric import fround
from mapreduce_rust_spark.sources.tables import load_table

ORACLE: dict[str, str] = {}

_TOKENS_SQL = (
    "SELECT doc_id, lang, w FROM (SELECT doc_id, lang, "
    "unnest(string_split_regex(text, '\\s+')) AS w FROM documents) t "
    "WHERE w <> ''"
)


def wordcount_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's one end-to-end query (``mr_app/src/client.rs``):
    word frequencies, case-sensitive, punctuation kept."""
    return wordcount(load_table(spark, sf_dir, "documents"), "text")


ORACLE["wordcount_e2e"] = f"""
SELECT w AS word, count(*) AS cnt FROM ({_TOKENS_SQL}) GROUP BY w
"""


def source_scan_wholefile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whole-input scan stats: per document, full-content length and
    line count — the reference's one-string-per-file input model
    (``worker.rs:109-115``) expressed over the documents table."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        F.length("text").cast("bigint").alias("n_chars_scanned"),
        F.size(F.split("text", "\n")).cast("bigint").alias("n_lines"),
    )


ORACLE["source_scan_wholefile"] = """
SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars_scanned,
       CAST(len(string_split(text, chr(10))) AS BIGINT) AS n_lines
FROM documents
"""


def source_scan_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-oriented scan with 1-based line numbers — the prototype's
    input model (``mr/tests/test.rs:21-32``)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", F.posexplode(F.split("text", "\n")).alias("pos", "line")
    ).select(
        "doc_id", (F.col("pos") + 1).cast("bigint").alias("line_no"), "line"
    )


ORACLE["source_scan_lines"] = """
SELECT doc_id, CAST(generate_subscripts(l, 1) AS BIGINT) AS line_no,
       unnest(l) AS line
FROM (SELECT doc_id, string_split(text, chr(10)) AS l FROM documents) t
"""


def source_list_dir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Input enumeration (``get_files``, ``mr/tests/test.rs:54-68``).
    Driver-side directory listing is control-plane work (as in the
    reference's coordinator), so the glob happens on the driver and
    becomes a DataFrame."""
    files = sorted(
        os.path.basename(p)
        for p in glob.glob(os.path.join(sf_dir, "*.parquet"))
        if os.path.isfile(p)
    )
    return spark.createDataFrame([(f,) for f in files], "file_name string")


ORACLE["source_list_dir"] = """
SELECT unnest([
  'customer.parquet','documents.parquet','embeddings.parquet',
  'events.parquet','lineitem.parquet','nation.parquet',
  'orders.parquet','part.parquet','region.parquet','supplier.parquet'
]) AS file_name
"""


def split_roundrobin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Round-robin split by ``id % n_splits`` (``Coordinator::slice``,
    ``coordinator.rs:38-50``). In Spark, input splitting is byte-range
    based and automatic; this preserves the reference's observable
    semantics (which inputs land in which split) as a query."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select((F.col("doc_id") % 8).alias("split_id"), "n_chars")
        .groupBy("split_id")
        .agg(
            F.count(F.lit(1)).alias("n_files"),
            F.sum("n_chars").alias("total_chars"),
        )
    )


ORACLE["split_roundrobin"] = """
SELECT doc_id % 8 AS split_id, count(*) AS n_files,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM documents GROUP BY 1
"""


def partition_modulo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Modulo routing distribution (``coordinator.rs:147-148``). The
    reference routes by map-task id — a documented bug (README.md:37);
    we expose the *canonical* key-modulo partition histogram. Spark's
    real shuffle uses hash(key) % R internally (HashPartitioner)."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select((F.col("l_orderkey") % 8).alias("bucket"))
        .groupBy("bucket")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


ORACLE["partition_modulo"] = """
SELECT l_orderkey % 8 AS bucket, count(*) AS cnt FROM lineitem GROUP BY 1
"""


def map_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """User MapFn via the engine's ``flat_map`` (Arrow ``mapInPandas``)
    — parity with ``worker.rs:106-121`` flatMap semantics. Token count
    per document, computed by real Python user code."""
    docs = load_table(spark, sf_dir, "documents")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )
    mapped = flat_map(kv, lambda k, v: [(k, w) for w in v.split()])
    return mapped.groupBy("key").agg(F.count(F.lit(1)).alias("n_tokens"))


ORACLE["map_udf"] = f"""
SELECT CAST(doc_id AS VARCHAR) AS key, count(*) AS n_tokens
FROM ({_TOKENS_SQL}) GROUP BY 1
"""


def map_arrow_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The MapFn boundary on ``mapInArrow`` — the streaming-batch twin
    of :func:`reduce_arrow_native`: each Arrow RecordBatch is
    transformed in place (token count per document, real Python user
    code over ``pyarrow.compute``), no pandas conversion on either
    side. Same flatMap-parity semantics as ``map_udf``
    (``worker.rs:106-121``), one API tier cheaper."""
    import pyarrow as pa

    docs = load_table(spark, sf_dir, "documents")

    def count_tokens(batches):
        import pyarrow.compute as pc

        for batch in batches:
            ids = batch.column(batch.schema.get_field_index("doc_id"))
            text = batch.column(batch.schema.get_field_index("text"))
            # count \S+ matches: exactly the non-empty whitespace-split
            # token count, with no empty-token edge cases at the ends
            n = pc.count_substring_regex(text, pattern=r"\S+")
            yield pa.record_batch(
                [ids.cast(pa.int64()), n.cast(pa.int64())],
                ["doc_id", "n_tokens"],
            )

    return docs.select("doc_id", "text").mapInArrow(
        count_tokens, schema="doc_id bigint, n_tokens bigint"
    )


ORACLE["map_arrow_native"] = """
SELECT doc_id,
       CAST(len(list_filter(string_split_regex(text, '\\s+'), x -> x <> ''))
         AS BIGINT) AS n_tokens
FROM documents
"""


def group_by_key_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``group_by_key`` (``worker.rs:126-131``): all values collected
    per key. Joined to a string so the grouped array is hashable by
    the oracle; sorted for determinism (the reference's HashMap order
    is not deterministic — documented divergence)."""
    ev = load_table(spark, sf_dir, "events")
    kv = ev.select(
        F.col("user_id").cast("string").alias("key"),
        F.col("event_type").alias("value"),
    )
    g = group_by_key(kv)
    return g.select("key", F.array_join("values", "|").alias("events_sorted"))


ORACLE["group_by_key"] = """
SELECT CAST(user_id AS VARCHAR) AS key,
       array_to_string(list_sort(list(event_type)), '|') AS events_sorted
FROM events GROUP BY 1
"""


def reduce_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full MapReduceJob through the UDF path: the reference's own
    wordcount MapFn/ReduceFn (``mr_app/src/client.rs:3-21``) executed
    via mapInPandas for the map, then ``collect_list`` per key and one
    mapInArrow call per Arrow batch of key groups for the reduce.
    Counts are strings at the API edge exactly as in the reference
    (client.rs:20)."""
    docs = load_table(spark, sf_dir, "documents")
    kv = docs.select(
        F.col("doc_id").cast("string").alias("key"), F.col("text").alias("value")
    )
    m, r = wordcount_fns()
    return MapReduceJob(m, r).run_on(kv)


ORACLE["reduce_udf"] = f"""
SELECT w AS key, CAST(count(*) AS VARCHAR) AS value
FROM ({_TOKENS_SQL}) GROUP BY w
"""


def reduce_arrow_native(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The ReduceFn boundary on Spark 4's Arrow-NATIVE grouped map
    (``applyInArrow``): each group's reducer receives a
    ``pyarrow.Table`` and returns one — zero pandas materialization,
    so the Python boundary cost is pure Arrow IPC. ``reduce_udf``
    also crosses the boundary in Arrow batches (of collected key
    groups, via ``mapInArrow``) but hands its ReduceFn a Python list
    of values per key instead of a table.
    Reduces events per type to (n, sum) like the reference's ReduceFn
    folds its value list (``mr_app/src/client.rs:13-21``)."""
    import math

    import pyarrow as pa

    ev = load_table(spark, sf_dir, "events").select("event_type", "value")

    def agg(table: pa.Table) -> pa.Table:
        import pyarrow.compute as pc

        s = pc.sum(table.column("value")).as_py() or 0.0
        return pa.table(
            {
                "event_type": [table.column("event_type")[0].as_py()],
                "n": [table.num_rows],
                # mirror fround(col): pre-round 6 absorbs summation-
                # order noise, floor at 2 makes the value exact
                "sum_value": [math.floor(round(s, 6) * 100) / 100],
            }
        )

    return (
        ev.groupBy("event_type")
        .applyInArrow(agg, schema="event_type string, n bigint, sum_value double")
        .orderBy("event_type")
    )


ORACLE["reduce_arrow_native"] = """
SELECT event_type, count(*) AS n,
       floor(round((sum(value)), 6) * 100) / 100 AS sum_value
FROM events GROUP BY 1 ORDER BY 1
"""


def combine_map_side(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Partial (map-side) aggregation — the combiner the reference
    lists as unfinished (README.md:70 TODO 1; prototype-only grouping
    at ``mr/tests/test.rs:139-153``). Spark plans partial_count /
    partial distinct automatically; `.explain` shows HashAggregate
    (partial) before the exchange."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.countDistinct("l_partkey").alias("n_parts"),
        F.count(F.lit(1)).alias("cnt"),
    )


ORACLE["combine_map_side"] = """
SELECT l_returnflag, count(DISTINCT l_partkey) AS n_parts, count(*) AS cnt
FROM lineitem GROUP BY 1
"""


def union_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``merge_hashmap`` (``mr/tests/test.rs:155-169``): merge two
    grouped KV sources, concatenating value lists per key. Customer
    names and supplier names merged under their nation key."""
    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    gc = group_by_key(
        cust.select(F.col("c_nationkey").alias("key"), F.col("c_name").alias("value"))
    )
    gs = group_by_key(
        supp.select(F.col("s_nationkey").alias("key"), F.col("s_name").alias("value"))
    )
    merged = union_merge(gc, gs)
    return merged.select(
        "key",
        F.size("values").cast("bigint").alias("n_values"),
        F.element_at("values", 1).alias("first_value"),
    )


ORACLE["union_merge"] = """
SELECT key, count(*) AS n_values, min(v) AS first_value FROM (
  SELECT c_nationkey AS key, c_name AS v FROM customer
  UNION ALL
  SELECT s_nationkey AS key, s_name AS v FROM supplier
) GROUP BY key
"""


def map_udtf_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's MapFn as a Python UDTF (SURVEY.md §2c maps
    ``MapFn ≈ UDTF``: one input row → N output rows through a
    user-defined table function). Spark 4's ``@udtf`` + LATERAL is the
    first-class form of that contract — arrow-batched like the
    ``mapInPandas`` path in operators/mapreduce.py but invocable from
    SQL. Emits each whitespace token with its 1-based position."""
    from pyspark.sql.functions import udtf

    @udtf(returnType="idx int, token string")
    class TokenizeUdtf:
        def eval(self, text: str):
            if text:
                for i, t in enumerate(text.split()):
                    yield i + 1, t

    spark.udtf.register("tokenize_udtf", TokenizeUdtf)
    load_table(spark, sf_dir, "documents").createOrReplaceTempView("_mrs_docs")
    return spark.sql(
        "SELECT doc_id, t.idx, t.token "
        "FROM _mrs_docs, LATERAL tokenize_udtf(text) t"
    )


ORACLE["map_udtf"] = """
SELECT doc_id, CAST(generate_subscripts(l, 1) AS INT) AS idx,
       unnest(l) AS token
FROM (
  SELECT doc_id, list_filter(string_split_regex(text, '\\s+'), x -> x <> '') AS l
  FROM documents
) t
"""


def cogroup_merge_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``merge_hashmap`` again (``mr/tests/test.rs:155-169``), through
    Spark's two-source cogroup instead of union+regroup: both sides
    shuffle once on key, each key's two pandas frames merge in a
    single Python call. Summarized as (key, n_values, first, last) so
    the oracle compares scalars over the sorted merged list."""
    from mapreduce_rust_spark.operators.mapreduce import cogroup_merge

    cust = load_table(spark, sf_dir, "customer")
    supp = load_table(spark, sf_dir, "supplier")
    merged = cogroup_merge(
        cust.select(
            F.col("c_nationkey").cast("string").alias("key"),
            F.col("c_name").alias("value"),
        ),
        supp.select(
            F.col("s_nationkey").cast("string").alias("key"),
            F.col("s_name").alias("value"),
        ),
    )
    return merged.select(
        "key",
        F.size("values").cast("bigint").alias("n_values"),
        F.element_at("values", 1).alias("first_value"),
        F.element_at("values", -1).alias("last_value"),
    )


ORACLE["cogroup_merge"] = """
SELECT key, count(*) AS n_values, min(v) AS first_value,
       max(v) AS last_value
FROM (
  SELECT CAST(c_nationkey AS VARCHAR) AS key, c_name AS v FROM customer
  UNION ALL
  SELECT CAST(s_nationkey AS VARCHAR) AS key, s_name AS v FROM supplier
) GROUP BY key
"""


def sink_write_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``sink_write_json`` (``worker.rs:138-143``, ``199-208``): write
    JSON (one file per partition, exactly the reference's one file per
    reduce task), then read it back — round-trip proves the sink. At
    scale the recommended sink is partitioned parquet (see
    ``sinks.py``); JSON is reference parity."""
    nation = load_table(spark, sf_dir, "nation")
    out = os.path.join(tempfile.gettempdir(), "mrspark_sink_json")
    nation.write.mode("overwrite").json(out)
    return spark.read.schema(nation.schema).json(out)


ORACLE["sink_write_json"] = "SELECT n_nationkey, n_name, n_regionkey FROM nation"


def tokenize_whitespace_q(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference tokenizer (``mr_app/src/client.rs:7-10``) as a
    declarative column expression: per-language token totals."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("lang", F.explode(tokenize_whitespace("text")).alias("word"))
        .groupBy("lang")
        .agg(
            F.count(F.lit(1)).alias("n_tokens"),
            F.countDistinct("word").alias("n_distinct"),
        )
    )


ORACLE["tokenize_whitespace"] = f"""
SELECT lang, count(*) AS n_tokens, count(DISTINCT w) AS n_distinct
FROM ({_TOKENS_SQL}) GROUP BY lang
"""


def agg_count_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``agg_count_sum`` (``mr_app/src/client.rs:14-21``) generalized:
    algebraic count/sum/avg per key with real numeric types (the
    reference parses ints from strings per value)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("cnt"),
        fround(F.sum("value")).alias("sum_value"),
        fround(F.avg("value"), 4).alias("avg_value"),
    )


ORACLE["agg_count_sum"] = """
SELECT event_type, count(*) AS cnt, floor(round((sum(value)), 6) * 100) / 100 AS sum_value,
       floor(round((avg(value)), 8) * 10000) / 10000 AS avg_value
FROM events GROUP BY 1
"""


QUERIES = {
    "wordcount_e2e": wordcount_e2e,
    "source_scan_wholefile": source_scan_wholefile,
    "source_scan_lines": source_scan_lines,
    "source_list_dir": source_list_dir,
    "split_roundrobin": split_roundrobin,
    "partition_modulo": partition_modulo,
    "map_udf": map_udf,
    "map_arrow_native": map_arrow_native,
    "map_udtf": map_udtf_q,
    "group_by_key": group_by_key_q,
    "reduce_udf": reduce_udf,
    "reduce_arrow_native": reduce_arrow_native,
    "combine_map_side": combine_map_side,
    "union_merge": union_merge_q,
    "cogroup_merge": cogroup_merge_q,
    "sink_write_json": sink_write_json,
    "tokenize_whitespace": tokenize_whitespace_q,
    "agg_count_sum": agg_count_sum,
}
