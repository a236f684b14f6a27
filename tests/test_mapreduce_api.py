"""Unit tests for the MapReduce parity operators (SURVEY.md §2a) on
tiny in-memory frames mirroring the reference's unit tests
(coordinator.rs:213-275, worker.rs:216-264)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def kv(spark, rows):
    return spark.createDataFrame(rows, "key string, value string")


def test_flat_map_flatmap_semantics(spark):
    """One input → N outputs, outputs concatenated (worker.rs:106-121)."""
    from mapreduce_rust_spark.operators.mapreduce import flat_map

    df = kv(spark, [("f1", "a b"), ("f2", "c")])
    out = flat_map(df, lambda k, v: [(w, k) for w in v.split()])
    got = sorted((r["key"], r["value"]) for r in out.collect())
    assert got == [("a", "f1"), ("b", "f1"), ("c", "f2")]


def test_flat_map_empty_output_allowed(spark):
    from mapreduce_rust_spark.operators.mapreduce import flat_map

    df = kv(spark, [("f1", "x")])
    out = flat_map(df, lambda k, v: [])
    assert out.count() == 0


def test_group_by_key_collects_sorted(spark):
    from mapreduce_rust_spark.operators.mapreduce import group_by_key

    df = kv(spark, [("a", "2"), ("a", "1"), ("b", "3")])
    got = {r["key"]: r["values"] for r in group_by_key(df).collect()}
    assert got == {"a": ["1", "2"], "b": ["3"]}


def test_reduce_groups_one_row_per_key(spark):
    """ReduceFn called once per key over all its values (worker.rs:124-144)."""
    from mapreduce_rust_spark.operators.mapreduce import reduce_groups

    df = kv(spark, [("a", "1"), ("a", "2"), ("b", "5")])
    out = reduce_groups(df, lambda k, vs: (k, str(sum(map(int, vs)))))
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == {"a": "3", "b": "5"}


def test_reduce_groups_crosses_arrow_batches(spark):
    """More keys than one Arrow batch holds (10k rows) in one reduce
    partition: every key is reduced once, counts match a Counter."""
    from collections import Counter

    from mapreduce_rust_spark.operators.mapreduce import reduce_groups, wordcount_fns

    words = [f"w{i % 12_000}" for i in range(30_000)]
    df = kv(spark, [(w, "1") for w in words]).repartition(1, "key")
    out = reduce_groups(df, wordcount_fns()[1])
    assert out.rdd.getNumPartitions() == 1
    got = {r["key"]: int(r["value"]) for r in out.collect()}
    assert got == Counter(words)


def test_reduce_groups_values_in_python_sorted_order(spark):
    """Non-ASCII values arrive in Python ``sorted()`` (code-point) order."""
    from mapreduce_rust_spark.operators.mapreduce import reduce_groups

    vals = ["日", "z", "é", "Z"]
    out = reduce_groups(kv(spark, [("k", v) for v in vals]), lambda k, vs: (k, "|".join(vs)))
    assert [tuple(r) for r in out.collect()] == [("k", "|".join(sorted(vals)))]


def test_reduce_groups_passes_nulls_first(spark):
    """Nulls reach the ReduceFn, first, so len(values) is the row count."""
    from mapreduce_rust_spark.operators.mapreduce import reduce_groups

    df = kv(spark, [("a", "x"), ("a", None), ("a", None), ("b", None)])
    out = reduce_groups(df, lambda k, vs: (k, repr(vs)))
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == {"a": repr([None, None, "x"]), "b": repr([None])}


def test_reduce_groups_may_rename_key(spark):
    """The returned (k, v) is written as-is, including a different key."""
    from mapreduce_rust_spark.operators.mapreduce import reduce_groups

    df = kv(spark, [("a", "1"), ("a", "2"), ("b", "5")])
    out = reduce_groups(df, lambda k, vs: (k.upper() + "!", str(len(vs))))
    assert sorted(tuple(r) for r in out.collect()) == [("A!", "2"), ("B!", "1")]


@pytest.mark.parametrize(
    "reduce_fn",
    [lambda k, vs: (k, 1 / 0), lambda k, vs: (k, len(vs))],
    ids=["raises", "returns_int"],
)
def test_reduce_groups_bad_reduce_fn_fails_job(spark, reduce_fn):
    from pyspark.errors import PythonException

    from mapreduce_rust_spark.operators.mapreduce import reduce_groups

    df = kv(spark, [("a", "1"), ("b", "2")])
    with pytest.raises(PythonException):
        reduce_groups(df, reduce_fn).collect()


def test_reduce_by_key_algebraic(spark):
    from mapreduce_rust_spark.operators.mapreduce import reduce_by_key

    df = kv(spark, [("a", "1"), ("a", "2"), ("b", "5")])
    out = reduce_by_key(
        df.withColumn("value", F.col("value").cast("long")),
        F.sum("value").alias("total"),
    )
    got = {r["key"]: r["total"] for r in out.collect()}
    assert got == {"a": 3, "b": 5}


def test_union_merge_concatenates_value_lists(spark):
    """merge_hashmap parity (mr/tests/test.rs:155-169)."""
    from mapreduce_rust_spark.operators.mapreduce import group_by_key, union_merge

    g1 = group_by_key(kv(spark, [("a", "1"), ("b", "2")]))
    g2 = group_by_key(kv(spark, [("a", "3")]))
    got = {r["key"]: r["values"] for r in union_merge(g1, g2).collect()}
    assert got == {"a": ["1", "3"], "b": ["2"]}


def test_mapreduce_job_n_reduce_partitioning(spark):
    """n_reduce maps to shuffle partition count (server.rs:12)."""
    from mapreduce_rust_spark.operators.mapreduce import MapReduceJob

    df = kv(spark, [("f", "a b c a")])
    job = MapReduceJob(
        lambda k, v: [(w, "1") for w in v.split()],
        lambda k, vs: (k, str(len(vs))),
        n_reduce=2,
    )
    out = job.run_on(df)
    got = {r["key"]: r["value"] for r in out.collect()}
    assert got == {"a": "2", "b": "1", "c": "1"}


def test_sources_read_lines_numbered(spark, tmp_path):
    """1-based line numbering per file (mr/tests/test.rs:21-32)."""
    from mapreduce_rust_spark.sources.text import read_lines_numbered

    p = tmp_path / "f.txt"
    p.write_text("x\ny\nz\n")
    rows = read_lines_numbered(spark, str(p)).orderBy("line_no").collect()
    assert [(r["line_no"], r["line"]) for r in rows] == [(1, "x"), (2, "y"), (3, "z")]


def test_sources_whole_files(spark, tmp_path):
    from mapreduce_rust_spark.sources.text import read_whole_files

    (tmp_path / "a.txt").write_text("one two")
    (tmp_path / "b.txt").write_text("three")
    rows = read_whole_files(spark, str(tmp_path)).collect()
    got = {r["path"].split("/")[-1]: r["content"] for r in rows}
    assert got == {"a.txt": "one two", "b.txt": "three"}


def test_sink_json_roundtrip(spark, tmp_path):
    """sink_write_json parity: one file per partition, values survive."""
    from mapreduce_rust_spark.operators.mapreduce import MapReduceJob

    df = kv(spark, [("a", "1"), ("b", "2")])
    out_dir = str(tmp_path / "out")
    job = MapReduceJob(lambda k, v: [(k, v)], lambda k, vs: (k, vs[0]))
    result = job.run_on(df)
    job.write(result, out_dir, fmt="json")
    back = spark.read.schema("key string, value string").json(out_dir)
    got = {r["key"]: r["value"] for r in back.collect()}
    assert got == {"a": "1", "b": "2"}
