"""Boolean posting-list search: the fused single-aggregation operator
must agree row-for-row with the composition of the per-op reference
helpers below (boolean_and/or/not over a built index), including the
zero-rows-when-a-term-is-missing semantics both inherit from the
cross-join-of-empty formulation."""

from __future__ import annotations

from pyspark.sql import functions as F

from parallel_inverted_index_map_reduce_spark.operators import index as ix

DOCS = [
    (0, "spark query engine"),
    (1, "spark spark streaming"),
    (2, "query planner"),
    (3, "unrelated words only"),
    (4, "spark and query together"),
]


def _per_op(index, t1, t2, combine):
    """Reference form of one boolean op: self-join of the two terms'
    single-row index lookups, postings combined by ``combine``
    (array_intersect / array_union / array_except)."""
    a = index.where(F.col("word") == t1).select(F.col("postings").alias("p1"))
    b = index.where(F.col("word") == t2).select(F.col("postings").alias("p2"))
    return a.crossJoin(F.broadcast(b)).select(
        F.lit(t1).alias("term1"),
        F.lit(t2).alias("term2"),
        F.sort_array(combine("p1", "p2")).alias("doc_ids"),
    )


def boolean_and(index, t1, t2):
    return _per_op(index, t1, t2, F.array_intersect)


def boolean_or(index, t1, t2):
    return _per_op(index, t1, t2, F.array_union)


def boolean_not(index, t1, t2):
    """Docs containing t1 but not t2."""
    return _per_op(index, t1, t2, F.array_except)


def _composed(idx, t1, t2):
    parts = [
        boolean_and(idx, t1, t2).withColumn("op", F.lit("and")),
        boolean_or(idx, t1, t2).withColumn("op", F.lit("or")),
        boolean_not(idx, t1, t2).withColumn("op", F.lit("not")),
    ]
    out = parts[0]
    for p in parts[1:]:
        out = out.unionByName(p)
    return out


def _rows(df):
    return sorted(
        (r["op"], r["term1"], r["term2"], list(r["doc_ids"])) for r in df.collect()
    )


def test_fused_equals_composed(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = ix.build_index(docs)
    fused = _rows(ix.boolean_search(docs, "spark", "query"))
    composed = _rows(_composed(idx, "spark", "query"))
    assert fused == composed
    assert fused[0] == ("and", "spark", "query", [0, 4])
    assert fused[1] == ("not", "spark", "query", [1])
    assert fused[2] == ("or", "spark", "query", [0, 1, 2, 4])


def test_missing_term_yields_no_rows(spark):
    docs = spark.createDataFrame(DOCS, "doc_id long, text string")
    idx = ix.build_index(docs)
    assert ix.boolean_search(docs, "spark", "absentterm").count() == 0
    assert _composed(idx, "spark", "absentterm").count() == 0
    assert ix.boolean_search(docs, "absentterm", "query").count() == 0


def test_with_lookup_emits_per_present_term(spark):
    """Lookup rows follow per-term presence: a present term is reported
    (df + full postings) even when the other term is absent and every
    boolean row is therefore suppressed."""
    docs = spark.createDataFrame(DOCS, ["doc_id", "text"])

    out = ix.boolean_search(docs, "spark", "query", with_lookup=True)
    by_term = {
        r["term1"]: r for r in out.collect() if r["op"] == "lookup"
    }
    assert set(by_term) == {"spark", "query"}
    assert list(by_term["spark"]["doc_ids"]) == [0, 1, 4]
    assert by_term["spark"]["term2"] == "3"  # df as string
    assert list(by_term["query"]["doc_ids"]) == [0, 2, 4]

    # one term missing: its lookup row vanishes, the other survives,
    # and no boolean rows are emitted (both-terms semantics unchanged)
    out2 = ix.boolean_search(docs, "spark", "nosuchword", with_lookup=True)
    rows2 = out2.collect()
    assert [r["op"] for r in rows2] == ["lookup"]
    assert rows2[0]["term1"] == "spark"

    # default stays lookup-free
    assert "lookup" not in {
        r["op"] for r in ix.boolean_search(docs, "spark", "query").collect()
    }
