"""docint = dense rank of (conv_id, turn_idx) — "prime ordering"
(reference README.md:6), computed without a global sort of turns."""

from miru_spark.docids import with_docint


def test_docint_matches_global_rank(spark, tiny_turns, tiny_pdf):
    got = (
        with_docint(tiny_turns)
        .select("conv_id", "turn_idx", "docint")
        .orderBy("docint")
        .toPandas()
    )
    exp = tiny_pdf.sort_values(["conv_id", "turn_idx"]).reset_index(drop=True)
    assert list(got["docint"]) == list(range(len(exp)))
    assert list(got["conv_id"]) == list(exp["conv_id"])
    assert list(got["turn_idx"]) == list(exp["turn_idx"])


def test_docint_parallelism_invariant(spark, tiny_turns):
    a = with_docint(tiny_turns.repartition(1)).select("conv_id", "turn_idx", "docint")
    b = with_docint(tiny_turns.repartition(13)).select("conv_id", "turn_idx", "docint")
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_generator_parallelism_invariant(spark):
    """The synthetic corpus is a pure function of (conv, turn, seed) —
    identical content at any partitioning (the property the two-level
    scaling bench depends on)."""
    from miru_spark.transcripts import generate_transcripts

    a = generate_transcripts(spark, n_convs=50, max_turns=8, seed=9)
    b = generate_transcripts(
        spark.range(0).sparkSession, n_convs=50, max_turns=8, seed=9
    ).repartition(7)
    assert a.exceptAll(b).count() == 0
    assert b.exceptAll(a).count() == 0


def test_ts_monotonic_in_prime_order(spark, tiny_turns):
    pdf = (
        with_docint(tiny_turns).select("docint", "ts").orderBy("docint").toPandas()
    )
    assert pdf["ts"].is_monotonic_increasing


def test_prefix_sum_matches_global_window(spark, tiny_turns):
    """The two-level prefix sum must assign exactly the docints of a
    naive global window, at any input parallelism."""
    from pyspark.sql import Window, functions as F

    from miru_spark.docids import with_docint

    convs = tiny_turns.groupBy("conv_id").agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("conv_id").rowsBetween(Window.unboundedPreceding, -1)
    offs = convs.select(
        "conv_id", F.coalesce(F.sum("n").over(w), F.lit(0)).alias("off")
    )
    exp = {
        (r["conv_id"], r["turn_idx"]): r["off"] + r["turn_idx"]
        for r in tiny_turns.join(offs, "conv_id").collect()
    }
    a = {
        (r["conv_id"], r["turn_idx"]): r["docint"]
        for r in with_docint(tiny_turns).collect()
    }
    assert a == exp
    rep = tiny_turns.repartition(7)
    c = {
        (r["conv_id"], r["turn_idx"]): r["docint"]
        for r in with_docint(rep).collect()
    }
    assert a == c


def test_duplicate_keys_fail_loudly(spark, tmp_path):
    """Duplicate (conv_id, turn_idx) keys would alias one docint: every
    write path rejects them instead of indexing two docs as one."""
    import pytest
    from pyspark.sql import functions as F

    from miru_spark.index import InvertedIndex
    from miru_spark.indexing.incremental import SegmentStore

    df = spark.createDataFrame(
        [
            ("c0", 0, "user", "alpha", None),
            ("c1", 0, "user", "beta", None),
            ("c1", 0, "user", "gamma", None),
            ("c1", 1, "user", "delta", None),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string",
    ).withColumn("ts", F.current_timestamp())
    with pytest.raises(Exception, match=r"duplicate \(conv_id, turn_idx\) key in conv_id c1"):
        InvertedIndex.build_persisted(df, str(tmp_path / "idx"))
    store = SegmentStore(spark, str(tmp_path / "store"), n_shards=2)
    store.build(df.where(F.col("conv_id") == "c0"))
    with pytest.raises(Exception, match=r"duplicate \(conv_id, turn_idx\) key in conv_id c1"):
        store.append(df.where(F.col("conv_id") == "c1"))
    assert store.load().n_docs == 1
