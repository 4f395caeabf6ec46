"""Engine robustness at the boundaries."""

import pytest
from pyspark.sql import functions as F

from miru_spark.index import InvertedIndex
from miru_spark.io import iceberg_available, read_table, write_table
from miru_spark.query.bm25 import search


def _mk(spark, rows):
    return spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string"
    ).withColumn("ts", F.current_timestamp())


def test_k_larger_than_matches(spark):
    idx = InvertedIndex.build(_mk(spark, [("c0", 0, "user", "alpha beta", None)]))
    out = search(idx, "alpha", k=100).toPandas()
    assert len(out) == 1


def test_absent_term(spark):
    idx = InvertedIndex.build(_mk(spark, [("c0", 0, "user", "alpha", None)]))
    assert search(idx, "zzz", k=5).count() == 0
    assert search(idx, "zzz OR alpha", k=5).count() == 1
    assert search(idx, "zzz AND alpha", k=5).count() == 0


def test_empty_and_null_text(spark):
    idx = InvertedIndex.build(
        _mk(spark, [("c0", 0, "user", "", None), ("c0", 1, "user", None, None),
                    ("c0", 2, "user", "alpha", None)])
    )
    assert idx.n_docs == 3  # empty docs still exist (doclen 0)
    out = search(idx, "alpha", k=5).toPandas()
    assert len(out) == 1 and out.iloc[0]["turn_idx"] == 2


def test_unicode_and_punctuation_text(spark):
    idx = InvertedIndex.build(
        _mk(spark, [("c0", 0, "user", "café ☃ naïve's test-case §§ alpha", None)])
    )
    # non-ascii are separators by design; ascii fragments survive
    terms = {r["term"] for r in idx.terms.collect()}
    assert "alpha" in terms and "test" in terms and "case" in terms
    assert "caf" in terms  # é splits the word
    assert search(idx, "alpha AND test", k=5).count() == 1


def test_very_long_doc(spark):
    long_text = " ".join(f"w{i % 50}" for i in range(20_000))
    idx = InvertedIndex.build(_mk(spark, [("c0", 0, "user", long_text, None)]))
    row = idx.docs.collect()[0]
    assert row["doclen"] == 20_000
    assert search(idx, "w0", k=1).count() == 1


def test_io_shim_parquet_fallback(spark, tmp_path):
    assert not iceberg_available(spark)  # no jars in this container
    df = _mk(spark, [("c0", 0, "user", "alpha", None)])
    fmt = write_table(df, str(tmp_path / "t"), partition_by=["role"])
    assert fmt == "parquet"
    back = read_table(spark, str(tmp_path / "t"))
    assert back.count() == 1 and "role" in back.columns


def test_persisted_postings_files_sorted(spark, tiny_turns, tmp_path):
    """Layout guard: every written postings file must be (term, docint)
    sorted INSIDE itself — the property term row-group pruning relies
    on. Round 2 silently lost it to EliminateSorts (the writer's
    required-ordering sort made the explicit sort redundant); the
    bucket sort prefix in _bucketed_for_write is what keeps it (see
    BENCH/BASELINE.md round-4 attribution). Checked for every segment
    kind: the bucketed build, and a store's build unit, append delta,
    tiered merge and expunge."""
    import glob

    import pyarrow.parquet as pq

    from miru_spark.indexing.incremental import SegmentStore

    def assert_sorted(pattern):
        files = glob.glob(pattern)
        assert files, pattern
        for f in files:
            t = pq.read_table(f, columns=["term", "docint"])
            pairs = list(
                zip(t.column("term").to_pylist(), t.column("docint").to_pylist())
            )
            assert pairs == sorted(pairs), f"unsorted postings file: {f}"

    d = str(tmp_path / "seg")
    InvertedIndex.build_persisted(tiny_turns, d, positions=False)
    assert_sorted(f"{d}/postings/bucket=*/*.parquet")

    convs = sorted(r[0] for r in tiny_turns.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    s = str(tmp_path / "store")
    store = SegmentStore(spark, s, n_shards=2)
    store.build(tiny_turns.where(F.col("conv_id") < cut))
    assert_sorted(f"{s}/shard=*/delta_0000/postings/*.parquet")
    store.append(tiny_turns.where(F.col("conv_id") >= cut))
    assert_sorted(f"{s}/shard=*/delta_0001/postings/*.parquet")
    assert store.compact(merge_factor=2) == 2
    assert_sorted(f"{s}/shard=*/merged_0000_0001/postings/*.parquet")
    store.expunge(store.load().docs.where(F.col("turn_idx") == 0).select("docint"))
    assert_sorted(f"{s}/shard=*/merged_0002/postings/*.parquet")
