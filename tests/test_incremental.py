"""Resumable sharded build + sip-style append + merge (north rule:
checkpointed per-partition lineage + metrics; reference sip cursor
MiruSipIndex.java:20-42, FullTextGatherer.java:175-253)."""

from __future__ import annotations

import numpy as np
import pytest

from miru_spark.indexing.incremental import SegmentStore
from miru_spark.oracle import PandasIndex
from miru_spark.query.bm25 import search

N_SHARDS = 4


def _store(spark, path):
    return SegmentStore(spark, str(path), n_shards=N_SHARDS)


def _assert_matches_oracle(idx, pdf, query, k=10):
    got = search(idx, query, k=k).toPandas()
    exp = PandasIndex(pdf).search(query, k=k)
    # sharded docints differ from the oracle's global rank — compare doc
    # identity sets and scores (scores use global stats, so they match)
    gset = {(r.conv_id, r.turn_idx): r.score for r in got.itertuples()}
    eset = {(r.conv_id, r.turn_idx): r.score for r in exp.itertuples()}
    # ties at the k boundary may resolve to different docs; compare score
    # multisets and the non-tied prefix
    assert np.allclose(
        sorted(gset.values()), sorted(eset.values()), atol=1e-6
    ), query
    for key, s in gset.items():
        if key not in eset:
            assert any(abs(s - v) < 1e-6 for v in eset.values()), (query, key)


def test_resume_after_failure(spark, tiny_turns, tiny_pdf, tmp_path):
    store = _store(spark, tmp_path / "seg")
    with pytest.raises(RuntimeError, match="injected failure"):
        store.build(tiny_turns, fail_after=2)
    assert len(store.manifest()) == 2  # two shards committed before the kill
    # resume: only the remaining shards build
    store.build(tiny_turns)
    m = store.manifest()
    assert len(m) == N_SHARDS
    assert sorted(e["shard"] for e in m) == list(range(N_SHARDS))
    assert sum(e["n_turns"] for e in m) == len(tiny_pdf)
    # metrics + lineage present
    for e in m:
        assert e["build_ms"] >= 0 and e["n_postings"] > 0 and e["files"]
    idx = store.load()
    assert idx.n_docs == len(tiny_pdf)
    _assert_matches_oracle(idx, tiny_pdf, "w00001 AND w00004")
    _assert_matches_oracle(idx, tiny_pdf, "w00000")


def test_build_is_idempotent(spark, tiny_turns, tmp_path):
    store = _store(spark, tmp_path / "seg")
    store.build(tiny_turns)
    n = len(store.manifest())
    store.build(tiny_turns)  # no-op: all shards present
    assert len(store.manifest()) == n


def test_sharded_blocks_rank_identical(spark, tiny_turns, tiny_pdf, tmp_path):
    """Block segments across shard+delta units: unit boundaries are
    block-aligned, drift-proof (max_tf, min_dl) bounds — block paths
    must match the flat engine on the combined store."""
    from miru_spark.query.blockmax import search_blocks_and, search_blocks_or

    store = SegmentStore(spark, str(tmp_path / "segb"), n_shards=2, blocks=True)
    store.build(tiny_turns.where("conv_id < 'conv00000050'"))
    store.append(tiny_turns)  # delta units under a grown corpus
    idx = store.load()
    assert idx.blocks is not None
    for terms, mode in [
        (["w00001", "w00004"], "and"),
        (["w00003", "w09999"], "or"),
        (["w00000"], "or"),
    ]:
        if mode == "and":
            got = search_blocks_and(idx, terms, k=10).toPandas()
            exp = search(idx, " AND ".join(terms), k=10).toPandas()
        else:
            got = search_blocks_or(idx, terms, k=10, probe_blocks=1).toPandas()
            exp = search(idx, " OR ".join(terms), k=10).toPandas()
        assert list(got["docint"]) == list(exp["docint"]), terms
    # merge rebuilds blocks; still identical
    for s in range(2):
        store.merge_shard(s)
    idx2 = store.load()
    assert idx2.blocks is not None
    got = search_blocks_and(idx2, ["w00001", "w00004"], k=10).toPandas()
    exp = search(idx2, "w00001 AND w00004", k=10).toPandas()
    assert list(got["docint"]) == list(exp["docint"])


def test_append_and_merge(spark, tiny_turns, tiny_pdf, tmp_path):
    half1 = tiny_turns.where("conv_id < 'conv00000050'")
    half2 = tiny_turns.where("conv_id >= 'conv00000050'")
    store = _store(spark, tmp_path / "seg")
    store.build(half1)
    base_docs = store.load().n_docs
    # sip append: only rows beyond the watermark get indexed
    store.append(tiny_turns)  # includes already-indexed rows — skipped
    idx = store.load()
    assert idx.n_docs == len(tiny_pdf)
    assert base_docs < len(tiny_pdf)
    _assert_matches_oracle(idx, tiny_pdf, "w00001 AND w00004")
    # appending the same data again is a no-op
    store.append(tiny_turns)
    assert store.load().n_docs == len(tiny_pdf)
    # merge compacts delta segments; results unchanged
    for s in range(N_SHARDS):
        store.merge_shard(s)
    idx2 = store.load()
    assert idx2.n_docs == len(tiny_pdf)
    _assert_matches_oracle(idx2, tiny_pdf, "w00001 AND w00004")
    _assert_matches_oracle(idx2, tiny_pdf, "w00003 OR w09999")


def test_merge_is_crash_atomic(spark, tiny_turns, tiny_pdf, tmp_path):
    """A merged unit commits via one rename BEFORE sources are deleted;
    stale sources (crash between rename and cleanup) are superseded by
    the live-unit rule and swept by a re-run."""
    import os

    half1 = tiny_turns.where("conv_id < 'conv00000050'")
    store = _store(spark, tmp_path / "seg")
    store.build(half1)
    store.append(tiny_turns)
    store.merge_shard(0)
    sdir = str(tmp_path / "seg" / "shard=0")
    names = sorted(os.listdir(sdir))
    assert any(n.startswith("merged_") for n in names)
    # simulate a crash that left a stale (already-merged) source behind
    os.makedirs(os.path.join(sdir, "delta_0000"), exist_ok=True)
    idx = store.load()  # stale dir superseded, not read
    assert idx.n_docs == len(tiny_pdf)
    _assert_matches_oracle(idx, tiny_pdf, "w00001 AND w00004")
    store.merge_shard(0)  # idempotent re-run sweeps the stale dir
    assert "delta_0000" not in os.listdir(sdir)
    # appends after a merge continue the lineage
    assert store.load().n_docs == len(tiny_pdf)


def test_concurrent_shard_build_equivalent(spark, tiny_turns, tiny_pdf, tmp_path):
    """Thread-pooled shard builds (concurrent Spark jobs) produce the
    same store as the serial loop — same manifest coverage, same
    answers."""
    serial = _store(spark, tmp_path / "ser")
    serial.build(tiny_turns)
    conc = _store(spark, tmp_path / "conc")
    conc.build(tiny_turns, max_concurrent=4)
    m = conc.manifest()
    assert sorted(e["shard"] for e in m) == list(range(N_SHARDS))
    assert sum(e["n_turns"] for e in m) == len(tiny_pdf)
    a = serial.load()
    b = conc.load()
    assert b.n_docs == a.n_docs
    ga = search(a, "w00001 AND w00004", k=10).toPandas()
    gb = search(b, "w00001 AND w00004", k=10).toPandas()
    assert sorted(zip(ga["conv_id"], ga["turn_idx"])) == sorted(
        zip(gb["conv_id"], gb["turn_idx"])
    )


def test_snapshot_as_of(spark, tiny_turns, tiny_pdf, tmp_path):
    """Snapshot reads over the manifest log: load(as_of=snap) returns the
    pre-append state; compaction expires older snapshots with a clear
    error instead of silently serving newer data."""
    from miru_spark.indexing.incremental import SnapshotExpiredError

    half1 = tiny_turns.where("conv_id < 'conv00000050'")
    store = _store(spark, tmp_path / "snap")
    store.build(half1)
    snap1 = store.snapshot_id()
    n1 = store.load().n_docs
    store.append(tiny_turns)
    assert store.load().n_docs == len(tiny_pdf)
    # time travel: as-of snap1 still sees only the first half
    old = store.load(as_of=snap1)
    assert old.n_docs == n1
    assert old.docs.count() == n1
    # after compaction the old snapshot is expired, the head still loads
    for s in range(N_SHARDS):
        store.merge_shard(s)
    assert store.load().n_docs == len(tiny_pdf)
    assert store.load(as_of=store.snapshot_id()).n_docs == len(tiny_pdf)
    import pytest as _pytest

    with _pytest.raises(SnapshotExpiredError):
        store.load(as_of=snap1).docs.count()


def test_repair_versioned_upsert(spark, tiny_turns, tiny_pdf, tmp_path):
    """REPAIR (MiruIndexer.java:128-162): higher-version re-send replaces
    the stored doc (new text searchable, old text gone, stats exact);
    stale versions are discarded; a later append after a repair does not
    re-admit already-indexed rows (watermark stays monotonic)."""
    import pyspark.sql.functions as F

    store = _store(spark, tmp_path / "seg")
    prefix = tiny_turns.where(F.col("conv_id") < "conv00000030")
    store.build(prefix)
    n0 = store.load().n_docs

    pred = (F.col("conv_id") == "conv00000003") & (F.col("turn_idx") == 1)
    fresh = (
        tiny_turns.where(pred)
        .withColumn("text", F.lit("zzrepaired token alpha alpha"))
        .withColumn("ts", F.col("ts") + F.expr("INTERVAL 1 DAY"))
    )
    store.repair(fresh)
    idx = store.load()
    assert idx.n_docs == n0  # replace, not add
    hits = search(idx, "zzrepaired", k=5).collect()
    assert [(r["conv_id"], r["turn_idx"]) for r in hits] == [("conv00000003", 1)]
    # the old version is physically gone: its terms no longer hit the doc
    old_text = {
        (r.conv_id, r.turn_idx)
        for r in search(idx, "alpha", k=100).toPandas().itertuples()
    }
    assert ("conv00000003", 1) in old_text  # repaired text has alpha twice

    # stale (older ts) repair is discarded
    stale = (
        tiny_turns.where(pred)
        .withColumn("text", F.lit("poisonmarker"))
        .withColumn("ts", F.col("ts") - F.expr("INTERVAL 30 DAY"))
    )
    store.repair(stale)
    idx = store.load()
    assert search(idx, "poisonmarker", k=5).count() == 0
    assert search(idx, "zzrepaired", k=5).count() == 1

    # append after repair: watermark must not have regressed
    store.append(tiny_turns)
    idx = store.load()
    total = tiny_turns.count()
    assert idx.n_docs == total  # no duplicates, no losses
    dup = (
        idx.docs.groupBy("conv_id", "turn_idx").count().where(F.col("count") > 1)
    )
    assert dup.count() == 0

    # brand-new key via repair == plain insert
    ins = (
        tiny_turns.limit(1)
        .withColumn("conv_id", F.lit("conv99999999"))
        .withColumn("text", F.lit("freshinsert"))
    )
    store.repair(ins)
    assert search(store.load(), "freshinsert", k=5).count() == 1


def test_append_schema_additive_gate(spark, tiny_turns, tmp_path):
    """MiruSchema.checkAdditive parity: an append may ADD columns (old
    units read them as NULL) but dropping or retyping a stored column
    is rejected before any unit is written."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from miru_spark.indexing.incremental import SchemaNotAdditiveError

    store = _store(spark, tmp_path / "seg")
    store.build(tiny_turns.where(F.col("conv_id") < "conv00000050"))

    # additive: a new metadata column is accepted and survives load()
    extra = tiny_turns.where(F.col("conv_id") >= "conv00000050").withColumn(
        "source_tag", F.lit("batch2")
    )
    store.append(extra)
    docs = store.load().docs
    assert "source_tag" in docs.columns
    tags = {r["source_tag"] for r in docs.select("source_tag").distinct().collect()}
    assert tags == {None, "batch2"}  # old units read the new column as NULL

    # dropped column → rejected, nothing written
    n_units = len(store.manifest())
    # (the union gate also reports 'source_tag' missing — the batch
    # carries neither column)
    with _pytest.raises(SchemaNotAdditiveError, match="missing columns \\[.*'ts'"):
        store.append(tiny_turns.drop("ts"))
    # retyped column → rejected
    with _pytest.raises(SchemaNotAdditiveError, match="retyped"):
        store.append(tiny_turns.withColumn("turn_idx", F.col("turn_idx").cast("long")))
    assert len(store.manifest()) == n_units


def test_append_schema_gate_checks_union_of_units(spark, tiny_turns, tmp_path):
    """The gate compares against the UNION of live-unit schemas, not an
    arbitrary (oldest) unit: after an additive append introduces a
    column, a later batch WITHOUT that column must be rejected."""
    import pyspark.sql.functions as F
    import pytest as _pytest

    from miru_spark.indexing.incremental import SchemaNotAdditiveError

    store = _store(spark, tmp_path / "seg")
    store.build(tiny_turns.where(F.col("conv_id") < "conv00000050"))
    mid = tiny_turns.where(
        (F.col("conv_id") >= "conv00000050") & (F.col("conv_id") < "conv00000080")
    )
    store.append(mid.withColumn("source_tag", F.lit("batch2")))

    late = tiny_turns.where(F.col("conv_id") >= "conv00000080")
    with _pytest.raises(
        SchemaNotAdditiveError, match="missing columns \\['source_tag'\\]"
    ):
        store.append(late)  # oldest unit lacks source_tag; the union has it
    # carrying the evolved column is accepted
    store.append(late.withColumn("source_tag", F.lit("batch3")))


def test_single_writer_lockfile_two_process(spark, tiny_turns, tmp_path):
    """Cross-process single-writer contract is ENFORCED, not just
    documented: while another live process holds the store's writer
    lock, every write entry point raises ConcurrentWriterError; a lock
    left by a DEAD process is stale and gets stolen."""
    import json
    import os
    import subprocess
    import sys
    import time

    from miru_spark.indexing.incremental import ConcurrentWriterError

    store = _store(spark, tmp_path / "locked")
    store.build(tiny_turns.where("conv_id < 'conv00000030'"))
    assert not os.path.exists(store._lock_path)  # released after build

    # a second LIVE process takes the lock and holds it
    holder = subprocess.Popen(
        [
            sys.executable,
            "-c",
            "import json,os,sys,time;"
            "p=sys.argv[1];"
            "fd=os.open(p,os.O_CREAT|os.O_EXCL|os.O_WRONLY);"
            "os.write(fd,json.dumps({'pid':os.getpid()}).encode());"
            "os.close(fd);print('held',flush=True);time.sleep(60)",
            store._lock_path,
        ],
        stdout=subprocess.PIPE,
    )
    try:
        assert holder.stdout.readline().strip() == b"held"
        with pytest.raises(ConcurrentWriterError):
            store.append(tiny_turns.where("conv_id >= 'conv00000030'"))
        with pytest.raises(ConcurrentWriterError):
            store.compact()
    finally:
        holder.kill()
        holder.wait()

    # the holder is dead now: its lock is stale and is stolen
    assert os.path.exists(store._lock_path)
    store.append(tiny_turns.where("conv_id >= 'conv00000030'"))
    assert not os.path.exists(store._lock_path)
    assert store.load().n_docs == tiny_turns.count()


def test_manifest_duplicate_commit_entries_fold_once(
    spark, tiny_turns, tmp_path
):
    """The reader-finishes-commit race can append the same (shard,
    delta) entry twice; manifest() folding must dedupe so per-shard
    n_docs/sum_doclen are not double-counted on load, and the LAST of
    the duplicates wins (a corrected replay replaces the first)."""
    import json

    store = _store(spark, tmp_path / "dup")
    store.build(tiny_turns)
    n = store.load().n_docs
    man = store._manifest_path
    with open(man) as f:
        first = f.readline()
    with open(man, "a") as f:
        f.write(first)  # duplicate replay of the first commit
    assert store.load().n_docs == n
    assert store.load().avg_doclen == pytest.approx(
        SegmentStore(spark, str(tmp_path / "dup"), n_shards=N_SHARDS)
        .load()
        .avg_doclen
    )
    sdl = sum(e["sum_doclen"] for e in store.manifest())
    corrected = json.loads(first)
    corrected["sum_doclen"] += 1000
    with open(man, "a") as f:
        f.write(json.dumps(corrected) + "\n")  # corrected replay
    assert len(store.manifest()) == N_SHARDS
    assert store.manifest()[0] == corrected
    idx = store.load()
    assert idx.n_docs == n
    assert idx.avg_doclen == pytest.approx((sdl + 1000) / n)


def test_write_paths_release_persisted_relations(spark, tiny_turns, tmp_path):
    """A long-lived session must not accumulate cached relations: the
    docint assignment's persisted conv relation is released once each
    segment is written (build_persisted, store build, append; merge and
    expunge persist nothing). Compared by RDD id: the JVM drops
    persisted RDDs it garbage-collects, so an unrelated earlier entry
    may vanish meanwhile."""
    from pyspark.sql import functions as F

    from miru_spark.index import InvertedIndex

    def persisted():
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    start = persisted()
    InvertedIndex.build_persisted(tiny_turns, str(tmp_path / "idx"))
    convs = sorted(r[0] for r in tiny_turns.select("conv_id").distinct().collect())
    cut = convs[len(convs) // 2]
    store = _store(spark, tmp_path / "store")
    store.build(tiny_turns.where(F.col("conv_id") < cut))
    store.append(tiny_turns.where(F.col("conv_id") >= cut))
    assert store.compact(merge_factor=2) > 0
    store.expunge(store.load().docs.where(F.col("turn_idx") == 0).select("docint"))
    assert persisted() <= start
