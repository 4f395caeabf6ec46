"""Sharded, resumable, incremental index build with a manifest.

Reference semantics being re-expressed (enterstudio/miru):

- a tenant's stream splits into capacity-bounded partitions, each with
  its own dense doc-id space handed out by a writer cursor
  (``miru-writer/.../AmzaPartitionIdProvider.java:49,118-138``);
- ingestion is resumable from a **sip cursor** — a durable checkpoint
  of the last consumed position plus custom keys
  (``miru-plugin/.../index/MiruSipIndex.java:20-42``); the deferred
  text indexer advances its own checkpoint after each consumed batch
  (``miru-stream-plugins/.../fulltext/FullTextGatherer.java:175-253``);
- rebuild is an idempotent replay (``MiruLocalHostedPartition.rebuild``).

Spark-native design:

- the conv_id space hash-splits into ``n_shards`` **shards**; each shard
  builds an independent segment directory, so a killed build re-runs
  ONLY the shards missing from the manifest (per-partition lineage);
- docint is composite: ``(shard_id << 40) | local_id`` with local_id
  dense in (conv_id, turn_idx) order within the shard — Miru's
  partition-scoped prime ordering. 2^40 turns/shard × 2^23 shards
  covers the 10^12-turn target without any global sort;
- appends land as **delta segments** per shard (``delta_k``), with the
  shard watermark = max (conv_id, turn_idx) already indexed; new local
  ids continue after the shard's ``next_id`` (insertion order, exactly
  the reference's append semantics);
- ``manifest.jsonl`` records one line per completed unit with lineage
  + metrics: shard, delta index, watermark, row/posting counts, build
  wall-time, files;
- an explicit **merge job** compacts a shard's base+delta segments into
  one sorted segment (the reference's chit-throttled delta→chunk merge,
  ``MiruPartitionAccessor.merge:362-387``).

Query serving loads the union of all live segments; BM25 term stats
(df/cf) and corpus stats aggregate across segments at load — global,
unlike the reference's per-partition scoring (an upgrade, not a drift:
rank-identity is defined against this engine's oracle).
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.docids import release_docint, with_docint
from miru_spark.index import InvertedIndex
from miru_spark.indexing.build import (
    SegmentStats,
    postings_flat,
    segment_stats,
    write_segment,
)

SHARD_BITS = 40

# serializes manifest.jsonl appends across concurrent shard-build threads
import threading

_MANIFEST_LOCK = threading.Lock()

# cross-PROCESS single-writer enforcement: depth registry (per store
# abspath) makes the lockfile re-entrant within one process — in-process
# concurrency (build(max_concurrent), repair→expunge) is by design and
# serialized where it matters by _MANIFEST_LOCK; the lockfile only
# rejects a SECOND PROCESS writing the same store.
_WRITER_DEPTH: dict[str, int] = {}
_WRITER_DEPTH_GUARD = threading.Lock()


class ConcurrentWriterError(RuntimeError):
    """A second process attempted to write a store that already has a
    live writer (single-writer-per-store contract)."""


class SnapshotExpiredError(RuntimeError):
    """A requested store snapshot has been rewritten by compaction
    (the Iceberg expire_snapshots contract)."""


class SchemaNotAdditiveError(ValueError):
    """An appended batch's schema drops or retypes a stored column."""


def check_additive(old, new) -> None:
    """Validate that ``new`` (StructType) is an ADDITIVE evolution of
    ``old``: every stored field must still exist with the identical
    type; brand-new fields are allowed (they read back as NULL for old
    units via the mergeSchema docs read). The reference gates delta
    schemas the same way before accepting them
    (``MiruSchema.checkAdditive``, MiruSchema.java:303-314)."""
    newf = {f.name: f for f in new.fields}
    missing = [f.name for f in old.fields if f.name not in newf]
    changed = [
        f"{f.name}: {f.dataType.simpleString()} -> "
        f"{newf[f.name].dataType.simpleString()}"
        for f in old.fields
        if f.name in newf and newf[f.name].dataType != f.dataType
    ]
    if missing or changed:
        raise SchemaNotAdditiveError(
            f"batch schema is not additive w.r.t. the store: "
            f"missing columns {missing}, retyped {changed}"
        )


def _align_block(local_id: int) -> int:
    """Round a writer cursor up to the next block boundary so a
    (term, block_id) group never spans two segment units — the property
    the block-max query path needs to treat block rows independently."""
    from miru_spark.indexing.blocks import BLOCK_BITS

    size = 1 << BLOCK_BITS
    return ((local_id + size - 1) // size) * size


def _single_writer(fn):
    """Decorator: run a SegmentStore write method under the
    cross-process writer lock (re-entrant — see ``_writer_lock``)."""
    import functools

    @functools.wraps(fn)
    def wrapper(self, *args, **kwargs):
        with self._writer_lock():
            return fn(self, *args, **kwargs)

    return wrapper


def shard_col(n_shards: int):
    return F.pmod(F.xxhash64(F.col("conv_id")), F.lit(n_shards)).cast("int")


@dataclass
class SegmentStore:
    spark: SparkSession
    path: str
    n_shards: int = 8
    positions: bool = False
    blocks: bool = False

    # -- manifest ----------------------------------------------------------

    @property
    def _manifest_path(self) -> str:
        return os.path.join(self.path, "manifest.jsonl")

    def manifest(self) -> list[dict]:
        if not os.path.exists(self._manifest_path):
            return []
        with open(self._manifest_path) as f:
            entries = [json.loads(line) for line in f if line.strip()]
        # Idempotent folding: a crash-window race can append the SAME
        # (shard, delta) commit twice — a concurrent reader's
        # recover() finishes a rename-committed unit whose writer then
        # also appends its own entry. Both entries are recomputed from
        # the unit's contents; the LAST one wins (a later replay is the
        # corrected record, the usual log convention), kept at the
        # first one's place so the per-shard folds on load see each
        # commit once and in commit order. Merge markers
        # ({**st, "merged_from": ...}) legitimately reuse their shard's
        # current delta index and are keyed separately.
        at: dict = {}
        out: list[dict] = []
        for e in entries:
            key = (
                e["shard"],
                e["delta"],
                tuple(e["merged_from"]) if "merged_from" in e else None,
            )
            if key in at:
                out[at[key]] = e
            else:
                at[key] = len(out)
                out.append(e)
        return out

    def _append_manifest(self, entry: dict) -> None:
        # concurrent shard builds (build(max_concurrent>1)) append from
        # several driver threads; serialize the file append
        with _MANIFEST_LOCK:
            os.makedirs(self.path, exist_ok=True)
            with open(self._manifest_path, "a") as f:
                f.write(json.dumps(entry) + "\n")

    # -- single-writer lock ------------------------------------------------

    @property
    def _lock_path(self) -> str:
        return os.path.join(self.path, "_writer.lock")

    def _writer_lock(self):
        """Context manager enforcing the single-writer-per-store
        contract ACROSS PROCESSES (the documented assumption of
        ``recover(sweep_tmp=False)`` — see :meth:`recover`). An atomic
        ``O_CREAT|O_EXCL`` lockfile holds the writer's PID; a second
        process raises :class:`ConcurrentWriterError` while the owner
        is alive, and STEALS the lock if the recorded PID is dead
        (stale lock after a crash — recover() then heals any torn
        commit). Re-entrant within one process via a depth registry,
        so nested write paths (repair→expunge, compact→merge_units)
        and build(max_concurrent) threads share one acquisition."""
        import contextlib

        @contextlib.contextmanager
        def guard():
            key = os.path.abspath(self.path)
            with _WRITER_DEPTH_GUARD:
                depth = _WRITER_DEPTH.get(key, 0)
                if depth == 0:
                    self._acquire_lockfile()
                _WRITER_DEPTH[key] = depth + 1
            try:
                yield
            finally:
                with _WRITER_DEPTH_GUARD:
                    _WRITER_DEPTH[key] -= 1
                    if _WRITER_DEPTH[key] == 0:
                        del _WRITER_DEPTH[key]
                        try:
                            os.remove(self._lock_path)
                        except OSError:
                            pass

        return guard()

    def _acquire_lockfile(self, max_steals: int = 3) -> None:
        os.makedirs(self.path, exist_ok=True)
        for _ in range(max_steals):
            try:
                fd = os.open(
                    self._lock_path, os.O_CREAT | os.O_EXCL | os.O_WRONLY
                )
                with os.fdopen(fd, "w") as f:
                    f.write(json.dumps({"pid": os.getpid()}))
                return
            except FileExistsError:
                pass
            try:
                with open(self._lock_path) as f:
                    owner = int(json.load(f)["pid"])
            except (OSError, ValueError, KeyError, json.JSONDecodeError):
                owner = None  # torn lock write: treat as stale
            if owner == os.getpid():
                return  # already ours (registry lost to a prior error)
            if owner is not None:
                try:
                    os.kill(owner, 0)  # probe only; signal 0 delivers nothing
                    raise ConcurrentWriterError(
                        f"store {self.path} is locked by live writer "
                        f"pid {owner} (single-writer contract)"
                    )
                except ProcessLookupError:
                    pass  # owner died: stale lock
                except PermissionError:
                    # pid exists but isn't ours to probe: assume live
                    raise ConcurrentWriterError(
                        f"store {self.path} is locked by writer pid "
                        f"{owner} (single-writer contract)"
                    )
            # stale: remove and retry the exclusive create (a racing
            # second stealer loses the O_EXCL and re-probes the winner)
            try:
                os.remove(self._lock_path)
            except OSError:
                pass
        raise ConcurrentWriterError(
            f"could not acquire writer lock for {self.path}"
        )

    def shard_state(self) -> dict[int, dict]:
        """Latest watermark/next_id per shard from the manifest."""
        state: dict[int, dict] = {}
        for e in self.manifest():
            s = e["shard"]
            cur = state.get(s)
            if cur is None or e["delta"] >= cur["delta"]:
                state[s] = e
        return state

    # -- build -------------------------------------------------------------

    @_single_writer
    def build(
        self,
        turns: DataFrame,
        fail_after: int | None = None,
        max_concurrent: int = 1,
    ) -> None:
        """Full build, resumable: skips shards already in the manifest.

        ``fail_after`` aborts after N shards (test hook for the
        kill-and-resume scenario). ``max_concurrent`` > 1 submits that
        many shard builds from concurrent driver threads — Spark
        schedules jobs from separate threads simultaneously, so one
        shard's write stage overlaps another's tokenize stage instead
        of the cluster draining between serial jobs. Each shard's unit
        is still an independent manifest entry (resumability is
        per-shard either way); at very high shard counts batch the
        range into groups of ``max_concurrent``.
        """
        self.recover()  # finish/sweep any crashed prior commit first
        done = {s for s, e in self.shard_state().items() if e["delta"] == 0}
        with_shard = turns.withColumn("_shard", shard_col(self.n_shards))
        todo = [s for s in range(self.n_shards) if s not in done]
        if fail_after is not None:
            if fail_after < len(todo):
                for s in todo[:fail_after]:
                    self._build_unit(
                        with_shard.where(F.col("_shard") == s).drop("_shard"),
                        shard=s, delta=0,
                    )
                raise RuntimeError(f"injected failure after {fail_after} shards")
        if max_concurrent <= 1:
            for s in todo:
                self._build_unit(
                    with_shard.where(F.col("_shard") == s).drop("_shard"),
                    shard=s, delta=0,
                )
            return
        from concurrent.futures import ThreadPoolExecutor

        def one(s: int) -> None:
            self._build_unit(
                with_shard.where(F.col("_shard") == s).drop("_shard"),
                shard=s, delta=0,
            )

        with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            for f in [pool.submit(one, s) for s in todo]:
                f.result()  # surface the first failure

    @_single_writer
    def append(self, new_turns: DataFrame) -> None:
        """Sip-style incremental append: index only rows beyond each
        shard's watermark, as a new delta segment per touched shard.

        The per-shard watermark predicate is applied via ONE broadcast
        join against the (tiny, driver-side) manifest state, and a single
        ``groupBy(_shard).count()`` job decides which shards have fresh
        rows — an empty append costs one Spark job total, not one
        ``limit(1).count()`` probe per shard."""
        self.recover()
        self._check_batch_schema(new_turns)
        state = self.shard_state()
        with_shard = new_turns.withColumn("_shard", shard_col(self.n_shards))
        wm_rows = [
            (s, st["watermark_conv"], st["watermark_turn"])
            for s, st in state.items()
            if st["watermark_conv"] is not None
        ]
        fresh = with_shard
        if wm_rows:
            wm = F.broadcast(
                self.spark.createDataFrame(
                    wm_rows, "_shard int, _wc string, _wt int"
                )
            )
            fresh = (
                with_shard.join(wm, "_shard", "left")
                .where(
                    F.col("_wc").isNull()
                    | (F.col("conv_id") > F.col("_wc"))
                    | (
                        (F.col("conv_id") == F.col("_wc"))
                        & (F.col("turn_idx") > F.col("_wt"))
                    )
                )
                .drop("_wc", "_wt")
            )
        self._append_raw(fresh)

    def _check_batch_schema(self, batch: DataFrame) -> None:
        """Gate an incoming batch on additive schema evolution
        (MiruSchema.checkAdditive parity): compare against the UNION of
        every live unit's docs schema (one mergeSchema footer read, no
        Spark job), minus the engine-derived columns. The union is the
        store's current schema — checking a single (oldest) unit would
        let a batch silently drop a column a LATER additive append
        introduced; the reference checks against the latest registered
        schema (MiruSchema.java:303-314)."""
        units = self.live_units()
        if not units:
            return
        from pyspark.sql.types import StructType

        stored = (
            self.spark.read.option("mergeSchema", True)
            .parquet(*[f"{u}/docs" for u in units])
            .schema
        )
        old = StructType(
            [f for f in stored.fields if f.name not in ("docint", "doclen")]
        )
        check_additive(old, batch.schema)

    def _append_raw(self, with_shard: DataFrame) -> None:
        """Index ``with_shard`` rows (a ``_shard`` column routes them) as
        one new delta unit per touched shard. NO watermark filter — the
        caller arbitrates freshness (``append`` filters by watermark,
        ``repair`` by version)."""
        state = self.shard_state()
        touched = sorted(
            r["_shard"]
            for r in with_shard.groupBy("_shard").count().collect()
            if r["count"] > 0
        )
        for s in touched:
            st = state.get(s)
            # delta from max(manifest, on-disk units): after recover()
            # they agree, but a merged unit whose manifest write lost a
            # race must never be shadowed by a same-index delta (the
            # live-unit rule would hide the appended rows forever)
            next_delta = (
                max(st["delta"], self._max_disk_unit(s)) + 1 if st else 0
            )
            self._build_unit(
                with_shard.where(F.col("_shard") == s).drop("_shard"),
                shard=s,
                delta=next_delta,
                st=st,
            )

    @_single_writer
    def repair(self, repairs: DataFrame, version_col: str = "ts") -> None:
        """Versioned upsert — the reference's REPAIR path
        (``MiruIndexer.java:128-162``: an incoming activity whose version
        exceeds the stored one removes the old doc and indexes the new;
        stale versions are discarded).

        ``repairs`` has the transcript schema. Per (conv_id, turn_idx):

        - stored version <= repair version → the old doc is physically
          expunged and the new one indexed as a fresh delta unit (ties
          go to the repair batch, matching ``apply_repairs``);
        - stored version >  repair version → the repair is discarded;
        - no stored doc → plain insert.

        The accepted batch is materialized under the store BEFORE the
        expunge (its lineage reads the very units expunge rewrites, and
        the parquet doubles as the durable repair record): a crash
        between expunge and re-index is recovered by re-running the same
        repair batch — post-crash the old docs are gone, so arbitration
        re-admits every accepted row as a plain insert.

        Index-only arbitration: one left join of the batch against the
        store's docs relation — never a corpus scan. Repaired docs get
        NEW docints (ids are never reassigned); global stats reflect the
        post-repair corpus exactly because the old version is expunged,
        not masked.
        """
        import shutil

        self.recover()
        self._check_batch_schema(repairs)
        existing = (
            self.load()
            .docs.select(
                "docint", "conv_id", "turn_idx", F.col(version_col).alias("_v_old")
            )
        )
        j = repairs.withColumn("_v_new", F.col(version_col)).join(
            existing, ["conv_id", "turn_idx"], "left"
        )
        accepted = j.where(
            F.col("_v_old").isNull() | (F.col("_v_old") <= F.col("_v_new"))
        )
        batch_dir = os.path.join(self.path, "_repair_batch")
        accepted.write.mode("overwrite").parquet(batch_dir)
        accepted = self.spark.read.parquet(batch_dir)
        drop = accepted.where(F.col("docint").isNotNull()).select("docint")
        if drop.limit(1).count() > 0:
            self.expunge(drop)
        self._append_raw(
            accepted.drop("docint", "_v_old", "_v_new").withColumn(
                "_shard", shard_col(self.n_shards)
            )
        )
        shutil.rmtree(batch_dir, ignore_errors=True)

    def _unit_dir(self, shard: int, delta: int) -> str:
        return os.path.join(self.path, f"shard={shard}", f"delta_{delta:04d}")

    def _build_unit(
        self,
        rows: DataFrame,
        shard: int,
        delta: int,
        st: dict | None = None,
    ) -> None:
        """Index ``rows`` as the shard's ``delta_{delta}`` unit, after
        the shard's latest manifest state ``st`` (None for a new shard).

        Crash-atomic like the merge paths: every file is written under
        the shard's ``_delta_tmp`` and the unit is COMMITTED by a single
        ``os.rename`` — a crash mid-write leaves only a tmp dir (never
        served; swept by :meth:`recover`), and a crash between the
        rename and the manifest append is finished by
        :meth:`_finish_delta_commit` (invoked from ``recover`` or on
        re-entry here), which recomputes the manifest entry from the
        committed unit with the same :meth:`_delta_entry`. Without this,
        a torn append would leave a partial (unloadable) unit — or, once
        retried, the same rows indexed twice under the SAME docint
        range, since the retry's watermark predates the orphan.
        """
        import shutil

        t0 = time.time()
        out = self._unit_dir(shard, delta)
        if os.path.isdir(out):
            # rename-committed by a crashed run whose manifest append
            # was lost: finish the manifest instead of re-indexing.
            # Only truly UNmanifested units are finished — a unit with a
            # live manifest entry (e.g. build() re-entered on a store
            # that has later appends) must not be re-appended, or the
            # duplicate entry would double-count into the per-shard
            # n_docs/avg_doclen folds on load.
            if not any(
                e["shard"] == shard and e["delta"] == delta for e in self.manifest()
            ):
                self._finish_delta_commit(shard, self.shard_state().get(shard), delta)
            return
        tmp = os.path.join(os.path.dirname(out), "_delta_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        # local dense id in (conv_id, turn_idx) order, continuing after
        # the shard's writer cursor (block-aligned). with_docint's
        # conv-offset decomposition avoids a single-partition global
        # window even within the shard.
        base_local_id = _align_block(st["next_id"]) if st else 0
        ranked = with_docint(rows)
        base = ranked.withColumn(
            "docint",
            (
                F.lit(shard << SHARD_BITS) + F.lit(base_local_id) + F.col("docint")
            ).cast("long"),
        )
        try:
            stats = write_segment(
                postings_flat(base, positions=self.positions),
                base,
                tmp,
                blocks=self.blocks,
            )
        finally:
            release_docint(ranked)
        entry = self._delta_entry(shard, delta, tmp, stats, st, base_local_id)
        entry["build_ms"] = int((time.time() - t0) * 1000)
        os.rename(tmp, out)  # commit point
        self._append_manifest(entry)

    @staticmethod
    def _delta_entry(
        shard: int,
        delta: int,
        unit_dir: str,
        stats: SegmentStats,
        st: dict | None,
        next_id: int,
    ) -> dict:
        """Manifest entry of a delta unit from its :func:`segment_stats`
        — the one computation behind both the writer's entry and a
        recovered one. ``next_id`` (the cursor to record when the unit
        is empty) otherwise falls out of the max docint's local bits:
        units assign dense local ids, so ``max_local + 1`` IS the writer
        cursor. Watermarks are monotonic per shard: a repair unit
        re-indexes keys BELOW the shard's cursor, and letting its
        (lower) max key become the watermark would re-admit
        already-indexed rows on the next append — the previous
        watermark carries forward if it is higher."""
        key = stats.max_key
        if st is not None and st["watermark_conv"] is not None:
            prev = (st["watermark_conv"], int(st["watermark_turn"] or 0))
            if key is None or prev > key:
                key = prev
        if stats.max_docint is not None:
            next_id = (stats.max_docint & ((1 << SHARD_BITS) - 1)) + 1
        return {
            "shard": shard,
            "delta": delta,
            "watermark_conv": key[0] if key else None,
            "watermark_turn": key[1] if key else None,
            "next_id": int(next_id),
            "n_turns": stats.n_docs,
            "n_postings": stats.n_postings,
            "sum_doclen": stats.sum_doclen,
            "files": sorted(fn for fn in os.listdir(unit_dir) if not fn.startswith(".")),
        }

    def _write_union(
        self, paths: list[str], out: str, drop: DataFrame | None = None
    ) -> SegmentStats:
        """Rewrite the union of unit dirs ``paths`` — minus the docints
        in ``drop`` — as one segment at ``out`` (merge and expunge).
        Units start at block-aligned docints (_align_block), so a
        (term, block_id) group never spans units and the union's blocks
        are rebuilt whole. mergeSchema: units written after an ADDITIVE
        schema evolution carry extra docs columns."""
        post = self.spark.read.parquet(*[f"{p}/postings" for p in paths])
        docs = self.spark.read.option("mergeSchema", "true").parquet(
            *[f"{p}/docs" for p in paths]
        )
        if drop is not None:
            post = post.join(drop, "docint", "left_anti")
            docs = docs.join(drop, "docint", "left_anti")
        post = post.repartition(max(1, post.rdd.getNumPartitions() // len(paths)))
        return write_segment(post, docs, out, blocks=self.blocks)

    # -- merge (compaction) ------------------------------------------------

    @_single_writer
    def merge_shard(self, shard: int, retain_sources: bool = False) -> None:
        """Compact all of a shard's live segments into one (delta→chunk
        merge, reference MiruPartitionAccessor.merge:362-387).

        Crash-atomic: the merged unit is fully written (blocks included)
        under ``_merged_tmp``, COMMITTED by a single ``os.rename`` to
        ``merged_{delta:04d}``, and only then are the source units
        deleted. ``live_units`` prefers the newest merged unit over any
        stale sources at or below its index, so a crash in any window
        leaves a loadable store; re-running the merge finishes cleanup.
        Future appends continue from the same watermark (the manifest's
        delta index is unchanged by a merge)."""
        state = self.shard_state()
        st = state.get(shard)
        if st is None:
            return
        sdir = os.path.join(self.path, f"shard={shard}")
        units = self._live_shard_units(shard)
        merged_name = f"merged_{st['delta']:04d}"
        merged_final = os.path.join(sdir, merged_name)
        if os.path.isdir(merged_final):
            # merge already committed (possibly by a crashed run): clear
            # everything the live-unit rule supersedes and return.
            if not retain_sources:
                self.vacuum_shard(shard)
            return
        if len(units) <= 1:
            return  # nothing to merge
        self._commit_merge(shard, st, units, merged_name, retain_sources)

    def _commit_merge(
        self,
        shard: int,
        st: dict,
        units: list[str],
        merged_name: str,
        retain_sources: bool = False,
    ) -> None:
        """Write the union of ``units`` as one sorted segment, commit it
        as ``merged_name`` via a single rename, manifest it, delete the
        sources. Shared by the full merge (:meth:`merge_shard`) and the
        tiered partial merge (:meth:`merge_units`).

        ``retain_sources=True`` keeps the superseded sources on disk
        (span containment already makes them invisible to serving):
        open readers holding pre-merge unit paths keep working, and
        snapshot reads older than the merge stay reconstructable until
        :meth:`vacuum` reclaims them — Iceberg's snapshot-retention /
        ``expire_snapshots`` split, with vacuum as the expiry."""
        import shutil

        sdir = os.path.join(self.path, f"shard={shard}")
        paths = [os.path.join(sdir, n) for n in units]
        merged_tmp = os.path.join(sdir, "_merged_tmp")
        shutil.rmtree(merged_tmp, ignore_errors=True)
        self._write_union(paths, merged_tmp)
        os.rename(merged_tmp, os.path.join(sdir, merged_name))  # commit point
        self._append_manifest({**st, "merged_from": units, "files": ["merged"]})
        if not retain_sources:
            for p in paths:
                shutil.rmtree(p, ignore_errors=True)

    @_single_writer
    def merge_units(
        self, shard: int, units: list[str], retain_sources: bool = False
    ) -> None:
        """Tiered PARTIAL merge: compact a contiguous run of ≥ 2 live
        units into one ``merged_{lo}_{hi}`` segment (span = the union of
        the sources' spans), leaving the shard's other units untouched.

        The full merge rewrites the whole shard every time — O(n²/k)
        total bytes written over n appends. Real engines bound write
        amplification with a tiered policy instead (Lucene
        ``LogByteSizeMergePolicy``; the reference throttles the same
        delta→chunk merge by chits, ``MiruMergeChits.java:23-64``):
        only similarly-sized neighbours merge, so each posting is
        rewritten O(log n) times. Crash-atomic exactly like
        :meth:`merge_shard`: fully written under ``_merged_tmp``,
        committed by one rename, manifest appended, sources deleted
        last; a crash in any window leaves the store loadable (the
        committed unit's span strictly contains each source's, so
        span-containment liveness drops stale sources)."""
        if len(units) < 2:
            raise ValueError("tiered merge needs >= 2 units")
        spans = [self._unit_span(n) for n in units]
        if sorted(spans) != spans:
            raise ValueError(f"units not span-sorted: {units}")
        for (_, h1), (l2, _) in zip(spans, spans[1:]):
            if l2 != h1 + 1:
                raise ValueError(f"units not contiguous: {units}")
        lo, hi = spans[0][0], spans[-1][1]
        st = self.shard_state().get(shard)
        if st is None:
            return
        merged_name = f"merged_{lo:04d}_{hi:04d}"
        sdir = os.path.join(self.path, f"shard={shard}")
        if os.path.isdir(os.path.join(sdir, merged_name)):
            # already committed (possibly by a crashed run): clear the
            # stale sources the span-containment rule supersedes
            if not retain_sources:
                self.vacuum_shard(shard)
            return
        live = self._live_shard_units(shard)
        for n in units:
            if n not in live:
                raise ValueError(f"{n} is not a live unit of shard {shard}")
        # contiguity within the LIVE sequence too: no live unit may sit
        # inside the merged span without being a source
        for n in live:
            l2, h2 = self._unit_span(n)
            if n not in units and not (h2 < lo or l2 > hi):
                raise ValueError(f"live unit {n} overlaps merge span")
        self._commit_merge(shard, st, units, merged_name, retain_sources)

    @_single_writer
    def vacuum_shard(self, shard: int) -> int:
        """Delete every superseded (non-live) unit and tmp dir of one
        shard; returns how many were removed. This is the expiry half
        of Iceberg's retention contract: snapshots older than the
        oldest surviving source become unreconstructable only HERE,
        never at merge time (when ``retain_sources=True`` was used).
        Also the shared sweeper for crashed-merge leftovers."""
        return self._sweep_shard(shard)

    def _sweep_shard(self, shard: int) -> int:
        """:meth:`vacuum_shard` without the writer lock — also run by
        the read-only ``load`` → ``recover`` path when it finishes a
        crashed expunge."""
        import shutil

        sdir = os.path.join(self.path, f"shard={shard}")
        if not os.path.isdir(sdir):
            return 0
        live = set(self._live_shard_units(shard))
        n = 0
        for name in os.listdir(sdir):
            stale = (
                name.startswith(("delta_", "merged_")) and name not in live
            ) or name in ("_merged_tmp", "_expunge_tmp", "_delta_tmp")
            if stale:
                shutil.rmtree(os.path.join(sdir, name), ignore_errors=True)
                n += 1
        return n

    def vacuum(self) -> int:
        """Vacuum every shard; returns total units removed."""
        return sum(self.vacuum_shard(s) for s in range(self.n_shards))

    def _unit_bytes(self, shard: int, name: str) -> int:
        total = 0
        for root, _, files in os.walk(
            os.path.join(self.path, f"shard={shard}", name)
        ):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
        return total

    def plan_merges(
        self,
        shard: int,
        merge_factor: int = 10,
        min_bytes: int = 1 << 20,
    ) -> list[list[str]]:
        """Log-size-tiered merge plan over one shard's live units
        (Lucene ``LogByteSizeMergePolicy`` semantics): each unit's
        level = floor(log_mf(max(bytes, min_bytes))), and any run of
        ``merge_factor`` CONSECUTIVE units at the same level merges.
        Geometric levels mean a unit participates in at most one merge
        per level it climbs — O(log_mf n) rewrites per posting over the
        store's lifetime, vs O(n) for always-full-merge. ``min_bytes``
        floors the level so tiny deltas (the common sip-append case)
        all land in tier 0 and merge promptly."""
        import math

        live = self._live_shard_units(shard)
        levels = [
            int(
                math.log(max(self._unit_bytes(shard, n), min_bytes))
                / math.log(merge_factor)
            )
            for n in live
        ]
        plans, run = [], [0]
        for i in range(1, len(live) + 1):
            if i < len(live) and levels[i] == levels[run[0]]:
                run.append(i)
                continue
            while len(run) >= merge_factor:
                plans.append([live[j] for j in run[:merge_factor]])
                run = run[merge_factor:]
            run = [i]
        return plans

    @_single_writer
    def compact(
        self,
        merge_factor: int = 10,
        min_bytes: int = 1 << 20,
        retain_sources: bool = False,
        max_concurrent: int = 1,
    ) -> int:
        """Run one round of tiered compaction across every shard;
        returns the number of merges executed. Idempotent and safe to
        run on any schedule (the reference's chit-based background
        merger); repeated calls converge because each merge promotes
        its output at least one level.

        ``max_concurrent`` > 1 runs that many SHARDS' merge chains from
        concurrent driver threads (same pattern as
        ``build(max_concurrent)``): shards are disjoint directories and
        manifest appends are lock-serialized, so shard-level
        parallelism is safe; merges WITHIN a shard stay ordered because
        later plans read the units earlier merges produce."""
        plans = {
            s: self.plan_merges(s, merge_factor, min_bytes)
            for s in range(self.n_shards)
        }

        def one(s: int) -> int:
            n = 0
            for units in plans[s]:
                self.merge_units(s, units, retain_sources)
                n += 1
            return n

        if max_concurrent <= 1:
            return sum(one(s) for s in plans)
        from concurrent.futures import ThreadPoolExecutor

        with ThreadPoolExecutor(max_workers=max_concurrent) as pool:
            return sum(pool.map(one, plans))

    @_single_writer
    def expunge_shard(self, shard: int, drop: DataFrame) -> None:
        """Physically remove tombstoned docs from one shard — Lucene
        ``expungeDeletes``/``forceMerge`` parity over the reference's
        removal index (``MiruRemovalIndex``: REMOVE only *masks*; the
        LAB store reclaims space at compaction — this is that
        compaction). Rewrites the shard's live units into ONE merged
        unit minus ``drop`` (docint column), recomputes term stats so
        df/cf reflect the physical corpus, and appends a manifest entry
        that RESETS the shard's doc/doclen totals (``expunged: true`` —
        ``load`` folds it as a reset, not an increment). Watermark and
        ``next_id`` carry over unchanged: docints are never reassigned,
        so later appends stay monotonic and stale tombstones of
        already-expunged docs are harmless.

        Crash-atomic like :meth:`merge_shard`: fully written under
        ``_expunge_tmp``, committed by one rename to
        ``merged_{delta+1:04d}`` (which supersedes every source unit),
        manifest appended, then sources deleted. A crash between rename
        and manifest append leaves the store loadable with stale
        (over-counted) totals; recovery does NOT depend on re-running
        the expunge with the same drop set (post-crash the docs are
        already physically gone, so a recomputed drop would be empty) —
        :meth:`recover`, invoked from ``load``/``append``/``expunge``,
        detects any on-disk ``merged_{d}`` with no manifest entry at
        delta ``d`` and finishes the manifest + cleanup from the merged
        unit itself.
        Pre-expunge snapshots are EXPIRED (``SnapshotExpiredError`` on
        ``load(as_of=...)``) — physical deletion rewrites history, the
        same contract as Iceberg ``expire_snapshots``.
        """
        import shutil

        st = self.shard_state().get(shard)
        if st is None:
            return
        sdir = os.path.join(self.path, f"shard={shard}")
        units = self._live_shard_units(shard)
        if not units:
            return
        new_delta = st["delta"] + 1
        merged_final = os.path.join(sdir, f"merged_{new_delta:04d}")

        if os.path.isdir(merged_final):
            # committed by a crashed run: finish manifest + cleanup
            self._finish_expunge_commit(shard, st, new_delta)
            return

        paths = [os.path.join(sdir, n) for n in units]
        tmp = os.path.join(sdir, "_expunge_tmp")
        shutil.rmtree(tmp, ignore_errors=True)
        stats = self._write_union(paths, tmp, drop=drop.select("docint"))
        os.rename(tmp, merged_final)  # commit point
        self._finish_expunge_commit(shard, st, new_delta, stats)

    def _finish_expunge_commit(
        self, shard: int, st: dict, new_delta: int, stats: SegmentStats | None = None
    ) -> None:
        """Write the manifest reset entry for a committed (renamed)
        expunge unit and delete everything it supersedes. Idempotent and
        callable WITHOUT the original drop set — all totals are the
        merged unit's own :func:`segment_stats` (``stats``, when the
        writer has just read them), which is why :meth:`recover` can
        finish a crashed expunge whose drop set is no longer
        reconstructable."""
        merged_final = os.path.join(
            self.path, f"shard={shard}", f"merged_{new_delta:04d}"
        )
        stats = stats or segment_stats(self.spark, merged_final)
        self._append_manifest(
            {
                "shard": shard,
                "delta": new_delta,
                "watermark_conv": st["watermark_conv"],
                "watermark_turn": st["watermark_turn"],
                "next_id": st["next_id"],
                "n_turns": stats.n_docs,
                "n_postings": stats.n_postings,
                "sum_doclen": stats.sum_doclen,
                "expunged": True,
                "files": ["merged"],
            }
        )
        self._sweep_shard(shard)

    def _finish_delta_commit(
        self, shard: int, st: dict | None, delta: int
    ) -> None:
        """Manifest a rename-committed ``delta_{delta}`` unit whose
        manifest append was lost to a crash. The entry is recomputed
        from the unit itself by :meth:`_delta_entry`, the computation
        ``_build_unit`` records, so recovery needs nothing from the
        crashed process. The entry is tagged ``recovered`` for
        lineage."""
        out = self._unit_dir(shard, delta)
        entry = self._delta_entry(
            shard, delta, out, segment_stats(self.spark, out), st,
            st["next_id"] if st else 0,
        )
        entry["recovered"] = True
        self._append_manifest(entry)

    def _max_disk_unit(self, shard: int) -> int:
        """Highest unit index present on disk for a shard (-1 if none) —
        includes units whose manifest entry may be missing after a crash."""
        sdir = os.path.join(self.path, f"shard={shard}")
        if not os.path.isdir(sdir):
            return -1
        idx = [
            self._unit_index(n)
            for n in os.listdir(sdir)
            if n.startswith(("delta_", "merged_"))
        ]
        return max(idx, default=-1)

    def recover(self, sweep_tmp: bool = True) -> None:
        """Finish any unit commit whose rename landed but whose manifest
        entry was never written (crash in the window between the two),
        and sweep write-interrupted ``_delta_tmp`` dirs. Detection is
        purely structural — an on-disk unit with a delta index above the
        shard's manifest delta can only be such an orphan: ``merged_{d}``
        is a committed-but-unmanifested expunge (a plain merge reuses
        the CURRENT delta index), ``delta_{d}`` a committed-but-
        unmanifested append/repair unit. Either is finished from the
        unit's own contents (:meth:`_finish_expunge_commit` /
        :meth:`_finish_delta_commit`) — recovery needs nothing from the
        crashed process. Cheap when clean: one listdir per shard, no
        Spark jobs. Invoked automatically from
        ``build``/``load``/``append``/``expunge``.

        ``sweep_tmp=False`` (the read-only ``load`` path) skips the
        ``_delta_tmp`` sweep: tmp dirs are only dead weight when no
        writer is alive, and a concurrent writer mid-``_build_unit``
        would lose its in-flight files to the sweep. Write paths keep
        the sweep — they hold the single-writer role by contract (the
        manifest lock is in-process; cross-process writers must be
        externally serialized, one writer per store)."""
        import shutil

        state = self.shard_state()
        for s in range(self.n_shards):
            sdir = os.path.join(self.path, f"shard={s}")
            if not os.path.isdir(sdir):
                continue
            # a tmp dir here means the writer died before its rename:
            # nothing references it; the retried op rebuilds from rows
            tmp = os.path.join(sdir, "_delta_tmp")
            if sweep_tmp and os.path.isdir(tmp):
                shutil.rmtree(tmp, ignore_errors=True)
            st = state.get(s)
            top = self._max_disk_unit(s)
            if top <= (st["delta"] if st is not None else -1):
                continue
            if os.path.isdir(os.path.join(sdir, f"merged_{top:04d}")):
                if st is not None:
                    self._finish_expunge_commit(s, st, top)
            elif os.path.isdir(os.path.join(sdir, f"delta_{top:04d}")):
                self._finish_delta_commit(s, st, top)

    @_single_writer
    def expunge(self, drop: DataFrame) -> None:
        """Expunge tombstoned docints (``drop``: a docint column) from
        every shard they touch. One tiny aggregation routes docints to
        shards (composite ids: ``docint >> SHARD_BITS``); only touched
        shards are rewritten.

        ``drop`` is MATERIALIZED to a parquet under the store first:
        its lineage typically reads the very units this loop deletes
        (e.g. ``tombstones_from_keys`` over ``store.load()``), so the
        lazy plan must be cut before the first rmtree — and the written
        file doubles as a durable record of the removal intent."""
        import shutil

        self.recover()  # finish any crashed prior expunge first
        drop_dir = os.path.join(self.path, "_expunge_drop")
        drop.select("docint").write.mode("overwrite").parquet(drop_dir)
        drop = self.spark.read.parquet(drop_dir)
        touched = sorted(
            r["_s"]
            for r in drop.select(
                F.shiftright(F.col("docint"), SHARD_BITS).alias("_s")
            )
            .distinct()
            .collect()
        )
        for s in touched:
            if 0 <= s < self.n_shards:
                self.expunge_shard(int(s), drop)
        shutil.rmtree(drop_dir, ignore_errors=True)

    # -- load --------------------------------------------------------------

    @staticmethod
    def _unit_index(name: str) -> int:
        return int(name.rsplit("_", 1)[1])

    @staticmethod
    def _unit_span(name: str) -> tuple[int, int]:
        """Inclusive delta-index range a unit covers.

        - ``delta_{d}`` covers [d, d];
        - ``merged_{d}`` (full merge / expunge — legacy single-index
          name) covers [0, d]: both always merge EVERY live unit at or
          below d;
        - ``merged_{lo}_{hi}`` (tiered partial merge) covers [lo, hi].
        """
        parts = name.split("_")
        if name.startswith("delta_"):
            d = int(parts[1])
            return (d, d)
        if len(parts) == 2:
            return (0, int(parts[1]))
        return (int(parts[1]), int(parts[2]))

    def _live_shard_units(self, shard: int) -> list[str]:
        """Unit dir NAMES for one shard, chronological by span start.

        Liveness is span containment: a unit is superseded iff another
        unit's span strictly contains its own (the container is the
        merge that consumed it — possibly a stale leftover of a crashed
        cleanup). Full merges / expunges (span [0, d]) therefore
        supersede everything at or below d, exactly the pre-tiered
        rule; tiered units supersede only their own contiguous run.
        Equal spans cannot arise from any commit path (every merge has
        ≥ 2 sources, so its span strictly contains each source's); the
        name tie-break is a deterministic belt-and-braces only."""
        sdir = os.path.join(self.path, f"shard={shard}")
        if not os.path.isdir(sdir):
            return []
        names = [
            d for d in os.listdir(sdir) if d.startswith(("delta_", "merged_"))
        ]
        spans = {n: self._unit_span(n) for n in names}

        def superseded(n: str) -> bool:
            lo, hi = spans[n]
            for m, (l2, h2) in spans.items():
                if m == n:
                    continue
                if l2 <= lo and hi <= h2 and (l2, h2) != (lo, hi):
                    return True
                if (l2, h2) == (lo, hi) and m > n:
                    return True
            return False

        return sorted(
            (n for n in names if not superseded(n)),
            key=lambda n: spans[n],
        )

    def live_units(self) -> list[str]:
        out = []
        for s in range(self.n_shards):
            sdir = os.path.join(self.path, f"shard={s}")
            out.extend(
                os.path.join(sdir, n) for n in self._live_shard_units(s)
            )
        return out

    def snapshot_id(self) -> int:
        """Current snapshot id = manifest length. Every committed unit
        (build, append or merge) advances it by one; pass a saved value
        to ``load(as_of=...)`` to read the store as of that commit —
        Iceberg-style snapshot isolation over the manifest log."""
        return len(self.manifest())

    def _units_as_of(self, prefix: list[dict]) -> list[str]:
        """Unit dirs reconstructing exactly the manifest ``prefix``.

        A merge rewrites history (its delta sources are deleted after
        commit), so a snapshot older than the newest merge of a shard
        may be unreconstructable — that is snapshot EXPIRATION, the same
        contract as Iceberg's expire_snapshots; we raise
        ``SnapshotExpiredError`` rather than silently serving newer data.
        """
        want: dict[int, list[int]] = {}
        for e in prefix:
            if "merged_from" not in e:
                want.setdefault(e["shard"], []).append(e["delta"])
        out = []
        for s, deltas in sorted(want.items()):
            dk = max(deltas)
            sdir = os.path.join(self.path, f"shard={s}")
            names = (
                [
                    n
                    for n in os.listdir(sdir)
                    if n.startswith(("delta_", "merged_"))
                ]
                if os.path.isdir(sdir)
                else []
            )
            # Greedy exact cover of the wanted (sequential) delta range
            # by ON-DISK unit spans lying wholly inside the snapshot.
            # Superseded sources a merge retained (retain_sources=True)
            # are deliberately eligible: merges only union content, so
            # any disjoint exact cover reconstructs the snapshot —
            # snapshots survive compaction until vacuum() expires the
            # sources (Iceberg retention/expire split). At each step
            # take the widest span starting at the cursor (fewest
            # files).
            chosen, d = [], min(deltas)
            while d <= dk:
                best = None
                for n in names:
                    lo, hi = self._unit_span(n)
                    if lo == d and hi <= dk and (best is None or hi > best[1]):
                        best = (n, hi)
                if best is None:
                    raise SnapshotExpiredError(
                        f"shard {s}: no on-disk unit covers delta "
                        f"{d:04d} (snapshot expired by compaction/vacuum)"
                    )
                chosen.append(best[0])
                d = best[1] + 1
            out.extend(os.path.join(sdir, n) for n in chosen)
        return out

    def load(self, as_of: int | None = None) -> InvertedIndex:
        """Serving handle over the live store, or — with ``as_of`` — over
        the store as of an earlier :meth:`snapshot_id` (raises
        ``SnapshotExpiredError`` if compaction has rewritten it)."""
        # read-only path: finish orphaned commits but leave _delta_tmp
        # alone — a concurrent writer may be mid-_build_unit
        self.recover(sweep_tmp=False)
        man = self.manifest()
        if as_of is not None:
            man = man[: int(as_of)]
            units = self._units_as_of(man)
        else:
            units = self.live_units()
        if not units:
            raise RuntimeError("no segments built")
        post = self.spark.read.parquet(*[f"{u}/postings" for u in units])
        # mergeSchema: units written after an ADDITIVE schema evolution
        # (check_additive) may carry extra metadata columns — old units'
        # rows read them back as NULL (postings/terms schemas are
        # engine-fixed, no merge needed there)
        docs = self.spark.read.option("mergeSchema", "true").parquet(
            *[f"{u}/docs" for u in units]
        )
        # global stats: re-aggregate per-unit term stats (cheap — they
        # are already per-term partial aggregates)
        terms = (
            self.spark.read.parquet(*[f"{u}/terms" for u in units])
            .groupBy("term")
            .agg(
                F.sum("df").alias("df"),
                F.sum("cf").alias("cf"),
                F.max("max_docint").alias("max_docint"),
            )
        )
        # fold manifest counts per shard; an expunged entry RESETS its
        # shard's totals (physical removal supersedes prior increments)
        per_shard: dict[int, list[int]] = {}
        for e in man:
            if "merged_from" in e:
                continue
            if e.get("expunged"):
                per_shard[e["shard"]] = [e["n_turns"], e["sum_doclen"]]
            else:
                cur = per_shard.setdefault(e["shard"], [0, 0])
                cur[0] += e["n_turns"]
                cur[1] += e["sum_doclen"]
        n_docs = sum(v[0] for v in per_shard.values())
        sum_dl = sum(v[1] for v in per_shard.values())
        avgdl = (sum_dl / n_docs) if n_docs else 0.0
        blocks = None
        if all(os.path.isdir(os.path.join(u, "blocks")) for u in units):
            blocks = self.spark.read.parquet(*[f"{u}/blocks" for u in units])
        return InvertedIndex(post, docs, terms, n_docs, avgdl, blocks=blocks)
