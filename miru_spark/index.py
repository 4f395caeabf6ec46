"""InvertedIndex — the engine's per-corpus index handle.

Bundles the four tables a query needs (reference analogs in parens,
enterstudio/miru):

- ``postings`` (field index: (field,term) → bitmap + cardinalities,
  ``miru-plugin/.../index/MiruFieldIndex.java:12-43``)
- ``docs`` (activity row store: docId → stored values + time,
  ``MiruActivityIndex.java:16-45``)
- ``terms`` (global cardinality / df row,
  ``LabFieldIndex.java:474-515``)
- corpus scalars (n_docs, avg_doclen) for BM25.

``build`` is the batch indexer (``MiruIndexer.index``,
``MiruIndexer.java:47-126``); ``save``/``load`` persist term-partitioned
parquet segments (Iceberg-ready layout — the local image has no Iceberg
jars, so the writer targets plain parquet with the same partitioning;
swap ``format("iceberg")`` in on a real cluster).
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

from miru_spark.docids import release_docint
from miru_spark.indexing.build import (
    base_with_docint,
    corpus_stats,
    doc_stats,
    postings_flat,
    term_stats,
    write_segment,
)


def _write_meta(path: str, n_docs: int, avg_doclen: float, fmt: str, analyzer: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "meta.json"), "w") as f:
        json.dump(
            {"n_docs": n_docs, "avg_doclen": avg_doclen, "format": fmt, "analyzer": analyzer},
            f,
        )


@dataclass
class InvertedIndex:
    postings: DataFrame  # term, docint, tf [, positions]
    docs: DataFrame  # docint, conv_id, turn_idx, role, tool, ts, doclen
    terms: DataFrame  # term, df, cf, max_docint
    n_docs: int
    avg_doclen: float
    _docs_cached: DataFrame | None = None
    blocks: DataFrame | None = None  # compressed block segments (blocks.py)
    # soft-deleted docints, masked out of every answer (the reference's
    # removal index, MiruRemovalIndex / MiruAggregateUtil.java:1140)
    tombstones: DataFrame | None = None
    #: analyzer the postings were built with — query strings parse
    #: through the same analyzer (parse_query(q, analyzer=...))
    analyzer: str = "standard"

    def with_tombstones(self, tombstones: DataFrame) -> "InvertedIndex":
        """Same index with a removal mask (docint column) applied to
        every query. Non-destructive."""
        import dataclasses

        return dataclasses.replace(self, tombstones=tombstones)

    @classmethod
    def build(
        cls,
        turns: DataFrame,
        positions: bool = True,
        cache: bool = True,
        analyzer: str = "standard",
    ) -> "InvertedIndex":
        """Build in-memory handle.

        Caches only the docs table (small: one row per turn, tokens
        included). The postings relation is left lazy — recomputing the
        run-length postings from cached docs is ~10x cheaper than caching
        13M+ posting rows through Spark's row-based block store; at real
        scale postings are persisted columnar via :meth:`save` instead.
        """
        base = base_with_docint(turns)
        if cache:
            base = base.cache()
        doc_tbl = doc_stats(base, analyzer=analyzer)
        post = postings_flat(base, positions=positions, analyzer=analyzer)
        n, avgdl = corpus_stats(doc_tbl)
        terms = term_stats(post)
        return cls(post, doc_tbl, terms, n, avgdl, _docs_cached=base, analyzer=analyzer)

    def save(
        self, path: str, n_buckets: int = 32, table_format: str = "auto"
    ) -> None:
        """Persist as a segment directory.

        Postings are bucketed by term hash (``pmod(xxhash64(term), B)``)
        and sorted by (term, docint) within files — the moral equivalent
        of the reference's term-keyed LSM layout
        (``LabInvertedIndex.java:268-292``): a query for a term set
        touches only the buckets those terms hash to, and parquet/
        Iceberg row-group min/max stats on ``term`` prune within
        buckets. ``table_format``: "auto" (Iceberg when the jars +
        catalog are configured, else parquet), or an explicit format —
        see :mod:`miru_spark.io`.
        """
        from miru_spark.io import resolve_format

        fmt = resolve_format(self.postings.sparkSession, table_format)
        write_segment(self.postings, self.docs, path, n_buckets=n_buckets, fmt=fmt)
        _write_meta(path, self.n_docs, self.avg_doclen, fmt, self.analyzer)

    @classmethod
    def build_persisted(
        cls,
        turns: DataFrame,
        path: str,
        positions: bool = False,
        n_buckets: int = 32,
        blocks: bool = False,
        table_format: str = "auto",
        analyzer: str = "standard",
    ) -> "InvertedIndex":
        """The production build job: transcripts → persisted segments.

        Tokenization runs exactly ONCE, inside the postings write; the
        doc row-store derives ``doclen = Σtf`` and the term stats from
        the written segment instead of re-tokenizing
        (:func:`~miru_spark.indexing.build.write_segment`), and the meta
        figures come from one aggregate over what was written
        (:func:`~miru_spark.indexing.build.segment_stats`)::

            docint:    conv-level range prefix sum (docids.py)
            postings:  tokenize → run-length (term, docint) rows
                       → bucket-partition by hash(term) → sorted write
            docs:      base ⨝ (postings ⟶ groupBy(docint).sum(tf))
            terms:     postings ⟶ groupBy(term) stats
            stats:     one aggregate over docs ∪ postings

        Each write is a Spark action, and adaptive execution runs each
        of its shuffle stages as a job of its own: the perfbench corpus
        (8,000 turns, ``local[4]``) traced 27 jobs per build.

        Reference analog: MiruIndexer.index composes primary work once
        and feeds field index + activity row store from it
        (miru-service/.../stream/MiruIndexer.java:47-126).
        """
        from miru_spark.io import resolve_format

        spark = turns.sparkSession
        fmt = resolve_format(spark, table_format)
        base = base_with_docint(turns)
        try:
            stats = write_segment(
                postings_flat(base, positions=positions, analyzer=analyzer),
                base,
                path,
                n_buckets=n_buckets,
                blocks=blocks,
                fmt=fmt,
            )
        finally:
            release_docint(base)
        _write_meta(path, stats.n_docs, stats.avg_doclen, fmt, analyzer)
        return cls.load(spark, path)

    @classmethod
    def load(cls, spark: SparkSession, path: str) -> "InvertedIndex":
        from miru_spark.io import read_table

        with open(os.path.join(path, "meta.json")) as f:
            meta = json.load(f)
        fmt = meta.get("format", "parquet")
        blocks = None
        if fmt == "iceberg" or os.path.isdir(os.path.join(path, "blocks")):
            try:
                blocks = read_table(spark, f"{path}/blocks", fmt=fmt).drop(
                    "bucket"
                )
            except Exception:
                blocks = None
        return cls(
            read_table(spark, f"{path}/postings", fmt=fmt).drop("bucket"),
            read_table(spark, f"{path}/docs", fmt=fmt),
            read_table(spark, f"{path}/terms", fmt=fmt),
            int(meta["n_docs"]),
            float(meta["avg_doclen"]),
            blocks=blocks,
            analyzer=meta.get("analyzer", "standard"),
        )

    def register_views(self, prefix: str = "miru") -> list[str]:
        """Expose the index as temp views for the SQL API: users can
        `spark.sql` over `<prefix>_postings`, `<prefix>_docs`,
        `<prefix>_terms` (+ `<prefix>_blocks` when built) — Catalyst
        produces the same plans either way."""
        names = []
        for name, df in [
            ("postings", self.postings),
            ("docs", self.docs),
            ("terms", self.terms),
            ("blocks", self.blocks),
        ]:
            if df is None:
                continue
            vname = f"{prefix}_{name}"
            df.createOrReplaceTempView(vname)
            names.append(vname)
        return names

    def unpersist(self) -> None:
        for df in (self.postings, self.docs, self.terms, self._docs_cached):
            if df is None:
                continue
            try:
                df.unpersist()
                release_docint(df)
            except Exception:
                pass
