"""Posting-list construction as one declarative Spark job.

Reference pipeline (enterstudio/miru): intern → compose per-field
``(term → ids[], counts[])`` work units → parallel ``fieldIndex.set``
(``miru-service/.../stream/MiruIndexer.java:47-126``,
``MiruIndexPrimaryFields.compose:37-96``), with per-doc term frequency
kept by the cardinality sub-index (``LabFieldIndex.java:422-475``) and
the global count in the docId=-1 row (``LabFieldIndex.java:474-515``).

Spark-first re-expression — the whole build is JVM-side (tokenize =
split/filter column expressions, tf/positions = run lengths over the
doc's sorted token array): no Python in the hot path, whole-stage
codegen end to end, no shuffle before the segment write::

    turns ── tokens_col ──► sort_array ──► runs ──► explode
                                                     │
                                                     ▼
                      postings(term, docint, tf, doclen[, positions])
                                                     │ write_segment
                                                     ▼
      postings/ (sorted) · docs/ (doclen = Σtf) · terms/ · [blocks/]
                                                     │ segment_stats
                                                     ▼
                      n_docs, Σdoclen, n_postings, max key, max docint

:func:`write_segment` is the one writer of a segment directory (the
served index, its ``save``, and every store unit, merge and expunge);
:func:`segment_stats` is the one reader of its corpus figures.
Downstream per-term work (block building, stats) groups by term and is
where salting applies (see blocks.py).
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from miru_spark.docids import with_docint
from miru_spark.io import read_table, write_table
from miru_spark.tokenize import tokens_col

FIELD_TEXT = "text"


def _tokens_fn(analyzer: str):
    """Column-producing token fn for an analyzer name.

    ``standard`` routes to the bare :func:`tokens_col` (identical plan
    to round 1); other names go through the per-locale registry
    (analyzers.py — the reference's ``TermAnalyzers.java:45-133``
    field-definition analyzers)."""
    if analyzer == "standard":
        return tokens_col
    from miru_spark.analyzers import analyze_col

    return lambda c: analyze_col(c, analyzer)


def base_with_docint(turns: DataFrame) -> DataFrame:
    """turns + docint — the cacheable base (no token arrays; caching 10s
    of millions of token strings through the block store costs more than
    re-running the codegen'd tokenizer per consumer)."""
    if "docint" not in turns.columns:
        turns = with_docint(turns)
    return turns


def postings_flat(
    base: DataFrame, positions: bool = True, analyzer: str = "standard"
) -> DataFrame:
    """``(term, docint, tf, doclen[, positions])`` — the flat inverted index.

    ``doclen`` is denormalized onto every posting row (one small int,
    dictionary/RLE-friendly in parquet): BM25 scoring then needs NO join
    back to the doc table, and block building needs no shuffle beyond
    its own groupBy. ``positions`` (token offsets) power phrase queries;
    skip them for a leaner index.

    SHUFFLE-FREE (round 5): the per-(term, docint) tf/positions
    aggregation is a PER-DOCUMENT computation — every occurrence of a
    (term, docint) pair comes from one source row — so the former
    ``explode → groupBy(term, docint)`` plan shuffled one row per token
    purely to reunite rows that were never apart (map-side partial agg
    already finished the combine; the exchange moved ~tokens rows and
    scaled at the sandbox's worst ceiling — generic high-cardinality
    shuffle measured 0.45-0.48 N→4N across rounds 4-5). The run-length
    plan keeps everything inside one whole-stage-codegen projection:
    sort the doc's token array, find run boundaries with a filter over
    ``sequence``, emit one struct per run, explode. Measured: −21% at
    2 cores, equal at 8 cores at 622k turns (BENCH/BASELINE.md r5) —
    and on a real cluster it removes the full postings network shuffle
    (the index build's only data-sized exchange besides the bucketed
    write itself). With ``positions`` the sorted elements are
    ``(term, pos)`` structs, so each run is one term's ascending
    position list; without, they are the bare terms.

    Struct-wraps chain each derived array so Catalyst materializes it
    once per stage: referencing a raw expression from several consumers
    re-evaluates it per consumer (verified in the physical plan), while
    a struct field is computed a single time.
    """
    t1 = base.select(
        "docint",
        F.struct(_tokens_fn(analyzer)(F.col("text")).alias("t")).alias("_s"),
    )
    toks = F.col("_s.t")
    if positions:
        toks = F.transform(
            toks, lambda t, i: F.struct(t.alias("term"), i.alias("pos"))
        )

    def term(x):
        return x["term"] if positions else x

    t2 = t1.select(
        "docint",
        F.struct(
            F.sort_array(toks).alias("s"), F.size("_s.t").alias("n")
        ).alias("_o"),
    )
    s, n = F.col("_o.s"), F.col("_o.n")
    ends = F.when(
        n > 0,
        F.filter(
            F.sequence(F.lit(1), n),
            lambda i: (i == n)
            | (term(F.element_at(s, i)) != term(F.element_at(s, i + 1))),
        ),
    ).otherwise(F.array().cast("array<int>"))
    t3 = t2.select("docint", "_o", F.struct(ends.alias("e")).alias("_e"))
    e = F.col("_e.e")

    def entry(x, j):
        prev = F.when(j == 0, F.lit(0)).otherwise(F.element_at(e, j))
        fields = [
            term(F.element_at(s, x)).alias("term"),
            (x - prev).cast("int").alias("tf"),
        ]
        if positions:
            fields.append(
                F.transform(
                    F.slice(s, prev + 1, x - prev), lambda st: st["pos"]
                ).alias("positions")
            )
        return F.struct(*fields)

    cols = [F.col("_p.term").alias("term"), "docint", F.col("_p.tf").alias("tf"), "doclen"]
    if positions:
        cols.append(F.col("_p.positions").alias("positions"))
    return t3.select(
        "docint", n.alias("doclen"), F.explode(F.transform(e, entry)).alias("_p")
    ).select(*cols)


def postings_flat_pandas(
    base: DataFrame, positions: bool = True, analyzer: str = "standard"
) -> DataFrame:
    """Python reference twin of :func:`postings_flat` — same rows, built
    in an Arrow/pandas UDF with the Python analyzers (``analyze_py``).

    No engine path builds through it: :func:`postings_flat` is the only
    posting builder, and this twin stays to pin it (the parity suite in
    ``tests/test_build_pandas.py`` compares the two) and to measure the
    cost of a Python-worker build. At 600k turns with the ``en``
    analyzer the JVM build was the faster of the two (BENCH/BASELINE.md).

    The aggregation is batch-vectorized: tokenization is the only
    per-row step (regex, C inside ``re``); grouping into (docint, term)
    postings runs over the whole Arrow batch at once — ``pd.factorize``
    codes the token stream, one stable argsort on the composite
    (row, code) key clusters each posting's occurrences with positions
    already ascending, and boundary detection yields tf/positions with
    no Python-level per-token work.
    """
    from typing import Iterator

    import numpy as np
    import pandas as pd

    from miru_spark.analyzers import analyze_py

    want_pos = positions
    an = analyzer

    def tok(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        empty_cols = {
            "term": pd.Series(dtype=object),
            "docint": pd.Series(dtype=np.int64),
            "tf": pd.Series(dtype=np.int32),
            "doclen": pd.Series(dtype=np.int32),
        }
        for pdf in batches:
            tok_lists = [
                analyze_py(t, an) if isinstance(t, str) and t else []
                for t in pdf["text"]
            ]
            lens = np.fromiter(
                (len(t) for t in tok_lists), dtype=np.int64, count=len(tok_lists)
            )
            total = int(lens.sum())
            if total == 0:
                out = dict(empty_cols)
                if want_pos:
                    out["positions"] = pd.Series(dtype=object)
                yield pd.DataFrame(out)
                continue
            docints = pdf["docint"].to_numpy(np.int64)
            flat = np.empty(total, dtype=object)
            off = 0
            for ts in tok_lists:
                if ts:
                    flat[off : off + len(ts)] = ts
                    off += len(ts)
            row_idx = np.repeat(np.arange(len(tok_lists), dtype=np.int64), lens)
            offsets = np.zeros(len(tok_lists) + 1, dtype=np.int64)
            np.cumsum(lens, out=offsets[1:])
            pos = np.arange(total, dtype=np.int64) - np.repeat(offsets[:-1], lens)
            codes, uniq = pd.factorize(flat)
            uniq = np.asarray(uniq, dtype=object)
            # one posting group per distinct (row, token-code); stable
            # sort keeps in-row order, so positions come out ascending
            key = row_idx * len(uniq) + codes
            order = np.argsort(key, kind="stable")
            k_sorted = key[order]
            new_grp = np.ones(total, dtype=bool)
            new_grp[1:] = k_sorted[1:] != k_sorted[:-1]
            starts = np.nonzero(new_grp)[0]
            ends = np.concatenate((starts[1:], [total]))
            g_row = row_idx[order[starts]]
            cols = {
                "term": uniq[codes[order[starts]]],
                "docint": docints[g_row],
                "tf": (ends - starts).astype(np.int32),
                "doclen": lens[g_row].astype(np.int32),
            }
            if want_pos:
                pos_sorted = pos[order].astype(np.int32)
                cols["positions"] = np.split(pos_sorted, starts[1:])
            yield pd.DataFrame(cols)

    schema = "term string, docint long, tf int, doclen int" + (
        ", positions array<int>" if positions else ""
    )
    return base.select("docint", "text").mapInPandas(tok, schema=schema)


def doc_stats(base: DataFrame, analyzer: str = "standard") -> DataFrame:
    """Per-doc row store: docint → stored fields + doclen.

    ``text`` rides along — the reference's activity index stores field
    values for late lookup by docId (MiruActivityIndex.java:16-45;
    gatherActivityLookup), which powers snippets/highlighting here.
    ALL input metadata columns are kept (schema-driven, like the
    reference's field definitions): extensions such as ``authz`` flow
    into the row store without build changes."""
    extra = [c for c in base.columns if c != "docint"]
    return base.select(
        "docint", *extra, F.size(_tokens_fn(analyzer)(F.col("text"))).alias("doclen")
    )


def term_stats(postings: DataFrame) -> DataFrame:
    """Per-term df/cf — reference's global-cardinality row
    (``LabFieldIndex.getGlobalCardinality``, docId=-1 row).

    ``max_docint`` reproduces the lastId posting-skip
    (``FieldMultiTermTxIndex.considerIfLastIdGreaterThanN``,
    miru-plugin/.../index/FieldMultiTermTxIndex.java:14-35): incremental
    scorers can prune terms with no doc newer than a watermark.
    """
    return postings.groupBy("term").agg(
        F.count(F.lit(1)).alias("df"),
        F.sum("tf").cast("long").alias("cf"),
        F.max("docint").alias("max_docint"),
    )


def corpus_stats(docs: DataFrame) -> tuple[int, float]:
    """(n_docs, avg_doclen) — BM25 global inputs. One tiny agg job."""
    row = docs.agg(
        F.count(F.lit(1)).alias("n"), F.avg("doclen").alias("avgdl")
    ).collect()[0]
    return int(row["n"]), float(row["avgdl"] or 0.0)


# -- segment directories -----------------------------------------------------


@dataclass(frozen=True)
class SegmentStats:
    """What a written segment directory holds, read back from its files."""

    n_docs: int
    sum_doclen: int
    n_postings: int
    max_key: tuple[str, int] | None  # max (conv_id, turn_idx)
    max_docint: int | None

    @property
    def avg_doclen(self) -> float:
        return self.sum_doclen / self.n_docs if self.n_docs else 0.0


def segment_stats(spark: SparkSession, path: str, fmt: str = "parquet") -> SegmentStats:
    """Read a written segment's corpus stats in ONE aggregate over the
    union of its docs and (column-free) postings scans: doc count,
    Σdoclen, posting count, max ``(conv_id, turn_idx)`` and max docint.
    Writers and crash recovery both take their manifest/meta figures
    from here, so a recovered entry is the one the writer would have
    recorded."""
    docs = read_table(spark, f"{path}/docs", fmt=fmt).select(
        F.lit(0).alias("_p"),
        "doclen",
        F.struct("conv_id", "turn_idx").alias("_k"),
        "docint",
    )
    post = read_table(spark, f"{path}/postings", fmt=fmt).select(
        F.lit(1).alias("_p"),
        F.lit(None).cast("int").alias("doclen"),
        F.lit(None).cast(docs.schema["_k"].dataType).alias("_k"),
        F.lit(None).cast("long").alias("docint"),
    )
    row = (
        docs.unionByName(post)
        .agg(
            F.count(F.lit(1)).alias("rows"),
            F.sum("_p").alias("n_post"),
            F.sum("doclen").alias("sdl"),
            F.max("_k").alias("key"),
            F.max("docint").alias("mx"),
        )
        .collect()[0]
    )
    n_post = int(row["n_post"] or 0)
    key = row["key"]
    return SegmentStats(
        n_docs=int(row["rows"]) - n_post,
        sum_doclen=int(row["sdl"] or 0),
        n_postings=n_post,
        max_key=(key["conv_id"], int(key["turn_idx"])) if key is not None else None,
        max_docint=int(row["mx"]) if row["mx"] is not None else None,
    )


def _term_bucket(n_buckets: int):
    return F.pmod(F.xxhash64("term"), F.lit(n_buckets)).cast("int")


def _bucketed_for_write(postings: DataFrame, n_buckets: int) -> DataFrame:
    """Bucket postings by term hash and shape the write shuffle.

    Repartitioning by ``bucket`` alone caps the segment write at
    ``n_buckets`` tasks (and 32 keys hashed into 32 partitions leave
    ~1/3 empty by collision) — a parallelism ceiling that becomes THE
    build bottleneck at 10^12 turns. Salting the exchange with the
    docint span (``docint >> 20``, same granularity as the block
    builder's heavy-term salt) fans each bucket out across
    one-million-doc ranges: a 10^9-doc corpus writes ~1000 tasks per
    bucket, while any corpus under 2^20 docs has a single span and
    keeps today's exact layout. Files stay (term, docint)-sorted within
    themselves, so row-group min/max pruning on ``term`` is unchanged;
    readers never assumed one file per bucket (parquet dirs merge).

    The ``bucket`` SORT PREFIX is load-bearing, not stylistic: the
    dynamic-partition writer requires ordering by the partition column,
    and a sort that does NOT lead with it gets a writer-inserted bucket
    sort appended — whereupon Catalyst's ``EliminateSorts`` removes the
    explicit (term, docint) sort as redundant and the files land
    UNSORTED (this silently happened in round 2; round-4 A/B + file
    audit in BENCH/BASELINE.md). Unsorted files void the term
    row-group pruning the whole serving path relies on;
    ``tests/test_edge_cases.py::test_persisted_postings_files_sorted``
    guards the layout.

    The exchange's partition COUNT is floored at ``4 * n_buckets``:
    when the distinct-key count (buckets × spans) is near the partition
    count, hashing goes multinomial — measured on this harness,
    ``hash(bucket, span=0)`` packed 9 of 32 keys into one of 8
    partitions and the straggler cost 1.7× build wall time. With ≥4
    partitions per key, each task holds ≤2-3 keys and dynamic task
    scheduling levels the cores; non-empty partitions ≈ distinct keys,
    so the small-corpus file layout (one file per bucket) is unchanged.
    At production shuffle.partitions (≫128) the floor is a no-op.
    """
    from miru_spark.indexing.blocks import SPAN_BITS

    spark = postings.sparkSession
    n_part = max(int(spark.conf.get("spark.sql.shuffle.partitions")), 4 * n_buckets)
    return (
        postings.withColumn("bucket", _term_bucket(n_buckets))
        .withColumn("_span", F.shiftright(F.col("docint"), SPAN_BITS))
        .repartition(n_part, "bucket", "_span")
        .drop("_span")
        .sortWithinPartitions("bucket", "term", "docint")
    )


def write_segment(
    postings: DataFrame,
    docs: DataFrame,
    path: str,
    n_buckets: int | None = None,
    blocks: bool = False,
    fmt: str = "parquet",
) -> SegmentStats:
    """Write one segment directory — the single write path of every
    build, save, store unit, merge and expunge.

    - ``postings/``: (term, docint)-sorted within each file. With
      ``n_buckets`` the files are partitioned by term-hash bucket (the
      served index layout, :func:`_bucketed_for_write`); without, each
      input partition becomes one sorted file (store units).
    - ``docs/``: ``docs`` with ``doclen = Σtf`` of the WRITTEN postings
      (any incoming doclen is replaced), so the row store and the
      postings can never disagree and tokenization runs only once.
    - ``terms/``: :func:`term_stats` of the written postings — a
      columnar read beats re-running tokenize+explode.
    - ``blocks/`` when asked (blocks.py), bucketed like the postings.

    Returns :func:`segment_stats` of what was written.
    """
    from miru_spark.indexing.blocks import build_blocks

    spark = postings.sparkSession
    bucket_by = ["bucket"] if n_buckets else None
    write_table(
        _bucketed_for_write(postings, n_buckets)
        if n_buckets
        else postings.sortWithinPartitions("term", "docint"),
        f"{path}/postings",
        partition_by=bucket_by,
        fmt=fmt,
    )
    written = read_table(spark, f"{path}/postings", fmt=fmt).select(
        "term", "docint", "tf", "doclen"
    )
    doclens = written.groupBy("docint").agg(F.sum("tf").cast("int").alias("doclen"))
    write_table(
        docs.drop("doclen")  # all metadata columns flow into the row store
        .join(doclens, "docint", "left")
        .withColumn("doclen", F.coalesce(F.col("doclen"), F.lit(0))),
        f"{path}/docs",
        fmt=fmt,
    )
    write_table(term_stats(written), f"{path}/terms", fmt=fmt)
    stats = segment_stats(spark, path, fmt)
    if blocks:
        # block metadata uses this segment's doclen profile; pruning
        # bounds stay valid under later corpus growth via (max_tf,
        # min_dl) — see blocks.py / blockmax._block_ub_tfc
        blk = build_blocks(written, stats.avg_doclen or 1.0)
        write_table(
            blk.withColumn("bucket", _term_bucket(n_buckets)) if n_buckets else blk,
            f"{path}/blocks",
            partition_by=bucket_by,
            fmt=fmt,
        )
    return stats
