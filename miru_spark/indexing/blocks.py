"""Compressed posting-block segments with block-max metadata.

Reference analog: the "atomized" bitmap layout — a posting list stored
as fixed-keyspace chunks ``(termKey, 0xFFFF - blockKey)`` with a last-id
header (enterstudio/miru
``miru-service/.../index/lab/LabInvertedIndex.java:268-399``,
``MiruBitmaps.serializeAtomized:171-177``). Here a block is a fixed
docint *range* (``block_id = docint >> BLOCK_BITS``): range-keyed blocks
shuffle-partition evenly under term skew (a heavy term spans many
blocks; a block never exceeds the range width) and make conjunctive
intersection a block_id equi-join.

Per block we store delta-gap+varint docids/tfs (codec.py) and the
block-max metadata that powers WAND pruning: ``max_tfc`` is the exact
maximum of the BM25 tf-component ``tf·(k1+1)/(tf + k1(1-b+b·dl/avgdl))``
over the block's postings, so ``idf(term) · max_tfc`` is the exact
block-max BM25 score (idf is per-term constant — no df join needed at
build time).

The encoder is numpy array-at-a-time: group boundaries by change
detection, per-group aggregates via ``maximum.reduceat``, one varint
pass over the whole batch then per-group byte slicing.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from miru_spark.indexing.codec import varint_encode, varint_lengths

BLOCK_BITS = 13  # 8192-docint ranges
SPAN_BITS = 20  # heavy-term salt granularity (2^20-docint partition spans)
K1 = 1.2
B = 0.75

BLOCKS_SCHEMA = (
    "term string, block_id long, first_doc long, last_doc long, "
    "n_docs int, max_tf int, min_dl int, max_tfc double, "
    "docs_bin binary, tfs_bin binary, dls_bin binary"
)


def encode_group_frame(
    pdf: pd.DataFrame, avgdl: float, block_bits: int = BLOCK_BITS
) -> pd.DataFrame:
    """Encode a sorted (term, docint) frame into one block row per
    (term, block_id) group — fully vectorized."""
    if len(pdf) == 0:
        return pd.DataFrame(
            columns=[
                "term",
                "block_id",
                "first_doc",
                "last_doc",
                "n_docs",
                "max_tf",
                "min_dl",
                "max_tfc",
                "docs_bin",
                "tfs_bin",
                "dls_bin",
            ]
        )
    terms = pdf["term"].to_numpy()
    docs = pdf["docint"].to_numpy(np.int64)
    tfs = pdf["tf"].to_numpy(np.int64)
    dls = pdf["doclen"].to_numpy(np.float64)
    bids = docs >> block_bits

    new_group = np.ones(len(pdf), dtype=bool)
    new_group[1:] = (terms[1:] != terms[:-1]) | (bids[1:] != bids[:-1])
    starts = np.nonzero(new_group)[0]
    ends = np.concatenate((starts[1:], [len(pdf)]))

    # per-group aggregates. max_tfc is the exact block max of the BM25
    # tf-component at THIS build's avgdl; (max_tf, min_dl) give a bound
    # valid under any LATER avgdl (tfc is ↑ in tf, ↓ in dl), which is
    # what incremental stores must prune with after the corpus grows.
    n_docs = (ends - starts).astype(np.int32)
    max_tf = np.maximum.reduceat(tfs, starts).astype(np.int32)
    min_dl = np.minimum.reduceat(dls, starts).astype(np.int32)
    tfc = tfs * (K1 + 1.0) / (tfs + K1 * (1.0 - B + B * dls / avgdl))
    max_tfc = np.maximum.reduceat(tfc, starts)
    first_doc = docs[starts]
    last_doc = docs[ends - 1]

    # delta-gap: within-group first difference, absolute at group start
    gaps = np.empty_like(docs, dtype=np.uint64)
    gaps[1:] = (docs[1:] - docs[:-1]).astype(np.uint64)
    gaps[starts] = docs[starts].astype(np.uint64)

    dl_ints = dls.astype(np.uint64)
    doc_bytes = varint_encode(gaps)
    tf_bytes = varint_encode(tfs.astype(np.uint64))
    dl_bytes = varint_encode(dl_ints)
    doc_off = np.zeros(len(pdf) + 1, dtype=np.int64)
    np.cumsum(varint_lengths(gaps), out=doc_off[1:])
    tf_off = np.zeros(len(pdf) + 1, dtype=np.int64)
    np.cumsum(varint_lengths(tfs.astype(np.uint64)), out=tf_off[1:])
    dl_off = np.zeros(len(pdf) + 1, dtype=np.int64)
    np.cumsum(varint_lengths(dl_ints), out=dl_off[1:])

    docs_bin = [doc_bytes[doc_off[s] : doc_off[e]] for s, e in zip(starts, ends)]
    tfs_bin = [tf_bytes[tf_off[s] : tf_off[e]] for s, e in zip(starts, ends)]
    dls_bin = [dl_bytes[dl_off[s] : dl_off[e]] for s, e in zip(starts, ends)]

    return pd.DataFrame(
        {
            "term": terms[starts],
            "block_id": bids[starts],
            "first_doc": first_doc,
            "last_doc": last_doc,
            "n_docs": n_docs,
            "max_tf": max_tf,
            "min_dl": min_dl,
            "max_tfc": max_tfc,
            "docs_bin": docs_bin,
            "tfs_bin": tfs_bin,
            "dls_bin": dls_bin,
        }
    )


def build_blocks(
    flat: DataFrame,
    avgdl: float | dict,
    n_partitions: int | None = None,
    block_bits: int = BLOCK_BITS,
    span_bits: int = SPAN_BITS,
    by: str | None = None,
) -> DataFrame:
    """flat postings ``(term, docint, tf, doclen)`` → block rows.

    One shuffle: hash-repartition by (term, docint-span) + in-partition
    sort, then a streaming mapInPandas encoder. The span key
    (``docint >> SPAN_BITS``, with SPAN_BITS > BLOCK_BITS) is the
    heavy-term salt the north rule calls for: a stopword term with 10^8
    postings spreads across many partitions instead of hot-spotting one,
    while every 2^13-range block still lands wholly inside one partition
    (its rows share the coarser 2^20 span), so no group is ever split.
    Groups split across *Arrow batches* are handled by a carry buffer —
    a group is ≤ 2^13 rows by construction, so the carry is bounded.

    ``block_bits``/``span_bits`` (span_bits > block_bits required, else
    a block range could straddle two partitions) exist so tests and the
    skew harness can exercise the salt at small docint ranges; prod
    callers use the module defaults.

    ``by`` names an int column of ``flat`` that splits it into segments
    encoded at their own ``avgdl[value]``; it rides through to the
    output. A block must not span two values (true for a store's shard,
    whose docint ranges are block-aligned).
    """
    if span_bits <= block_bits:
        raise ValueError("span_bits must exceed block_bits (no split groups)")
    cols = ["term", "docint", "tf", "doclen", *([by] if by else [])]
    rep = flat.select(*cols).withColumn(
        "_span", F.shiftright(F.col("docint"), span_bits)
    )
    rep = (
        rep.repartition(n_partitions, "term", "_span")
        if n_partitions
        else rep.repartition("term", "_span")
    ).sortWithinPartitions("term", "docint").drop("_span")

    def encode(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        bbits = block_bits
        carry: pd.DataFrame | None = None
        for pdf in batches:
            if carry is not None and len(carry):
                pdf = pd.concat([carry, pdf], ignore_index=True)
            if len(pdf) == 0:
                continue
            terms = pdf["term"].to_numpy()
            bids = pdf["docint"].to_numpy(np.int64) >> bbits
            last_term, last_bid = terms[-1], bids[-1]
            in_last = (terms == last_term) & (bids == last_bid)
            # trailing run of the final group (sorted ⇒ contiguous at end)
            split = len(pdf) - int(in_last[::-1].argmin() if not in_last.all() else len(pdf))
            carry = pdf.iloc[split:]
            body = pdf.iloc[:split]
            if len(body):
                yield encode_frame(body)
        if carry is not None and len(carry):
            yield encode_frame(carry)

    def encode_frame(pdf: pd.DataFrame) -> pd.DataFrame:
        if by is None:
            return encode_group_frame(pdf, avgdl, block_bits)
        return pd.concat(
            [
                encode_group_frame(g, avgdl[k], block_bits).assign(**{by: k})
                for k, g in pdf.groupby(by, sort=True)
            ],
            ignore_index=True,
        )

    schema = BLOCKS_SCHEMA + (f", {by} int" if by else "")
    return rep.mapInPandas(encode, schema=schema)
