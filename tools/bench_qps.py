"""Query-serving throughput harness: sequential vs concurrent vs batched.

The north rule's scaling criterion targets the index BUILD; this is the
serving-side companion. Three ways to push the reference query set
(tests/test_search_e2e.QUERIES shape) through one warmed index:

  * sequential — one Spark job per query, one at a time (the latency
    floor per query is job scheduling, not data);
  * threads=N — N driver threads submit queries concurrently; Spark
    schedules their jobs simultaneously, so scheduler+executor idle
    gaps overlap (the reference's analog is replica racing across
    its long-lived partition readers, MiruLowestLatencySolver);
  * batched — search_batch unions all queries into ONE postings scan +
    one shuffle (query_id, docint) + one window: the max-amortization
    path, what a 1000-executor serving tier would run per tick.

Usage: python tools/bench_qps.py [--convs 25000] [--cores 8]
       [--threads 8] [--mult 4] [--out BENCH/qps.json]
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from miru_spark.index import InvertedIndex  # noqa: E402
from miru_spark.query.batch import search_batch  # noqa: E402
from miru_spark.query.bm25 import search  # noqa: E402
from miru_spark.session import get_spark  # noqa: E402
from miru_spark.transcripts import generate_transcripts  # noqa: E402

BASE_QUERIES = [
    ("w00000", 10),
    ("w00001 AND w00004", 10),
    ("w00002 w00005 w00010", 10),
    ("w00003 OR w09999", 10),
    ("w00001 AND NOT w00002", 10),
    ("w0001*", 10),
    ("role:assistant AND w00007", 10),
    ("tool:bash AND w00001", 10),
    ("(w00004 OR w00005) AND NOT w00006", 10),
    ("w00020 OR (w00030 AND w00040)", 25),
    ("NOT w00000", 10),
    ("w00000 AND w00001 AND w00002 AND w00003", 100),
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--convs", type=int, default=25_000)
    ap.add_argument("--cores", type=int, default=8)
    ap.add_argument("--threads", type=int, default=8)
    ap.add_argument("--mult", type=int, default=4,
                    help="replicate the 12-query set this many times "
                    "(distinct k so plans don't dedupe)")
    ap.add_argument("--out", default="BENCH/qps.json")
    args = ap.parse_args()

    spark = get_spark(
        "bench_qps",
        master=f"local[{args.cores}]",
        shuffle_partitions=args.cores * 2,
    )
    turns = generate_transcripts(
        spark, n_convs=args.convs, max_turns=12, seed=11
    )
    idx = InvertedIndex.build(turns)
    # a serving index is WARM: postings/terms/docs materialized once
    # (the persisted-store load path); without this every query re-runs
    # the whole build lineage and the measurement is of builds, not
    # serving
    idx.postings = idx.postings.cache()
    idx.terms = idx.terms.cache()
    idx.docs = idx.docs.cache()
    idx.postings.count(), idx.terms.count(), idx.docs.count()
    n_turns = idx.n_docs

    queries = [
        (f"q{m}_{i}", q, k + m)  # k varies per replica: no trivial reuse
        for m in range(args.mult)
        for i, (q, k) in enumerate(BASE_QUERIES)
    ]
    # warm: run each base query once (JIT, codegen, broadcast warmup)
    for q, k in BASE_QUERIES:
        search(idx, q, k=k).collect()

    def one(args_):
        _, q, k = args_
        return len(search(idx, q, k=k).collect())

    t0 = time.time()
    n_rows_seq = sum(one(x) for x in queries)
    t_seq = time.time() - t0

    t0 = time.time()
    with ThreadPoolExecutor(max_workers=args.threads) as pool:
        n_rows_thr = sum(pool.map(one, queries))
    t_thr = time.time() - t0

    t0 = time.time()
    n_rows_bat = len(search_batch(idx, queries).collect())
    t_bat = time.time() - t0

    # steady state: a long-lived serving session re-runs the batched
    # tick with plan/codegen/broadcasts already warm — the number a
    # persistent serving tier (one shared SparkSession, e.g. behind
    # Spark Connect) actually sustains. First tick above pays the
    # one-time batch-plan codegen; report the median warm tick (the
    # min of three would report the luckiest tick as the steady state).
    steady = []
    for _ in range(3):
        t0 = time.time()
        search_batch(idx, queries).collect()
        steady.append(time.time() - t0)
    t_steady = statistics.median(steady)

    nq = len(queries)
    result = {
        "turns": n_turns,
        "cores": args.cores,
        "threads": args.threads,
        "n_queries": nq,
        "rows": {"seq": n_rows_seq, "thr": n_rows_thr, "bat": n_rows_bat},
        "sequential": {"sec": round(t_seq, 2), "qps": round(nq / t_seq, 2)},
        "concurrent": {"sec": round(t_thr, 2), "qps": round(nq / t_thr, 2)},
        "batched": {"sec": round(t_bat, 2), "qps": round(nq / t_bat, 2)},
        "batched_steady": {
            "sec": round(t_steady, 2),
            "qps": round(nq / t_steady, 2),
            "ticks_sec": [round(x, 2) for x in steady],
            "note": "warm long-lived session, repeated batch tick "
            "(serving-tier steady state; first batch above pays "
            "one-time plan codegen)",
        },
        "concurrency_speedup": round(t_seq / t_thr, 2),
        "batch_speedup": round(t_seq / t_bat, 2),
        "steady_speedup": round(t_seq / t_steady, 2),
    }
    print(json.dumps(result, indent=1))
    with open(args.out, "w") as f:
        json.dump(result, f, indent=1)


if __name__ == "__main__":
    main()
