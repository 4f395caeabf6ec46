"""Per-layer metrics of a traced run (``--trace 1``), named by module.

Most come from the spans recorded around the workload's own calls. The
build layers and the query-planning layers are also timed once more here,
each on its own: ``docids``, ``postings_flat``, ``postings_flat_pandas``
and ``term_stats`` are materialized into Spark's no-op sink, so their times
overlap and do not sum to the build wall.
"""

from __future__ import annotations

import os
import statistics
import time

from corpus import SHAPES, render
from spans import driver_rss_peak_mb

med = statistics.median


def _noop(spans, name: str, df):
    with spans.span(name) as sp:
        df.write.format("noop").mode("overwrite").save()
    return sp


def per_layer(bench) -> dict:
    from miru_spark.indexing.build import (
        base_with_docint,
        postings_flat,
        postings_flat_pandas,
        term_stats,
    )
    from miru_spark.query.bm25 import search
    from miru_spark.query.filters import expand_multiterm
    from miru_spark.query.parser import parse_query
    from oracle import parquet_files

    import pyarrow.parquet as pq

    spark, spans, s = bench.spark, bench.spans, bench.samples
    m: dict[str, tuple[float, str]] = {}

    def put(name, value, unit):
        m[name] = (float(value), unit)

    put("session.start_s", bench.session_start_s, "s")

    # build layers, each materialized alone
    turns = spark.read.parquet(bench.table)
    put("docids.base_with_docint_s",
        _noop(spans, "docids", base_with_docint(turns)).wall_s, "s")
    base = base_with_docint(turns)
    put("build.postings_flat_s",
        _noop(spans, "flat", postings_flat(base, positions=True)).wall_s, "s")
    sp = _noop(spans, "flat_pandas", postings_flat_pandas(base, positions=True))
    put("build.postings_flat_pandas_s", sp.wall_s, "s")
    put("build.python_bytes_sent", sp.python_bytes_sent, "B")
    put("build.postings_rows", sum(
        pq.ParquetFile(f).metadata.num_rows
        for f in parquet_files(os.path.join(bench.served_dir, "postings"))), "rows")
    written = spark.read.parquet(os.path.join(bench.served_dir, "postings")).select(
        "term", "docint", "tf")
    put("build.term_stats_s", _noop(spans, "terms", term_stats(written)).wall_s, "s")

    put("index.build_persisted.jobs", med(s["build_jobs"]), "count")
    put("index.build_persisted.stages", med(s["build_stages"]), "count")
    put("index.build_persisted.shuffle_bytes", med(s["build_shuffle"]), "B")
    put("index.build_persisted.spill_bytes", med(s["build_spill"]), "B")
    put("index.load_s", bench.load_s, "s")
    for t, v in bench.segment_bytes.items():
        put(f"index.segment_bytes.{t}", v, "B")

    # query planning layers over one query per shape: parse and rewrite as
    # the mean per query, search()'s plan construction as the median
    rnd = bench.rounds[0]
    parse_ms, expand_ms, plan_ms, expand_jobs = [], [], [], 0
    for _, node, k in rnd:
        q = render(node, bench.vocab)
        t0 = time.perf_counter()
        parsed = parse_query(q, bench.index.analyzer)
        parse_ms.append((time.perf_counter() - t0) * 1e3)
        with spans.span("expand") as sp:
            expand_multiterm(bench.index, parsed)
        expand_ms.append(sp.wall_s * 1e3)
        expand_jobs += sp.jobs
        with spans.span("plan") as sp:
            search(bench.index, q, k=k)
        plan_ms.append(sp.wall_s * 1e3)
    mean = statistics.fmean
    put("parser.parse_ms", mean(parse_ms), "ms")
    put("filters.expand_multiterm.ms", mean(expand_ms), "ms")
    put("filters.expand_multiterm.jobs", expand_jobs, "count")
    put("bm25.plan_ms", med(plan_ms), "ms")

    for shape in SHAPES:
        sps = s[f"shape.{shape}"]
        put(f"bm25.{shape}.exec_ms", med(x.wall_s for x in sps) * 1e3, "ms")
        put(f"bm25.{shape}.jobs", med(x.jobs for x in sps), "count")
        put(f"bm25.{shape}.stages", med(x.stages for x in sps), "count")
        put(f"bm25.{shape}.postings_rows", med(x.postings_rows for x in sps), "rows")
        put(f"bm25.{shape}.shuffle_bytes", med(x.shuffle_bytes for x in sps), "B")

    plan, exe = s["batch_plan"], s["batch_exec"]
    put("batch.plan_ms", med(x.wall_s for x in plan) * 1e3, "ms")
    put("batch.exec_ms", med(x.wall_s for x in exe) * 1e3, "ms")
    put("batch.jobs", med(a.jobs + b.jobs for a, b in zip(plan, exe)), "count")
    put("batch.stages", med(a.stages + b.stages for a, b in zip(plan, exe)), "count")
    put("batch.postings_rows",
        med(a.postings_rows + b.postings_rows for a, b in zip(plan, exe)), "rows")
    put("batch.shuffle_bytes",
        med(a.shuffle_bytes + b.shuffle_bytes for a, b in zip(plan, exe)), "B")

    app = s["append_span"]
    put("incremental.append_s", med(x.wall_s for x in app), "s")
    put("incremental.append_jobs", med(x.jobs for x in app), "count")
    put("incremental.append_jobs_per_shard",
        med(x.jobs for x in app) / bench.plan.shards, "count")
    put("incremental.load_ms", med(x.wall_s for x in s["fresh_load"]) * 1e3, "ms")
    put("incremental.load_jobs", med(x.jobs for x in s["fresh_load"]), "count")
    put("bm25.fresh.exec_ms", med(x.wall_s for x in s["fresh_search"]) * 1e3, "ms")
    put("bm25.fresh.jobs", med(x.jobs for x in s["fresh_search"]), "count")
    comp = s["compact_span"]
    put("incremental.compact_s", med(x.wall_s for x in comp), "s")
    put("incremental.compact_jobs", med(x.jobs for x in comp), "count")
    put("incremental.units_before", bench.units[0], "count")
    put("incremental.units_after", bench.units[1], "count")
    put("incremental.bytes_written_per_turn", med(s["compact_written"]), "B/turn")

    put("driver.rss_peak_mb", driver_rss_peak_mb(spark), "MiB")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}
