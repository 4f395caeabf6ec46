#!/usr/bin/env python3
"""End-to-end benchmark of the engine's build, serve and ingest paths.

Run from the repository root::

    python3 perfbench/run.py --workload serve --seed 1 --seconds 26 --trace 0

Every workload runs the same four phases against the engine's public API,
in one Spark session at ``local[<cores>]``, so that every result line
carries every end-to-end metric:

- build:  ``InvertedIndex.build_persisted(positions=True)`` over the
  benchmark's parquet transcripts table;
- round:  a one-client closed loop of ``search`` + collect, one query per
  shape, on the index loaded once with ``InvertedIndex.load``;
- tick:   ``search_batch`` of one query per shape;
- cycle:  on a ``SegmentStore``: ``append`` a batch, fresh queries
  (``SegmentStore.load()`` + ``search`` + collect), ``compact``, the same
  queries again.

Each workload runs every other phase once, in that order, and then its own
phase (``Plan.own``) at least once and until ``--seconds`` have passed since
measuring began: serve repeats query rounds, ingest store cycles.
Every answer is checked against ``oracle.py``. The last stdout line is one
JSON object: ``{"correct", "attempted", "failed", "metrics"}``;
``--trace 0`` reports the end-to-end metrics, ``--trace 1`` the per-layer
ones (see ``layers.py``). ``--small`` runs a tiny corpus with the same
phases and checks.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import time
import traceback
from dataclasses import dataclass, replace

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)


def process_start_time() -> float:
    """Epoch seconds at which this process started (from /proc)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(l.split()[1]) for l in f if l.startswith("btime"))
    return btime + start_ticks / os.sysconf("SC_CLK_TCK")


@dataclass(frozen=True)
class Plan:
    n_main: int  # turns in the transcripts table (build input, served index)
    shards: int  # SegmentStore shards
    append_turns: int  # turns per appended batch
    own: str  # the phase that repeats until --seconds: "round" or "cycle"


FRESH_SHAPES = ("term_head", "and2", "or2")

# One run of each other phase fills its metrics; the workload's own phase
# gets the rest of the run. Serve's store only fills the store metrics;
# ingest's has more shards, where append's per-shard cost shows.
PLANS = {
    "serve": Plan(n_main=8_000, shards=2, append_turns=1_000, own="round"),
    "ingest": Plan(n_main=8_000, shards=3, append_turns=1_000, own="cycle"),
}


def small(plan: Plan) -> Plan:
    """The self-test size of a workload: same phases, smaller inputs."""
    return replace(plan, n_main=1_500, append_turns=300)


# compact() tiers units by log_{merge_factor}(max(bytes, min_bytes)); a
# floor above every unit's size puts a shard's units in one tier, so with
# merge_factor=2 each cycle merges a shard's unit and its new delta.
COMPACT_MIN_BYTES = 1 << 30

E2E_UNITS = {
    "setup_s": "s", "build_turns_per_s": "turns/s", "index_bytes_per_turn": "B/turn",
    "query_p50_ms": "ms", "query_p90_ms": "ms", "batch_tick_s": "s",
    "append_turns_per_s": "turns/s", "fresh_query_p50_ms": "ms",
    "store_bytes_per_turn": "B/turn",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


class Failed(Exception):
    """An engine call raised; counted in ``failed``, and the run ends
    without a result."""


class Bench:
    def __init__(self, args, plan: Plan, work: str):
        self.args, self.plan, self.work = args, plan, work
        self.attempted = 0
        self.failed = 0
        self.samples: dict[str, list[float]] = {}

    def add(self, name: str, v: float) -> None:
        self.samples.setdefault(name, []).append(v)

    def op(self, name: str, fn):
        """One counted operation under a span; returns (result, span)."""
        self.attempted += 1
        with self.spans.span(name) as sp:
            try:
                out = fn()
            except Exception:
                self.failed += 1
                traceback.print_exc()
                raise Failed(name)
        return out, sp

    # -- set-up -------------------------------------------------------------

    def setup(self, t_proc: float) -> None:
        import numpy as np

        import corpus
        from oracle import Oracle

        rng = np.random.default_rng(self.args.seed)
        p = self.plan
        self.vocab = corpus.vocabulary(rng)
        self.cdf = corpus.zipf_cdf()
        self.main, self.next_conv = corpus.make_turns(rng, p.n_main, 0, self.cdf)
        # Append batches come from their own stream, made as cycles need
        # them: batch i is the same for a seed however many cycles run.
        self.batch_rng = np.random.default_rng([self.args.seed, 1])
        self.main_oracle = Oracle(self.main, self.vocab)
        self.main_key = {(c, int(t)): i for i, (c, t) in
                         enumerate(zip(self.main.conv_id, self.main.turn_idx))}
        self.rounds = corpus.make_queries(
            rng, self.vocab, self.main, self.main_oracle.df, 64)
        self.table = os.path.join(self.work, "transcripts.parquet")
        self.main.write_parquet(self.table, self.vocab)

        from spans import NoSpans, SparkSpans
        from miru_spark.index import InvertedIndex
        from miru_spark.indexing.incremental import SegmentStore
        from miru_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark(
            "perfbench", master=f"local[{os.cpu_count()}]",
            extra_conf={"spark.driver.extraJavaOptions":
                        f"-Djava.io.tmpdir={os.path.join(self.work, 'tmp')}"},
        )
        self.session_start_s = time.perf_counter() - t0
        self.spans = SparkSpans(self.spark) if self.args.trace else NoSpans()
        turns = self.spark.read.parquet(self.table)
        self.served_dir = os.path.join(self.work, "served")
        InvertedIndex.build_persisted(turns, self.served_dir, positions=True)
        self.store = SegmentStore(
            self.spark, os.path.join(self.work, "store"), n_shards=p.shards)
        self.store.build(turns)
        self.store_turns, self.store_oracle = self.main, self.main_oracle
        self.store_key = self.main_key
        self.next_round = 0
        self.setup_s = time.time() - t_proc
        log(f"set-up {self.setup_s:.1f} s (session start {self.session_start_s:.1f} s)")

    def take_round(self):
        r = self.rounds[self.next_round % len(self.rounds)]
        self.next_round += 1
        return r

    # -- phases -------------------------------------------------------------

    def run_build(self) -> None:
        from miru_spark.index import InvertedIndex
        from oracle import check_build, dir_bytes

        n = len(self.samples.get("build_s", []))
        out = os.path.join(self.work, f"build_{n}")
        turns = self.spark.read.parquet(self.table)
        _, sp = self.op("index.build_persisted", lambda: InvertedIndex.build_persisted(
            turns, out, positions=True))
        self.add("build_s", sp.wall_s)
        self.add("build_jobs", sp.jobs)
        self.add("build_stages", sp.stages)
        self.add("build_shuffle", sp.shuffle_bytes)
        self.add("build_spill", sp.spill_bytes)
        if n == 0:
            check_build(out, self.main_oracle)
            self.index_bytes = dir_bytes(out)
            self.segment_bytes = {t: dir_bytes(os.path.join(out, t))
                                  for t in ("postings", "docs", "terms")}
        shutil.rmtree(out)

    def _rows_single(self, rows, key_to_turn):
        from oracle import check

        out = []
        for r in rows:
            key = (r["conv_id"], r["turn_idx"])
            check(key in key_to_turn, f"answer has unknown turn {key}")
            out.append((key_to_turn[key], r["docint"], r["score"]))
        return out

    def _check_served(self, what, node, k, rows):
        from oracle import check, check_ranking

        for t, d, _ in rows:
            check(d == t, f"{what}: docint {d} for turn {t}")
        matched, score = self.main_oracle.scores(node)
        check_ranking(what, rows, matched, score, k)

    def run_serve_round(self) -> None:
        from corpus import render
        from miru_spark.query.bm25 import search

        for shape, node, k in self.take_round():
            q = render(node, self.vocab)
            rows, sp = self.op(f"bm25.{shape}",
                               lambda: search(self.index, q, k=k).collect())
            self.add("query_ms", sp.wall_s * 1e3)
            self.add(f"shape.{shape}", sp)
            self._check_served(f"search {shape} {q!r}", node, k,
                               self._rows_single(rows, self.main_key))

    def run_tick(self) -> None:
        from corpus import render
        from miru_spark.query.batch import search_batch

        rnd = self.take_round()
        qs = [(shape, render(node, self.vocab), k) for shape, node, k in rnd]
        t0 = time.perf_counter()
        df, sp_plan = self.op("batch.plan", lambda: search_batch(self.index, qs))
        rows, sp_exec = self.op("batch.exec", df.collect)
        self.attempted -= 1  # plan + exec are one tick
        self.add("tick_s", time.perf_counter() - t0)
        self.add("batch_plan", sp_plan)
        self.add("batch_exec", sp_exec)
        by_q: dict[str, list] = {}
        for r in rows:
            by_q.setdefault(r["query_id"], []).append(r)
        for shape, node, k in rnd:
            got = sorted(by_q.get(shape, []), key=lambda r: r["rank"])
            self._check_served(f"search_batch {shape}", node, k,
                               self._rows_single(got, self.main_key))

    def fresh_pass(self, rnd=None):
        """One fresh query per FRESH_SHAPES entry: load the store, search,
        collect. Returns (round, answers) for the compaction check."""
        from corpus import render
        from miru_spark.indexing.incremental import SegmentStore
        from miru_spark.query.bm25 import search
        from oracle import check_ranking

        if rnd is None:
            rnd = [x for x in self.take_round() if x[0] in FRESH_SHAPES]
        answers = []
        for shape, node, k in rnd:
            q = render(node, self.vocab)
            store = SegmentStore(self.spark, self.store.path, n_shards=self.plan.shards)

            def query():
                with self.spans.span("incremental.load") as sp_load:
                    idx = store.load()
                with self.spans.span("bm25.fresh") as sp_q:
                    rows = search(idx, q, k=k).collect()
                return idx, rows, sp_load, sp_q

            (idx, rows, sp_load, sp_q), sp = self.op("fresh", query)
            self.add("fresh_ms", sp.wall_s * 1e3)
            self.add("fresh_load", sp_load)
            self.add("fresh_search", sp_q)
            got = self._rows_single(rows, self.store_key)
            self._check_store_stats(idx)
            matched, score = self.store_oracle.scores(node)
            check_ranking(f"fresh {shape} {q!r}", got, matched, score, k)
            answers.append(got)
        return rnd, answers

    def _check_store_stats(self, idx) -> None:
        from oracle import check

        o = self.store_oracle
        check(idx.n_docs == o.n, f"store n_docs {idx.n_docs}, fed {o.n}")
        check(abs(idx.avg_doclen - o.avgdl) <= 1e-9 * o.avgdl,
              f"store avg_doclen {idx.avg_doclen}, fed {o.avgdl}")

    def _set_store_turns(self, turns) -> None:
        from oracle import Oracle

        self.store_turns = turns
        self.store_oracle = Oracle(turns, self.vocab)
        self.store_key = {(c, int(t)): i for i, (c, t) in
                          enumerate(zip(turns.conv_id, turns.turn_idx))}

    def run_cycle(self) -> None:
        """Append a new batch, one fresh-query pass, compact, the same pass
        again (answers must not change)."""
        import corpus
        from oracle import check, check_same_answers, dir_bytes

        p = self.plan
        batch, self.next_conv = corpus.make_turns(
            self.batch_rng, p.append_turns, self.next_conv, self.cdf)
        path = os.path.join(self.work, f"append_{self.next_conv}.parquet")
        batch.write_parquet(path, self.vocab)
        new = self.spark.read.parquet(path)
        _, sp = self.op("incremental.append", lambda: self.store.append(new))
        self.add("append_s", sp.wall_s)
        self.add("append_span", sp)
        self._set_store_turns(corpus.concat([self.store_turns, batch]))
        rnd, want = self.fresh_pass()
        before = set(self.store.live_units())
        _, sp = self.op("incremental.compact", lambda: self.store.compact(
            merge_factor=2, min_bytes=COMPACT_MIN_BYTES))
        after = set(self.store.live_units())
        self.add("compact_span", sp)
        check(len(after) < len(before),
              f"compact: live units {len(before)} -> {len(after)}")
        n = len(self.store_turns)
        self.units = (len(before), len(after))
        self.store_bytes_per_turn = sum(dir_bytes(u) for u in after) / n
        self.add("compact_written", sum(dir_bytes(u) for u in after - before) / n)
        _, got = self.fresh_pass(rnd)
        for (shape, _, _), a, b in zip(rnd, want, got):
            check_same_answers(f"compact: {shape}", a, b)

    # -- measurement --------------------------------------------------------

    def measure(self) -> None:
        from miru_spark.index import InvertedIndex

        p = self.plan
        with self.spans.span("index.load") as sp:
            self.index = InvertedIndex.load(self.spark, self.served_dir)
        self.load_s = sp.wall_s
        phases = {"build": self.run_build, "round": self.run_serve_round,
                  "tick": self.run_tick, "cycle": self.run_cycle}
        spent = dict.fromkeys(phases, 0.0)
        runs = dict.fromkeys(phases, 0)
        t0 = time.perf_counter()

        def once(name):
            t = time.perf_counter()
            phases[name]()
            spent[name] += time.perf_counter() - t
            runs[name] += 1

        for name in phases:
            if name != p.own:
                once(name)
        once(p.own)
        while time.perf_counter() - t0 < self.args.seconds:
            once(p.own)
        total = time.perf_counter() - t0
        log("samples " + json.dumps({
            k: [round(x, 4) for x in v] for k, v in self.samples.items()
            if k.endswith(("_s", "_ms"))}))
        log(f"measured {total:.1f} s: " + ", ".join(
            f"{name} {runs[name]}x {spent[name]:.1f} s ({spent[name] / total:.0%})"
            for name in phases))

    def e2e(self) -> dict:
        s = self.samples
        med = statistics.median
        q = s["query_ms"]
        return {
            "setup_s": self.setup_s,
            "build_turns_per_s": self.plan.n_main / med(s["build_s"]),
            "index_bytes_per_turn": self.index_bytes / self.plan.n_main,
            "query_p50_ms": med(q),
            "query_p90_ms": statistics.quantiles(q, n=10, method="inclusive")[8],
            "batch_tick_s": med(s["tick_s"]),
            "append_turns_per_s": self.plan.append_turns / med(s["append_s"]),
            "fresh_query_p50_ms": med(s["fresh_ms"]),
            "store_bytes_per_turn": self.store_bytes_per_turn,
        }


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(PLANS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--small", action="store_true",
                    help="tiny corpus, same phases and checks (self-test)")
    args = ap.parse_args()
    t_proc = process_start_time()

    if not os.path.isfile(os.path.join(ROOT, "miru_spark", "index.py")):
        print(f"perfbench: no engine sources under {ROOT}; run from a full "
              "checkout", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    # Python workers import the engine too (pandas UDFs); they inherit the
    # JVM's environment, not this process's sys.path.
    os.environ["PYTHONPATH"] = os.pathsep.join(
        x for x in (ROOT, os.environ.get("PYTHONPATH")) if x)
    work = os.path.join(ROOT, ".perfbench_out", f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = os.path.join(work, "tmp")

    from oracle import CheckFailed

    plan = PLANS[args.workload]
    bench = Bench(args, small(plan) if args.small else plan, work)
    result, status = None, 1
    try:
        bench.setup(t_proc)
        bench.measure()
        result, status = bench_result(bench, True), 0
    except CheckFailed as e:
        print(f"perfbench: CHECK FAILED: {e}", file=sys.stderr)
        result = bench_result(bench, False)
    except Exception:
        traceback.print_exc()
    finally:
        t0 = time.perf_counter()
        stop_spark(bench)
        t_stop = time.perf_counter() - t0
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(os.path.dirname(work))
        except OSError:
            pass
        log(f"teardown {time.perf_counter() - t0:.1f} s (Spark stop {t_stop:.1f} s); process "
            f"{time.time() - t_proc:.1f} s")
    if result is not None:
        print(json.dumps(result))
    return status


def bench_result(bench: Bench, correct: bool) -> dict:
    metrics = {}
    if correct:
        if bench.args.trace:
            from layers import per_layer

            print("perfbench: traced end-to-end " + json.dumps(bench.e2e()))
            metrics = per_layer(bench)
        else:
            metrics = {k: {"value": v, "unit": E2E_UNITS[k]}
                       for k, v in bench.e2e().items()}
    return {"correct": correct, "attempted": bench.attempted,
            "failed": bench.failed, "metrics": metrics}


def stop_spark(bench: Bench) -> None:
    """Stop the session and wait for the driver JVM (and with it the Python
    workers it started) to exit."""
    spark = getattr(bench, "spark", None)
    if spark is None:
        return
    gw = spark.sparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


if __name__ == "__main__":
    sys.exit(main())
