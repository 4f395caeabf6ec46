"""Self-tests of the benchmark: the small mode of every workload passes its
checks, the checks reject wrong answers and tampered segment files, and a
failed check ends a run with ``correct: false`` and exit 1.

    python3 -m pytest perfbench/test_perfbench.py -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import corpus  # noqa: E402
import run  # noqa: E402
from oracle import (  # noqa: E402
    CheckFailed,
    Oracle,
    check,
    check_build,
    check_ranking,
    check_same_answers,
)
from run import E2E_UNITS, PLANS  # noqa: E402


def _oracle(seed: int = 3, n: int = 400):
    rng = np.random.default_rng(seed)
    vocab = corpus.vocabulary(rng, 2_000)
    turns, _ = corpus.make_turns(rng, n, 0, corpus.zipf_cdf(2_000))
    return Oracle(turns, vocab), rng


def _top(o: Oracle, node, k: int):
    matched, score = o.scores(node)
    idx = np.flatnonzero(matched)
    order = sorted(idx, key=lambda i: (-score[i], -i))[:k]
    return [(int(i), int(i), float(score[i])) for i in order], matched, score


def test_check_ranking_accepts_the_independent_answer():
    o, _ = _oracle()
    node = ("or", [("term", 0), ("term", 5)])
    rows, matched, score = _top(o, node, 10)
    check_ranking("ok", rows, matched, score, 10)


@pytest.mark.parametrize("corrupt", ["score", "drop", "swap", "nonmatch"])
def test_check_ranking_rejects_wrong_answers(corrupt):
    o, _ = _oracle()
    node = ("and", [("term", 0), ("not", ("term", 1))])
    rows, matched, score = _top(o, node, 10)
    assert len(rows) == 10 and rows[0][2] > rows[-1][2]
    if corrupt == "score":
        t, d, s = rows[3]
        rows[3] = (t, d, s + 1e-6)
    elif corrupt == "drop":
        rows = rows[:-1]
    elif corrupt == "swap":
        rows[0], rows[-1] = rows[-1], rows[0]
    else:
        t = int(np.flatnonzero(~matched)[0])
        rows[-1] = (t, t, rows[-1][2])
    with pytest.raises(CheckFailed):
        check_ranking(corrupt, rows, matched, score, 10)


def test_queries_render_every_shape():
    o, rng = _oracle()
    rnd = corpus.make_queries(rng, o.vocab, o.turns, o.df, 1)[0]
    assert [s for s, _, _ in rnd] == list(corpus.SHAPES)
    for _, node, _ in rnd:
        assert corpus.render(node, o.vocab)


def test_same_answers_check():
    a = [(3, 3, 1.5), (7, 7, 1.0)]
    check_same_answers("same", a, [(3, 3, 1.5000000001), (7, 7, 1.0)])
    for b in ([(7, 7, 1.0), (3, 3, 1.5)], [(3, 3, 1.5)], [(3, 4, 1.5), (7, 7, 1.0)]):
        with pytest.raises(CheckFailed):
            check_same_answers("changed", a, b)


def _write_segments(root, o: Oracle, corrupt: str | None = None) -> None:
    """A persisted index of ``o.turns`` in the engine's segment layout,
    written with pyarrow (turn i = docint i), then tampered with."""
    turns = o.turns
    post: dict[tuple[str, int], list[int]] = {}
    for i in range(len(turns)):
        for pos, t in enumerate(turns.tok[turns.off[i]:turns.off[i + 1]]):
            post.setdefault((o.vocab[t], i), []).append(pos)
    keys = sorted(post)
    rows = [[k[0], k[1], len(post[k]), post[k]] for k in keys]
    docint = list(range(len(turns)))
    if corrupt == "drop":
        del rows[len(rows) // 3]
    elif corrupt == "unsorted":
        rows[5], rows[6] = rows[6], rows[5]
    elif corrupt == "positions":
        rows[10][3] = rows[10][3][:-1] if rows[10][2] > 1 else rows[10][3] * 2
    elif corrupt == "docint":
        docint[-1] = len(turns)
    terms: dict[str, int] = {}
    for r in rows:
        terms[r[0]] = terms.get(r[0], 0) + 1
    for sub in ("postings", "terms", "docs"):
        (root / sub).mkdir(parents=True)
    half = len(rows) // 2
    for n, part in enumerate((rows[:half], rows[half:])):
        cols = list(zip(*part))
        pq.write_table(pa.table({
            "term": pa.array(cols[0], pa.string()),
            "docint": pa.array(cols[1], pa.int64()),
            "tf": pa.array(cols[2], pa.int32()),
            "positions": pa.array(cols[3], pa.list_(pa.int32())),
        }), root / "postings" / f"part-{n}.parquet")
    pq.write_table(pa.table({"term": list(terms), "df": list(terms.values())}),
                   root / "terms" / "part-0.parquet")
    pq.write_table(pa.table({
        "docint": pa.array(docint, pa.int64()),
        "conv_id": pa.array(turns.conv_id, pa.string()),
        "turn_idx": pa.array(turns.turn_idx, pa.int32()),
        "doclen": pa.array(np.diff(turns.off), pa.int32()),
    }), root / "docs" / "part-0.parquet")


def test_check_build_accepts_a_correct_index(tmp_path):
    o, _ = _oracle()
    _write_segments(tmp_path, o)
    check_build(str(tmp_path), o)


@pytest.mark.parametrize("corrupt", ["drop", "unsorted", "positions", "docint"])
def test_check_build_rejects_tampered_segments(corrupt, tmp_path):
    o, _ = _oracle()
    _write_segments(tmp_path, o, corrupt)
    with pytest.raises(CheckFailed):
        check_build(str(tmp_path), o)


def _main_with_measure(monkeypatch, capsys, measure):
    """Run ``run.main`` with set-up stubbed out (no Spark) and ``measure``
    in place of the workload; returns (exit code, stdout lines)."""
    from spans import NoSpans

    def setup(self, t_proc):
        self.spans = NoSpans()

    # main() sets these for the engine's processes; restore them afterwards
    for var in ("PYTHONPATH", "SPARK_LOCAL_DIRS", "TMPDIR"):
        monkeypatch.setenv(var, os.environ.get(var, ""))
    monkeypatch.setattr(sys, "path", list(sys.path))
    monkeypatch.setattr(run.Bench, "setup", setup)
    monkeypatch.setattr(run.Bench, "measure", measure)
    monkeypatch.setattr(sys, "argv", ["run.py", "--workload", "serve", "--seed", "1",
                                      "--seconds", "1", "--trace", "0"])
    status = run.main()
    return status, capsys.readouterr().out.strip().splitlines()


def test_failed_check_fails_the_run(monkeypatch, capsys):
    def measure(self):
        self.op("bm25.term_head", lambda: None)
        check(False, "wrong answer")

    status, out = _main_with_measure(monkeypatch, capsys, measure)
    assert status == 1
    assert json.loads(out[-1]) == {"correct": False, "attempted": 1, "failed": 0,
                                   "metrics": {}}


def test_engine_error_is_counted_and_gives_no_result(monkeypatch, capsys):
    def measure(self):
        self.op("bm25.term_head", lambda: 1 / 0)

    status, out = _main_with_measure(monkeypatch, capsys, measure)
    assert status == 1 and out == []


def test_repeat_runs_every_workload_in_small_mode(tmp_path):
    """``repeat.py`` with its default workloads, over the small mode of
    each: every run passes its checks and reports every metric."""
    results = tmp_path / "results.jsonl"
    p = subprocess.run(
        [sys.executable, os.path.join(HERE, "repeat.py"), "--runs", "1",
         "--seconds", "1", "--small", "--out", str(results)],
        cwd=os.path.dirname(HERE), stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=900,
    )
    assert p.returncode == 0
    runs = [json.loads(line) for line in results.read_text().splitlines()]
    assert sorted(r["workload"] for r in runs) == sorted(PLANS)
    for res in runs:
        assert res["correct"] is True and res["failed"] == 0 and res["attempted"] > 0
        assert set(res["metrics"]) == set(E2E_UNITS)
        assert all(m["value"] > 0 for m in res["metrics"].values())


def test_refuses_to_run_without_engine_sources(tmp_path):
    bench = tmp_path / "perfbench"
    bench.mkdir()
    for f in os.listdir(HERE):
        if f.endswith(".py"):
            (bench / f).write_text(open(os.path.join(HERE, f)).read())
    p = subprocess.run(
        [sys.executable, str(bench / "run.py"), "--workload", "serve", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        timeout=120,
    )
    assert p.returncode != 0 and p.stdout == ""
