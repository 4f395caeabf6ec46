"""Independent answers for the benchmark's correctness checks.

Everything is computed from the benchmark's own token arrays with numpy and
read back from segment files with pyarrow; nothing here imports the engine.
BM25 uses k1=1.2, b=0.75 and the Lucene idf ``ln(1 + (N - df + .5)/(df + .5))``.
A query's score sums, once per distinct matched term, the contribution of
every term matched by a non-negated text leaf (phrase words count as terms);
docs matched without such a term score 0. Results rank by (score desc,
docint desc).
"""

from __future__ import annotations

import fnmatch
import os
import re

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

from corpus import Turns

K1 = 1.2
B = 0.75
SCORE_TOL = 1e-9


class CheckFailed(AssertionError):
    pass


def check(cond: bool, msg: str) -> None:
    if not cond:
        raise CheckFailed(msg)


class Oracle:
    """Postings of a turn batch, in turn-index space (0..n-1)."""

    def __init__(self, turns: Turns, vocab: np.ndarray):
        self.turns, self.vocab = turns, vocab
        n, V = len(turns), len(vocab)
        self.n = n
        lens = np.diff(turns.off)
        self.doclen = lens.astype(np.float64)
        self.avgdl = float(self.doclen.mean())
        self.tok_doc = np.repeat(np.arange(n, dtype=np.int64), lens)
        key = self.tok_doc * V + turns.tok
        uk, tf = np.unique(key, return_counts=True)
        doc, term = uk // V, (uk % V).astype(np.int64)
        order = np.argsort(term, kind="stable")
        self.p_doc, self.p_tf = doc[order], tf[order].astype(np.float64)
        self.df = np.bincount(term, minlength=V)
        self.p_start = np.concatenate([[0], np.cumsum(self.df)])
        self.n_postings = len(uk)
        self.n_tokens = int(turns.off[-1])
        self.role = turns.role
        self.ts_s = turns.ts_s

    # -- boolean matching --------------------------------------------------

    def _terms_matching(self, node) -> np.ndarray:
        kind = node[0]
        if kind == "term":
            return np.array([node[1]])
        if kind == "prefix":
            pat = re.compile(re.escape(node[1]) + ".*")
        else:
            pat = re.compile(fnmatch.translate(node[1]))
        ids = [i for i, w in enumerate(self.vocab) if pat.fullmatch(w)]
        return np.array(ids, dtype=np.int64)

    def _docs_with(self, term: int) -> tuple[np.ndarray, np.ndarray]:
        s, e = self.p_start[term], self.p_start[term + 1]
        return self.p_doc[s:e], self.p_tf[s:e]

    def match(self, node) -> np.ndarray:
        kind = node[0]
        m = np.zeros(self.n, bool)
        if kind in ("term", "prefix", "wild"):
            for t in self._terms_matching(node):
                m[self._docs_with(int(t))[0]] = True
        elif kind == "meta":
            m = self.role == node[2]
        elif kind == "ts":
            m = (self.ts_s >= node[1]) & (self.ts_s <= node[2])
        elif kind == "phrase":
            a, b = node[1]
            tok = self.turns.tok
            hit = (tok[:-1] == a) & (tok[1:] == b) & (
                self.tok_doc[:-1] == self.tok_doc[1:])
            m[self.tok_doc[:-1][hit]] = True
        elif kind == "not":
            m = ~self.match(node[1])
        elif kind == "and":
            m = np.ones(self.n, bool)
            for c in node[1]:
                m &= self.match(c)
        elif kind == "or":
            for c in node[1]:
                m |= self.match(c)
        else:
            raise ValueError(node)
        return m

    def scoring_terms(self, node, negated: bool = False) -> set[int]:
        kind = node[0]
        if kind in ("term", "prefix", "wild"):
            return set() if negated else {int(t) for t in self._terms_matching(node)}
        if kind == "phrase":
            return set() if negated else set(node[1])
        if kind == "not":
            return self.scoring_terms(node[1], not negated)
        if kind in ("and", "or"):
            out: set[int] = set()
            for c in node[1]:
                out |= self.scoring_terms(c, negated)
            return out
        return set()

    def scores(self, node) -> tuple[np.ndarray, np.ndarray]:
        """(matched mask, BM25 score per turn)."""
        matched = self.match(node)
        score = np.zeros(self.n)
        for t in sorted(self.scoring_terms(node)):
            docs, tf = self._docs_with(t)
            idf = np.log(1.0 + (self.n - self.df[t] + 0.5) / (self.df[t] + 0.5))
            dl = self.doclen[docs]
            score[docs] += idf * tf * (K1 + 1.0) / (
                tf + K1 * (1.0 - B + B * dl / self.avgdl))
        return matched, score


def check_ranking(
    what: str,
    rows: list[tuple[int, int, float]],
    matched: np.ndarray,
    score: np.ndarray,
    k: int,
) -> None:
    """``rows`` = the engine's answer as (turn index, engine docint, score)
    in answer order. Checks the row count, that every row matches with the
    independent score, that the score sequence equals the independent top-k
    within ``SCORE_TOL``, and that rows run in (score desc, docint desc)
    order of the engine's own scores. Docs whose true scores tie may differ
    in the last bits of the engine's float sums, so near-ties may come in
    either docint order; exact ties may not."""
    idx = np.flatnonzero(matched)
    want = np.sort(score[idx])[::-1][:k]
    check(len(rows) == len(want),
          f"{what}: {len(rows)} rows, expected {len(want)}")
    seen = set()
    for i, (t, d, s) in enumerate(rows):
        check(t not in seen, f"{what}: turn {t} returned twice")
        seen.add(t)
        check(bool(matched[t]), f"{what}: turn {t} does not match")
        check(abs(s - score[t]) <= SCORE_TOL,
              f"{what}: turn {t} scored {s!r}, expected {score[t]!r}")
        check(abs(s - want[i]) <= SCORE_TOL,
              f"{what}: rank {i + 1} scored {s!r}, expected {want[i]!r}")
        if i:
            ps, pd_ = rows[i - 1][2], rows[i - 1][1]
            check(s < ps or (s == ps and d < pd_),
                  f"{what}: rank {i + 1} not in (score desc, docint desc) order")



def check_same_answers(
    what: str,
    before: list[tuple[int, int, float]],
    after: list[tuple[int, int, float]],
) -> None:
    """The same query, asked before and after a change that must not alter
    answers (compaction): the same turns with the same docints, in order."""
    check([(t, d) for t, d, _ in before] == [(t, d) for t, d, _ in after],
          f"{what}: answer changed")


# -- segment files -----------------------------------------------------------


def dir_bytes(path: str) -> int:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total


def parquet_files(path: str) -> list[str]:
    out = []
    for root, _, files in os.walk(path):
        out.extend(os.path.join(root, f) for f in files if f.endswith(".parquet"))
    return sorted(out)


def _read(path: str, columns: list[str]):
    import pyarrow as pa

    return pa.concat_tables(
        pq.read_table(f, columns=columns) for f in parquet_files(path))


def check_build(index_dir: str, oracle: Oracle) -> None:
    """Conservation checks on a persisted index built from ``oracle.turns``
    (turn i must be docint i: docints rank (conv_id, turn_idx))."""
    post = _read(f"{index_dir}/postings", ["term", "docint", "tf", "positions"])
    tf = post.column("tf").to_numpy()
    check(int(tf.sum()) == oracle.n_tokens,
          f"build: sum(tf)={int(tf.sum())}, tokens={oracle.n_tokens}")
    check(post.num_rows == oracle.n_postings,
          f"build: {post.num_rows} postings rows, expected {oracle.n_postings}")
    plen = pc.list_value_length(post.column("positions")).to_numpy(zero_copy_only=False)
    check(bool(np.array_equal(plen, tf)), "build: len(positions) != tf")
    terms = _read(f"{index_dir}/terms", ["df"])
    sdf = int(terms.column("df").to_numpy().sum())
    check(sdf == oracle.n_postings, f"build: sum(df)={sdf}, expected {oracle.n_postings}")
    docs = _read(f"{index_dir}/docs", ["docint", "conv_id", "turn_idx", "doclen"])
    di = docs.column("docint").to_numpy()
    order = np.argsort(di)
    check(bool(np.array_equal(di[order], np.arange(oracle.n))),
          "build: docints are not unique and dense")
    conv = np.asarray(docs.column("conv_id").to_numpy(zero_copy_only=False))[order]
    tix = docs.column("turn_idx").to_numpy()[order]
    check(bool(np.array_equal(conv, oracle.turns.conv_id))
          and bool(np.array_equal(tix, oracle.turns.turn_idx)),
          "build: docint is not the rank of (conv_id, turn_idx)")
    sdl = int(docs.column("doclen").to_numpy().sum())
    check(sdl == oracle.n_tokens, f"build: sum(doclen)={sdl}, tokens={oracle.n_tokens}")
    for f in parquet_files(f"{index_dir}/postings"):
        t = pq.read_table(f, columns=["term", "docint"])
        term = np.asarray(t.column("term").to_numpy(zero_copy_only=False))
        d = t.column("docint").to_numpy()
        up = (term[1:] > term[:-1]) | ((term[1:] == term[:-1]) & (d[1:] > d[:-1]))
        check(bool(up.all()), f"build: {os.path.basename(f)} not (term, docint)-sorted")
