"""Seeded transcript corpus and query set, generated by the benchmark itself.

Nothing here imports the engine: a change to ``miru_spark`` cannot change
the inputs. The corpus follows the ``(conv_id, turn_idx, role, text, tool,
ts)`` input schema. Text is whitespace-joined lowercase alphanumeric tokens
drawn from a Zipf distribution over a seeded vocabulary, so the engine's
analyzer returns exactly the generated tokens and the benchmark's own token
arrays are the ground truth for every correctness check.
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

VOCAB_SIZE = 30_000
ZIPF_S = 1.05
MIN_TOKENS = 4
MAX_TOKENS = 48  # inclusive
MAX_TURNS = 16  # turns per conversation, uniform 1..MAX_TURNS
ROLES = np.array(["user", "assistant", "tool"])
ROLE_P = [0.4, 0.45, 0.15]
TOOLS = np.array(["bash", "grep", "read", "edit"])
TS0 = np.datetime64("2024-01-01T00:00:00", "s")
CONV_SPACING_S = 600
TURN_SPACING_S = 5
_ALNUM = np.array(list("abcdefghijklmnopqrstuvwxyz0123456789"))


def vocabulary(rng: np.random.Generator, size: int = VOCAB_SIZE) -> np.ndarray:
    """``size`` distinct tokens of 3-8 characters, a letter first; the
    array index is the token's Zipf rank."""
    seen: set[str] = set()
    out: list[str] = []
    while len(out) < size:
        n = size - len(out)
        lens = rng.integers(3, 9, size=n)
        first = rng.integers(0, 26, size=n)
        rest = rng.integers(0, 36, size=(n, 7))
        for i in range(n):
            w = _ALNUM[first[i]] + "".join(_ALNUM[rest[i, : lens[i] - 1]])
            if w not in seen:
                seen.add(w)
                out.append(w)
    return np.array(out, dtype=object)


@dataclass
class Turns:
    """A batch of turns in (conv_id, turn_idx) order, with its tokens in
    CSR form: the tokens of turn ``i`` are ``tok[off[i]:off[i+1]]`` (term
    ids = Zipf ranks)."""

    conv_id: np.ndarray
    turn_idx: np.ndarray
    role: np.ndarray
    tool: np.ndarray
    ts_s: np.ndarray  # epoch seconds
    tok: np.ndarray
    off: np.ndarray

    def __len__(self) -> int:
        return len(self.conv_id)

    def texts(self, vocab: np.ndarray) -> list[str]:
        words = vocab[self.tok]
        o = self.off
        return [" ".join(words[o[i] : o[i + 1]]) for i in range(len(self))]

    def write_parquet(self, path: str, vocab: np.ndarray) -> None:
        ts = (TS0 + self.ts_s.astype("timedelta64[s]")).astype("datetime64[us]")
        table = pa.table(
            {
                "conv_id": pa.array(self.conv_id, pa.string()),
                "turn_idx": pa.array(self.turn_idx, pa.int32()),
                "role": pa.array(self.role, pa.string()),
                "text": pa.array(self.texts(vocab), pa.string()),
                "tool": pa.array(self.tool, pa.string()),
                "ts": pa.array(ts, pa.timestamp("us", tz="UTC")),
            }
        )
        pq.write_table(table, path)


def concat(parts: list[Turns]) -> Turns:
    offs, base = [np.zeros(1, np.int64)], 0
    for p in parts:
        offs.append(p.off[1:] + base)
        base += int(p.off[-1])
    return Turns(
        *(np.concatenate([getattr(p, f) for p in parts]) for f in
          ("conv_id", "turn_idx", "role", "tool", "ts_s", "tok")),
        off=np.concatenate(offs),
    )


def zipf_cdf(size: int = VOCAB_SIZE, s: float = ZIPF_S) -> np.ndarray:
    w = 1.0 / np.arange(1, size + 1, dtype=np.float64) ** s
    return np.cumsum(w) / w.sum()


def make_turns(
    rng: np.random.Generator, n_turns: int, conv0: int, cdf: np.ndarray
) -> tuple[Turns, int]:
    """``n_turns`` turns in conversations numbered from ``conv0``; returns
    the batch and the next free conversation number. Conversation ids are
    zero-padded, so later batches sort after earlier ones and land beyond
    every shard watermark of an incremental store."""
    lens = rng.integers(1, MAX_TURNS + 1, size=n_turns)
    ends = np.cumsum(lens)
    k = int(np.searchsorted(ends, n_turns)) + 1
    lens = lens[:k].copy()
    lens[-1] -= int(ends[k - 1]) - n_turns
    conv = np.repeat(np.arange(conv0, conv0 + k), lens)
    starts = np.repeat(np.cumsum(lens) - lens, lens)
    turn_idx = (np.arange(n_turns) - starts).astype(np.int32)
    ntok = rng.integers(MIN_TOKENS, MAX_TOKENS + 1, size=n_turns)
    off = np.zeros(n_turns + 1, np.int64)
    np.cumsum(ntok, out=off[1:])
    tok = np.searchsorted(cdf, rng.random(int(off[-1])), side="right")
    tok = np.minimum(tok, len(cdf) - 1).astype(np.int32)
    role = ROLES[rng.choice(3, size=n_turns, p=ROLE_P)]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), n_turns)], None)
    ts_s = conv.astype(np.int64) * CONV_SPACING_S + turn_idx * TURN_SPACING_S
    conv_id = np.array([f"c{c:08d}" for c in conv], dtype=object)
    return Turns(conv_id, turn_idx, role.astype(object), tool.astype(object),
                 ts_s, tok, off), conv0 + k


def ts_literal(ts_s: int) -> str:
    return str(TS0 + np.timedelta64(int(ts_s), "s"))


# -- queries -------------------------------------------------------------
#
# A query is a small AST of tuples, rendered to the engine's query syntax by
# ``render`` and evaluated independently by ``oracle.Oracle``:
#   ("term", id) ("prefix", str) ("wild", pattern) ("meta", field, value)
#   ("phrase", (id, id)) ("ts", lo_s, hi_s) ("and", [...]) ("or", [...])
#   ("not", node)

SHAPES = (
    "term_head", "term_tail", "and2", "and4_k100", "or2", "and_not", "prefix",
    "wildcard", "meta_and", "phrase", "nested", "not_only", "time_range",
)
HEAD = (0, 12)  # Zipf ranks [lo, hi)
TORSO = (60, 600)
TAIL_DF = (2, 12)  # tail terms: document frequency in this band
K_DEFAULT = 10


def render(node, vocab: np.ndarray) -> str:
    kind = node[0]
    if kind == "term":
        return vocab[node[1]]
    if kind == "prefix":
        return node[1] + "*"
    if kind == "wild":
        return node[1]
    if kind == "meta":
        return f"{node[1]}:{node[2]}"
    if kind == "phrase":
        return '"' + " ".join(vocab[t] for t in node[1]) + '"'
    if kind == "ts":
        return f"ts:[{ts_literal(node[1])} TO {ts_literal(node[2])}]"
    if kind == "not":
        inner = render(node[1], vocab)
        return f"NOT ({inner})" if node[1][0] in ("and", "or") else f"NOT {inner}"
    sep = " AND " if kind == "and" else " OR "
    return sep.join(
        f"({render(c, vocab)})" if c[0] in ("and", "or") else render(c, vocab)
        for c in node[1]
    )


def make_queries(
    rng: np.random.Generator, vocab: np.ndarray, turns: Turns, df: np.ndarray,
    rounds: int,
) -> list[list[tuple[str, object, int]]]:
    """``rounds`` rounds; each holds one ``(shape, ast, k)`` per shape, with
    fresh terms drawn from each shape's selectivity band."""
    tail = np.flatnonzero((df >= TAIL_DF[0]) & (df <= TAIL_DF[1]))
    # adjacent pairs of distinct head tokens inside one turn, for phrases
    tok = turns.tok
    same_turn = np.ones(len(tok) - 1, bool)
    same_turn[turns.off[1:-1] - 1] = False
    pair_ok = same_turn & (tok[:-1] < HEAD[1]) & (tok[1:] < HEAD[1]) & (
        tok[:-1] != tok[1:])
    pair_at = np.flatnonzero(pair_ok)
    t_lo, t_hi = int(turns.ts_s.min()), int(turns.ts_s.max())

    def head(n=1):
        return [int(x) for x in rng.choice(np.arange(*HEAD), n, replace=False)]

    def torso(n=1):
        return [int(x) for x in rng.choice(np.arange(*TORSO), n, replace=False)]

    def tail1():
        return int(rng.choice(tail))

    out = []
    for _ in range(rounds):
        h, m = head(4), torso(3)
        w = vocab[torso()[0]]
        p = int(rng.choice(pair_at))
        span = t_hi - t_lo
        lo = t_lo + int(rng.integers(0, span // 2))
        rnd = {
            "term_head": ("term", h[0]),
            "term_tail": ("term", tail1()),
            "and2": ("and", [("term", m[0]), ("term", m[1])]),
            "and4_k100": ("and", [("term", t) for t in h]),
            "or2": ("or", [("term", m[0]), ("term", tail1())]),
            "and_not": ("and", [("term", h[0]), ("not", ("term", h[1]))]),
            "prefix": ("prefix", w[:2]),
            "wildcard": ("wild", w[0] + "?" + w[2:3] + "*"),
            "meta_and": ("and", [("term", m[2]), ("meta", "role", "assistant")]),
            "phrase": ("phrase", (int(tok[p]), int(tok[p + 1]))),
            "nested": ("and", [("or", [("term", m[0]), ("term", m[1])]),
                               ("or", [("term", h[2]), ("term", tail1())])]),
            "not_only": ("not", ("term", h[3])),
            "time_range": ("and", [("term", m[1]), ("ts", lo, lo + span // 3)]),
        }
        out.append([(s, rnd[s], 100 if s == "and4_k100" else K_DEFAULT)
                    for s in SHAPES])
    return out
