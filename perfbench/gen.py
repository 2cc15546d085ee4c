"""Seeded input generator for the benchmark.

Everything the benchmark feeds the engine is made here, from the workload
seed alone, with numpy: the transcript corpus (the columns of the
engine's transcripts schema), the query pool, the Zipf-repeating query
stream, the fixed query batches and the upserted rows. It imports nothing
from ``antidb_spark``, so a change to the program cannot change its inputs.

The corpus keeps the generated token ids (``Corpus.tok``/``Corpus.doc``),
from which ``oracle.py`` scores BM25 independently of the engine's own
tokenizer and tables.
"""

from __future__ import annotations

import datetime as dt
from dataclasses import dataclass

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

STOPWORDS = (
    "the a of to and in is it for on with as at by an be this that from or "
    "are was not have has had but all can will"
).split()
VOCAB_SIZE = 5000
ZIPF_S = 1.07
MEAN_TURNS = 8
MEAN_TOKENS = 40
ROLES = np.array(["user", "assistant", "assistant", "user", "tool"])
TOOLS = np.array(["search", "python", "browser", "calculator"])
EPOCH = dt.datetime(2025, 1, 1)
N_FILES = 4  # parquet input files per corpus

_ONSETS = "bdfgklmnprstvz"
_NUCLEI = ("a", "e", "i", "o", "u", "ai", "ou")


def vocabulary() -> np.ndarray:
    """32 stopwords (Zipf ranks 1..32) + pseudo-words, all distinct and
    made of [a-z0-9] only, so every word is exactly one engine token."""
    words = list(STOPWORDS)
    seen = set(words)
    i = 0
    while len(words) < VOCAB_SIZE:
        n, syl = i, []
        for _ in range(3):
            syl.append(_ONSETS[n % len(_ONSETS)] + _NUCLEI[n // len(_ONSETS) % len(_NUCLEI)])
            n //= len(_ONSETS) * len(_NUCLEI)
        w = "".join(syl) + "x" + str(i % 10)
        i += 1
        if w not in seen:
            seen.add(w)
            words.append(w)
    return np.array(words, dtype=object)


def zipf_probs(n: int, s: float) -> np.ndarray:
    p = 1.0 / np.arange(1, n + 1, dtype=np.float64) ** s
    return p / p.sum()


@dataclass
class Corpus:
    """One transcript corpus: rows in (conv_id, turn_idx) order plus the
    token ids each row's text was made from."""

    frame: pd.DataFrame  # conv_id, turn_idx, role, text, tool, ts
    tok: np.ndarray      # int32 vocabulary id of every token, row-major
    doc: np.ndarray      # int64 row index of every token
    vocab: np.ndarray

    @property
    def n_turns(self) -> int:
        return len(self.frame)

    @property
    def text_bytes(self) -> int:
        return int(self.frame["text"].str.len().sum())  # text is ASCII

    def write_parquet(self, path: str) -> None:
        """Input files for the engine, split into N_FILES row ranges."""
        import os

        os.makedirs(path, exist_ok=True)
        schema = pa.schema(
            [
                pa.field("conv_id", pa.string(), False),
                pa.field("turn_idx", pa.int32(), False),
                pa.field("role", pa.string(), False),
                pa.field("text", pa.string(), False),
                pa.field("tool", pa.string(), True),
                pa.field("ts", pa.timestamp("us", tz="UTC"), False),
            ]
        )
        table = pa.Table.from_pandas(self.frame, schema=schema, preserve_index=False)
        step = -(-len(self.frame) // N_FILES)
        for i in range(N_FILES):
            pq.write_table(
                table.slice(i * step, step), os.path.join(path, f"part-{i:03d}.parquet")
            )


def _texts(vocab: np.ndarray, tok: np.ndarray, n_tok: np.ndarray) -> list[str]:
    words = vocab[tok]
    ends = np.cumsum(n_tok)
    return [" ".join(words[e - n : e]) for e, n in zip(ends.tolist(), n_tok.tolist())]


def make_corpus(seed: int, n_convs: int) -> Corpus:
    """``n_convs`` conversations of 2..2*MEAN_TURNS-1 turns, each turn
    ~N(MEAN_TOKENS, MEAN_TOKENS/3) Zipf-drawn tokens."""
    vocab = vocabulary()
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    turns = rng.integers(2, 2 * MEAN_TURNS, size=n_convs)
    n_rows = int(turns.sum())
    conv_num = np.repeat(np.arange(n_convs), turns)
    turn_idx = np.arange(n_rows) - np.repeat(np.cumsum(turns) - turns, turns)
    n_tok = np.maximum(1, rng.normal(MEAN_TOKENS, MEAN_TOKENS / 3, n_rows).astype(np.int64))
    tok = rng.choice(VOCAB_SIZE, size=int(n_tok.sum()), p=zipf_probs(VOCAB_SIZE, ZIPF_S))
    tok = tok.astype(np.int32)
    role = ROLES[rng.integers(0, len(ROLES), n_rows)]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, len(TOOLS), n_rows)], None)
    frame = pd.DataFrame(
        {
            "conv_id": [f"conv_{c:08d}" for c in conv_num.tolist()],
            "turn_idx": turn_idx.astype(np.int32),
            "role": role,
            "text": _texts(vocab, tok, n_tok),
            "tool": tool,
            "ts": pd.to_datetime(EPOCH)
            + pd.to_timedelta((conv_num % 8760) * 3600 + 30 * turn_idx, unit="s"),
        }
    )
    frame["ts"] = frame["ts"].dt.tz_localize("UTC")
    return Corpus(frame, tok, np.repeat(np.arange(n_rows), n_tok), vocab)


# Query shapes by term class: S = stopword (Zipf ranks 1-32), M = mid
# frequency (ranks 33-500), R = rare (ranks 501+). 23 terms: 17% S, 48% M,
# 35% R. Every 10 consecutive pool queries, and every 10 consecutive stream
# positions, hold each shape once, so the mix of cheap and costly queries
# is the same for every seed.
SHAPES = ("M", "R", "S M", "M R", "M M R", "S R", "M R R", "S M R", "M M", "S M M R")
_CLASS_RANKS = {"S": (0, 32), "M": (32, 500), "R": (500, VOCAB_SIZE)}
_SLOT_STRIDE = 6  # stratum offset between a query's terms of one class


def _strata(lo: int, hi: int, n: int) -> np.ndarray:
    """``n + 1`` bounds that split ranks [lo, hi) into ``n`` log-spaced
    strata of at least one rank each."""
    b = np.floor(np.geomspace(lo + 1, hi + 1, n + 1) - 1).astype(np.int64)
    b[0] = lo
    for j in range(1, n + 1):
        b[j] = max(b[j], b[j - 1] + 1)
    assert b[-1] == hi
    return b


def query_pool(seed: int, vocab: np.ndarray, n: int) -> list[str]:
    """``n`` queries (a multiple of ``len(SHAPES)``); query i has shape
    ``SHAPES[i % len(SHAPES)]``. Each of a shape's ``m`` queries draws
    its terms from fixed frequency strata of their class (the class's
    ranks in ``m`` log-spaced strata; a query's k-th term of a class
    takes stratum ``(i // len(SHAPES) + k * _SLOT_STRIDE) % m``), so its
    terms are distinct and every seed's pool has the same spread of term
    frequencies. The seed picks the word within each stratum."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
    per = n // len(SHAPES)
    strata = {c: _strata(lo, hi, per) for c, (lo, hi) in _CLASS_RANKS.items()}
    out = []
    for i in range(n):
        terms: list[str] = []
        for k, cls in enumerate(SHAPES[i % len(SHAPES)].split()):
            b = strata[cls]
            s = (i // len(SHAPES) + k * _SLOT_STRIDE) % per
            terms.append(vocab[int(rng.integers(b[s], b[s + 1]))])
        out.append(" ".join(terms))
    return out


def query_stream(seed: int, pool_size: int, n: int) -> np.ndarray:
    """Pool indices of a Zipf-repeating stream: position j asks a query
    of shape ``j % len(SHAPES)``, chosen among that shape's pool queries
    by a Zipf(1.0) popularity. The popularity ranks are a fixed
    permutation, the same for every seed, so the most asked queries come
    from the same frequency strata whatever the seed."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 3]))
    fixed = np.random.default_rng(0)
    n_shapes = len(SHAPES)
    per = pool_size // n_shapes
    ranks = np.stack([fixed.permutation(per) for _ in range(n_shapes)])
    pick = rng.choice(per, size=n, p=zipf_probs(per, 1.0))
    shape = np.arange(n) % n_shapes
    return ranks[shape, pick] * n_shapes + shape


def batches(seed: int, pool_size: int, n_batches: int, size: int) -> list[np.ndarray]:
    """Fixed query batches: pool indices drawn uniformly, distinct within
    a batch."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 4]))
    return [rng.choice(pool_size, size=size, replace=False) for _ in range(n_batches)]


def marker(seed: int) -> str:
    """Token tagging the upserted text (not in the vocabulary: vocabulary
    words end in ``x`` + a digit)."""
    return f"mark{abs(seed)}"


def upsert_rows(seed: int, corpus: Corpus, turns: int) -> pd.DataFrame:
    """Every turn of whole conversations adding up to exactly ``turns``
    turns, with new text tagged by the seed's marker token. A fixed turn
    count keeps the work of the upsert the same from seed to seed."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 5]))
    sizes = corpus.frame.groupby("conv_id", sort=True).size()
    picked, left = [], turns
    for c in rng.permutation(len(sizes)).tolist():
        n = int(sizes.iloc[c])
        if n <= left and left - n != 1:  # conversations have >= 2 turns
            picked.append(sizes.index[c])
            left -= n
            if not left:
                break
    rows = corpus.frame[corpus.frame["conv_id"].isin(picked)].copy()
    n_tok = np.maximum(1, rng.normal(MEAN_TOKENS, MEAN_TOKENS / 3, len(rows)).astype(np.int64))
    tok = rng.choice(VOCAB_SIZE, size=int(n_tok.sum()), p=zipf_probs(VOCAB_SIZE, ZIPF_S))
    mk = marker(seed)
    rows["text"] = [f"{t} {mk}" for t in _texts(corpus.vocab, tok, n_tok)]
    return rows.reset_index(drop=True)
