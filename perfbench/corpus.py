"""Seeded inputs for the benchmark: a transcript corpus and query streams.

Everything is vectorized numpy/pyarrow (no per-row Python), so generating
tens of thousands of turns takes well under a second. The corpus is
written once per (seed, size, generator version) as one parquet file under
the benchmark's cache directory and reused by later runs.

Vocabulary: distinct consonant-vowel words (``"kamo"``, ``"tiraze"``),
none of which is a Lucene stopword, drawn with a Zipf(1.07) law so head
terms have long posting lists and tail terms short ones.
"""

from __future__ import annotations

import os

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

# Bump when the generated bytes change, so cached corpora are not reused.
GENERATOR_VERSION = 1

VOCAB_SIZE = 6000
ZIPF_S = 1.07
ROLES = np.array(["user", "assistant", "system", "tool"])
TOOLS = np.array(["search", "calculator", "browser", "python", "sql"])

_CONS = list("bdfgklmnprtvz")
_VOWELS = list("aeiou")
_SYL = np.array([c + v for c in _CONS for v in _VOWELS])  # 65 syllables


def vocabulary(size: int = VOCAB_SIZE) -> np.ndarray:
    """``size`` distinct 2- and 3-syllable words, in rank order."""
    n = len(_SYL)
    i = np.arange(size)
    two = np.char.add(_SYL[i % n], _SYL[(i // n) % n])
    third = np.where(i >= n * n, _SYL[(i // (n * n)) % n], "")
    return np.char.add(two, third)


def _zipf_cdf(n: int) -> np.ndarray:
    w = 1.0 / np.power(np.arange(1, n + 1, dtype=np.float64), ZIPF_S)
    return np.cumsum(w) / w.sum()


def zipf_words(rng: np.random.Generator, n: int) -> np.ndarray:
    """``n`` vocabulary indices drawn from the Zipf law."""
    idx = np.searchsorted(_zipf_cdf(VOCAB_SIZE), rng.random(n))
    return np.minimum(idx, VOCAB_SIZE - 1)


def make_corpus(seed: int, n_turns: int) -> pa.Table:
    """About ``n_turns`` transcript turns (3-13 per conversation, 5-40
    words each) with the engine's transcript schema."""
    rng = np.random.default_rng([seed, n_turns, GENERATOR_VERSION])
    vocab = vocabulary()
    per_conv = rng.integers(3, 14, size=n_turns // 3 + 1)
    conv = np.repeat(np.arange(len(per_conv)), per_conv)[:n_turns]
    starts = np.flatnonzero(np.r_[True, conv[1:] != conv[:-1]])
    lens = np.diff(np.r_[starts, n_turns])
    turn_idx = np.arange(n_turns) - np.repeat(starts, lens)

    n_words = rng.integers(5, 41, size=n_turns)
    words = pa.array(vocab[zipf_words(rng, int(n_words.sum()))])
    offsets = pa.array(np.r_[0, np.cumsum(n_words)].astype(np.int32))
    text = pc.binary_join(pa.ListArray.from_arrays(offsets, words), " ")

    conv_id = pc.binary_join_element_wise(
        "conv-", pc.utf8_lpad(pa.array(conv.astype(str)), 8, "0"), ""
    )
    # first two turns alternate user/assistant, later ones are random
    role_ix = np.where(turn_idx < 2, turn_idx, rng.integers(0, 4, n_turns))
    role = ROLES[role_ix]
    tool = np.where(role == "tool", TOOLS[rng.integers(0, 5, n_turns)], "")
    ts = (
        np.datetime64("2025-01-01T00:00:00", "us")
        + conv * np.timedelta64(3600, "s")
        + turn_idx * np.timedelta64(60, "s")
    )
    return pa.table(
        {
            "conv_id": conv_id,
            "turn_idx": pa.array(turn_idx.astype(np.int32)),
            "role": pa.array(role),
            "text": text,
            "tool": pa.array(tool),
            "ts": pa.array(ts),
        }
    )


def corpus_path(cache_dir: str, seed: int, n_turns: int) -> str:
    """Path of the cached parquet corpus, generating it on first use."""
    path = os.path.join(
        cache_dir, "corpus", f"v{GENERATOR_VERSION}-s{seed}-n{n_turns}.parquet"
    )
    if not os.path.exists(path):
        os.makedirs(os.path.dirname(path), exist_ok=True)
        tmp = f"{path}.{os.getpid()}.tmp"
        pq.write_table(make_corpus(seed, n_turns), tmp)
        os.replace(tmp, path)
    return path


def flat_queries(seed: int, n: int) -> list[str]:
    """``n`` bag-of-words queries of 2-4 Zipf-drawn terms."""
    rng = np.random.default_rng([seed, 1, GENERATOR_VERSION])
    vocab = vocabulary()
    sizes = rng.integers(2, 5, size=n)
    words = vocab[zipf_words(rng, int(sizes.sum()))]
    ends = np.cumsum(sizes)
    return [" ".join(words[e - s:e]) for s, e in zip(sizes, ends)]


# Structured query shapes the fast path declines by their shape, one per
# operator family: (template, model name, doc_filter); {0} and {1} are
# distinct terms.
STRUCTURED_SHAPES = (
    ("#AND({0} #NOT({1}))", "RankedBoolean", None),
    ("#NEAR/3({0} {1})", "UnrankedBoolean", None),
    ("#WAND(0.7 {0} 0.3 {1})", "Indri", None),
    ("#SUM({0} {1})", "BM25", "role = 'user'"),
)
# Structured terms come uniformly from this band of frequency ranks: a
# run holds only a few structured queries, and drawing them from the
# Zipf head would make a run's latency depend on whether it happened to
# draw the few longest posting lists.
STRUCTURED_RANKS = (20, 100)


def structured_queries(seed: int, n: int) -> list[tuple[str, str, str | None]]:
    """``n`` (query, model name, doc_filter) triples cycling through
    STRUCTURED_SHAPES."""
    rng = np.random.default_rng([seed, 2, GENERATOR_VERSION])
    vocab = vocabulary()
    lo, hi = STRUCTURED_RANKS
    out = []
    for i in range(n):
        shape, model, doc_filter = STRUCTURED_SHAPES[i % len(STRUCTURED_SHAPES)]
        terms = vocab[lo + rng.choice(hi - lo, size=2, replace=False)]
        out.append((shape.format(*terms), model, doc_filter))
    return out
