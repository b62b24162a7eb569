"""Seeded transcript, query and append-batch generator owned by the benchmark.

Everything a run feeds the engine comes from here and from ``--seed``
alone: the engine sees only the generated rows and query strings.

The corpus has the engine's input schema
``(conv_id, turn_idx, role, text, tool, ts)`` and an *open* vocabulary:
token ranks are Zipf distributed over a dictionary whose size grows with the
corpus (Heaps' law, ``V = K * T**BETA`` for ``T`` tokens), so larger corpora
have more distinct terms and longer head postings, as real text does. Words
are bijective base-90 syllable strings of their rank, so frequent words are
short and every rank maps to a distinct word.

The append batch continues the conversation numbering after the base
corpus, so ``(conv_id, turn_idx)`` order equals arrival order and the
batch's docIDs follow the base's. Every batch turn carries ``MARKER``, which
never occurs in the base vocabulary (no syllable uses ``x``).
"""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np
import pandas as pd

CONSONANTS = "bcdfghjklmnprstvwz"
VOWELS = "aeiou"
SYLLABLES = [c + v for c in CONSONANTS for v in VOWELS]

# Vocabulary model, from Manning, Raghavan and Schuetze, "Introduction to
# Information Retrieval" (Cambridge University Press, 2008):
# - Zipf's law, collection frequency of the i-th term ~ 1/i (section 5.1.2);
# - Heaps' law fitted to Reuters-RCV1, K = 44 and BETA = 0.49 (section 5.1.1,
#   which gives 30 <= K <= 100 and BETA ~ 0.5 as typical).
ZIPF_S = 1.0
HEAPS_K = 44.0
HEAPS_BETA = 0.49
# Turn and conversation shape: assumptions, not fitted to any transcript
# corpus (there is none in the repository to fit them to). Turn lengths are
# lognormal with median ~18 and mean ~25 words, clipped to 1..200; a share
# of turns is empty (dl = 0); some words end a clause; conversations have
# 1..8 turns, uniformly.
MEAN_TURN_WORDS = 25
TURN_WORDS_SIGMA = 0.8
EMPTY_TURN_SHARE = 0.02
COMMA_SHARE = 0.04
PERIOD_SHARE = 0.02
MAX_CONV_TURNS = 8
TOOLS = ("search", "shell", "browser", "python")
ROLES = ("user", "assistant", "tool")
TOP_TERMS = 100  # "head" = the 100 highest-df terms of the corpus
MARKER = "xqba"


def word(rank: int) -> str:
    """Bijective base-90 syllable spelling of ``rank`` (0 -> 'ba')."""
    out = []
    r = int(rank)
    while True:
        out.append(SYLLABLES[r % len(SYLLABLES)])
        r = r // len(SYLLABLES) - 1
        if r < 0:
            return "".join(reversed(out))


def dictionary_size(n_tokens: int) -> int:
    return max(200, int(HEAPS_K * max(n_tokens, 1) ** HEAPS_BETA))


@dataclass
class Corpus:
    """A generated corpus and the per-token ranks it was spelled from."""

    pdf: pd.DataFrame
    ranks: np.ndarray  # word rank of every token, concatenated over turns
    lengths: np.ndarray  # tokens per turn (0 for an empty turn)

    def __post_init__(self):
        self.starts = np.concatenate([[0], np.cumsum(self.lengths)[:-1]])

    def turn_ranks(self, i: int) -> np.ndarray:
        start = int(self.starts[i])
        return self.ranks[start:start + int(self.lengths[i])]


def _turns(rng: np.random.Generator, n_turns: int, first_conv: int,
           vocab_size: int, cdf: np.ndarray, extra_word: str | None):
    """``n_turns`` turns in whole conversations starting at ``first_conv``."""
    conv_len = rng.integers(1, MAX_CONV_TURNS + 1, size=n_turns)
    conv_len = conv_len[: int(np.searchsorted(np.cumsum(conv_len), n_turns)) + 1]
    conv_len[-1] -= int(conv_len.sum()) - n_turns
    conv_of = np.repeat(np.arange(conv_len.size), conv_len)
    turn_idx = np.concatenate([np.arange(c) for c in conv_len]).astype(np.int32)

    lengths = np.clip(
        rng.lognormal(np.log(MEAN_TURN_WORDS) - TURN_WORDS_SIGMA ** 2 / 2,
                      TURN_WORDS_SIGMA, size=n_turns),
        1, 200).astype(np.int64)
    lengths[rng.random(n_turns) < EMPTY_TURN_SHARE] = 0
    ranks = np.minimum(np.searchsorted(cdf, rng.random(int(lengths.sum()))),
                       vocab_size - 1).astype(np.int64)
    punct = rng.random(ranks.size)

    words = {int(r): word(r) for r in np.unique(ranks)}
    spelled = np.array([words[int(r)] for r in ranks], dtype=object)
    # the analyzer splits on ", " and ". "
    comma = punct < COMMA_SHARE
    period = (punct >= COMMA_SHARE) & (punct < COMMA_SHARE + PERIOD_SHARE)
    spelled[comma] += ","
    spelled[period] += "."
    texts = []
    pos = 0
    for n in lengths:
        ws = spelled[pos:pos + n]
        pos += n
        t = " ".join(ws)
        if extra_word is not None:
            t = f"{t} {extra_word}" if t else extra_word
        texts.append(t[:1].upper() + t[1:])
    if extra_word is not None:
        lengths = lengths + 1

    conv_i = first_conv + conv_of
    ts = (np.datetime64("2026-01-01T00:00:00")
          + (conv_i * 60 + turn_idx.astype(np.int64) * 7).astype("timedelta64[s]"))
    role = np.array(ROLES, dtype=object)[turn_idx % 3]
    tool = np.where(role == "tool",
                    np.array(TOOLS, dtype=object)[rng.integers(0, len(TOOLS), n_turns)],
                    None)
    pdf = pd.DataFrame({
        "conv_id": [f"conv{c:08d}" for c in conv_i],
        "turn_idx": turn_idx,
        "role": role,
        "text": texts,
        "tool": tool,
        "ts": ts,
    })
    return Corpus(pdf, ranks, lengths), int(first_conv + conv_len.size)


@dataclass
class Inputs:
    """Base corpus, append batch and the vocabulary model they share."""

    seed: int
    base: Corpus
    batch: pd.DataFrame  # every turn carries MARKER
    vocab_size: int
    df_rank: np.ndarray  # word ranks by descending document frequency
    df: np.ndarray  # document frequency aligned with df_rank

    @property
    def top_words(self) -> set:
        return {word(r) for r in self.df_rank[:TOP_TERMS]}


def generate(seed: int, n_turns: int, batch_turns: int) -> Inputs:
    """The run's inputs; byte-identical for equal arguments."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, n_turns]))
    vocab_size = dictionary_size(n_turns * MEAN_TURN_WORDS)
    w = (np.arange(vocab_size) + 1.0) ** -ZIPF_S
    cdf = np.cumsum(w) / w.sum()
    base, next_conv = _turns(rng, n_turns, 0, vocab_size, cdf, None)
    batch, _ = _turns(rng, batch_turns, next_conv, vocab_size, cdf, MARKER)
    # document frequency of each word in the base corpus
    n = base.lengths.size
    doc_of = np.repeat(np.arange(n), base.lengths)
    terms, df = np.unique(np.unique(base.ranks * np.int64(n) + doc_of) // n,
                          return_counts=True)
    order = np.lexsort((terms, -df))
    return Inputs(seed, base, batch.pdf, vocab_size, terms[order], df[order])


# ---- query streams --------------------------------------------------------

# shape of the i-th short query: a fixed cycle, so every seed runs the same
# mix and only the words change. Queries that touch a mid word cost more
# than tail-only and prefix ones (tail postings sit in few segments); a
# random mix would move the median between the two groups from run to run.
# The mix itself is an assumption (there is no query log to take it from).
SHORT_CYCLE = ("term_mid", "pair", "phrase", "term_tail", "prefix", "pair",
               "term_mid", "phrase")


def short_queries(inp: Inputs, n: int, seed: int) -> list[str]:
    """1-2 term, phrase and prefix queries over mid/tail terms.

    Mid = df ranks 100..999, tail = df rank >= 1000 with df >= 2. Phrases
    are adjacent pairs of non-head words copied from a corpus turn, so they
    match; prefixes drop the last letter of a mid/tail word of at
    least three syllables (where the corpus has them), so their expansion is
    small.
    """
    rng = np.random.default_rng(np.random.SeedSequence([seed, 1]))
    ranks = inp.df_rank
    mid = ranks[TOP_TERMS:1000]
    tail = ranks[1000:][inp.df[1000:] >= 2]
    if tail.size == 0:
        tail = mid
    pool = np.concatenate([mid, tail])
    long_words = np.array([r for r in pool if len(word(r)) >= 6]) \
        if len(word(pool.max())) >= 6 else pool  # tiny corpora: no 3 syllables
    headset = set(int(r) for r in ranks[:TOP_TERMS])
    lengths = inp.base.lengths

    def pick(pool):
        return word(pool[rng.integers(pool.size)])

    def phrase():
        while True:
            tr = inp.base.turn_ranks(int(rng.integers(lengths.size)))
            if tr.size < 2:
                continue
            j = int(rng.integers(tr.size - 1))
            a, b = int(tr[j]), int(tr[j + 1])
            if a not in headset and b not in headset:
                return f'"{word(a)} {word(b)}"'

    make = {
        "term_mid": lambda: pick(mid),
        "term_tail": lambda: pick(tail),
        "pair": lambda: f"{pick(mid)} {pick(tail)}",
        "phrase": phrase,
        "prefix": lambda: word(long_words[rng.integers(long_words.size)])[:-1]
        + "*",
    }
    return [make[SHORT_CYCLE[i % len(SHORT_CYCLE)]]() for i in range(n)]


def mid_term(inp: Inputs, seed: int) -> str:
    """One word of df rank 100..999 (the reopen probe)."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 3]))
    mid = inp.df_rank[TOP_TERMS:1000]
    return word(mid[rng.integers(mid.size)])


def long_queries(inp: Inputs, n: int, seed: int) -> list[str]:
    """The first 8-16 distinct words of a random corpus turn (query by
    example), so head terms dominate as they do in the text. Lengths cycle
    8, 9, ..., 16 so every seed runs the same length mix."""
    rng = np.random.default_rng(np.random.SeedSequence([seed, 2]))
    lengths = inp.base.lengths
    out = []
    while len(out) < n:
        want = 8 + len(out) % 9
        tr = inp.base.turn_ranks(int(rng.integers(lengths.size)))
        uniq = list(dict.fromkeys(int(r) for r in tr))
        if len(uniq) >= want:
            out.append(" ".join(word(r) for r in uniq[:want]))
    return out


def query_terms(q: str) -> list[str]:
    return [t for t in q.replace('"', " ").replace("*", " ").split() if t]


def properties(inp: Inputs, queries: list[str]) -> dict:
    """Input properties the workloads depend on (recorded with each result)."""
    df = inp.df
    top = inp.top_words
    return {
        "base_turns": int(len(inp.base.pdf)),
        "base_tokens": int(inp.base.lengths.sum()),
        "dictionary_size": int(df.size),
        "dictionary_cap": int(inp.vocab_size),
        "postings_len_quantiles": {
            q: int(np.quantile(df, float(q))) for q in
            ("0.5", "0.9", "0.99", "0.999", "1.0")},
        "mean_query_terms": round(float(np.mean(
            [len(query_terms(q)) for q in queries])), 3) if queries else 0.0,
        "share_queries_with_top100_term": round(float(np.mean(
            [any(t in top for t in query_terms(q)) for q in queries])), 3)
        if queries else 0.0,
    }
