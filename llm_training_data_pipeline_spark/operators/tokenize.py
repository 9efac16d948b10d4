"""Tokenization operators (SURVEY.md §2.5, T1-T6).

Reference semantics: /root/reference/src/processing/tokenizer.py — train a
subword tokenizer (BPE default) over the corpus, then encode every document
to ARRAY<INT>. The reference wraps HuggingFace ``tokenizers`` (not available
in this container), so the trainers here are from-scratch pure Python —
same algorithm families, deterministic, save/load-able. Two BPE variants:

- ``bpe``: whitespace pre-tokenization + ``</w>`` end-of-word marker (the
  classic formulation; token streams are NOT HF-comparable).
- ``byte_bpe``: GPT-2-style ByteLevel pre-tokenization — the pre-tokenizer
  the reference's BPE actually configures (tokenizer.py:77-90). Exact
  byte-level round-trip, whitespace preserved, no <unk> possible.

Scale design (the part that matters at 100 TB):
- Training input is NOT the corpus — it is the **word-frequency table**,
  computed in Spark (split → explode → groupBy → sum). 100 TB of text
  collapses to a few million (word, count) rows; merge learning happens on
  the driver over that dict, exactly how BPE trainers work internally.
  This mirrors the reference's one deliberate global step
  (tokenizer.py:135-155) but distributes the expensive pass.
- The BPE merge learner (``_learn_merges``, shared by ``bpe`` and
  ``byte_bpe``) is incremental: pair counts are built once, and each
  merge rewrites only the words holding the chosen pair, found through a
  pair → word-index table, with the next pair taken from a lazy max-heap.
  A merge costs time proportional to the words it touches, not to the
  table; the index costs memory proportional to the total symbols
  collected (a few word indices per symbol). WordPiece scoring keeps a
  full rescan per merge (see its trainer).
- Encoding is embarrassingly parallel: the trained tokenizer is broadcast
  and applied with an Arrow-batched pandas UDF (tokenizer.py:179-202's
  ``encode_batch`` ≙ one UDF batch), with an LRU word cache per executor.
"""

from __future__ import annotations

import heapq
import json
from dataclasses import dataclass, field

import pandas as pd
from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType

from llm_training_data_pipeline_spark.functions.text import whitespace_tokens

SPECIAL_TOKENS = ["<pad>", "<unk>", "<bos>", "<eos>"]  # tokenizer.py:68
END_OF_WORD = "</w>"

# GPT-2-style byte-level pre-tokenizer split (the reference's BPE uses HF
# ByteLevel, tokenizer.py:77-90; this is the public GPT-2 pattern). Java
# regex (Spark side) supports \p{L}/\p{N} and the lookahead directly.
GPT2_PRETOKEN_REGEX = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+|\s+(?!\S)|\s+"
)
# Python-re approximation for off-Spark use: [^\W\d_] ≈ \p{L}, \d ≈ \p{Nd}
# (drops Nl/No — rare numerals pre-tokenize slightly differently off-Spark).
import re as _re  # noqa: E402

_PY_PRETOKEN_RE = _re.compile(
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[^\W\d_]+| ?\d+| ?(?:[^\s\w]|_)+|\s+(?!\S)|\s+"
)


def bytes_to_unicode() -> dict[int, str]:
    """GPT-2's byte↔printable-unicode bijection: printable latin bytes map
    to themselves, everything else to U+0100.. in order. Every byte is
    representable, so byte-level BPE never needs <unk>."""
    bs = list(range(33, 127)) + list(range(161, 173)) + list(range(174, 256))
    cs = list(bs)
    n = 0
    for b in range(256):
        if b not in bs:
            bs.append(b)
            cs.append(256 + n)
            n += 1
    return {b: chr(c) for b, c in zip(bs, cs)}


_BYTE_TO_CHAR = bytes_to_unicode()
_CHAR_TO_BYTE = {c: b for b, c in _BYTE_TO_CHAR.items()}


def _byte_symbols(pretoken: str) -> list[str]:
    return [_BYTE_TO_CHAR[b] for b in pretoken.encode("utf-8")]


def _apply_merges(symbols: list[str], ranks: dict[tuple[str, str], int]) -> list[str]:
    """Greedy lowest-rank-first merge application (shared by all BPE
    variants)."""
    while len(symbols) > 1:
        best, best_rank = None, None
        for i in range(len(symbols) - 1):
            r = ranks.get((symbols[i], symbols[i + 1]))
            if r is not None and (best_rank is None or r < best_rank):
                best, best_rank = i, r
        if best is None:
            break
        symbols[best : best + 2] = [symbols[best] + symbols[best + 1]]
    return symbols


def _merge_word(word: tuple[str, ...], a: str, b: str) -> tuple[str, ...]:
    """Apply the merge ``(a, b)`` to one symbol sequence: left to right,
    non-overlapping (``a a a`` under ``(a, a)`` becomes ``aa a``). The one
    rewrite rule of every merge trainer."""
    out: list[str] = []
    i, n = 0, len(word)
    while i < n:
        if i < n - 1 and word[i] == a and word[i + 1] == b:
            out.append(a + b)
            i += 2
        else:
            out.append(word[i])
            i += 1
    return tuple(out)


def _learn_merges(
    words: dict[tuple[str, ...], int],
    vocab: dict[str, int],
    vocab_size: int,
    min_frequency: int,
) -> list[tuple[str, str]]:
    """Classic BPE merge learning over a symbol-sequence frequency dict.
    Mutates ``vocab``; ties in pair frequency break lexicographically.

    Incremental: pair counts are built once, and each merge rewrites only
    the words that hold the chosen pair (found through a pair → word-index
    table), subtracting each rewritten word's old adjacent pairs and adding
    its new ones. The next pair comes from a lazy max-heap keyed
    ``(-count, pair)``; an entry whose count no longer matches the table is
    stale and skipped. So a merge costs time proportional to the words it
    touches, not to the whole table, and the index holds O(total symbols)
    word indices. Stops at ``vocab_size``, when no pair with a positive
    count is left, or when the best count is below ``min_frequency``.
    """
    seqs = list(words)
    counts = list(words.values())
    pair_counts: dict[tuple[str, str], int] = {}
    where: dict[tuple[str, str], set[int]] = {}
    for idx, word in enumerate(seqs):
        c = counts[idx]
        for p in zip(word, word[1:]):
            pair_counts[p] = pair_counts.get(p, 0) + c
            where.setdefault(p, set()).add(idx)
    heap = [(-c, p) for p, c in pair_counts.items() if c > 0]
    heapq.heapify(heap)

    merges: list[tuple[str, str]] = []
    while len(vocab) < vocab_size:
        while heap and pair_counts.get(heap[0][1]) != -heap[0][0]:
            heapq.heappop(heap)
        if not heap or -heap[0][0] < min_frequency:
            break
        a, b = pair = heapq.heappop(heap)[1]
        merges.append(pair)
        vocab[a + b] = len(vocab)
        # a merged pair never survives its own rewrite, so its index entry
        # goes; it comes back through the loop below if a later merge
        # recreates the pair
        delta: dict[tuple[str, str], int] = {}
        for idx in where.pop(pair):
            old = seqs[idx]
            new = _merge_word(old, a, b)
            if len(new) == len(old):  # stale entry: the pair left this word
                continue
            c = counts[idx]
            for p in zip(old, old[1:]):
                delta[p] = delta.get(p, 0) - c
            for p in zip(new, new[1:]):
                delta[p] = delta.get(p, 0) + c
                where.setdefault(p, set()).add(idx)
            seqs[idx] = new
        for p, d in delta.items():
            if d:
                c = pair_counts.get(p, 0) + d
                if c:
                    pair_counts[p] = c
                    if c > 0:
                        heapq.heappush(heap, (-c, p))
                else:
                    del pair_counts[p]
    return merges


@dataclass
class BpeTokenizer:
    """A trained BPE model: vocab (symbol→id) + ordered merge rules.

    Equivalent role to the reference's HF tokenizer object (T1/T5);
    deterministic given the same word counts.
    """

    vocab: dict[str, int]
    merges: list[tuple[str, str]]
    special_tokens: list[str] = field(default_factory=lambda: list(SPECIAL_TOKENS))

    @property
    def vocab_size(self) -> int:
        return len(self.vocab)

    @property
    def unk_id(self) -> int:
        return self.vocab[self.special_tokens[1]]

    def _ranks(self) -> dict[tuple[str, str], int]:
        r = getattr(self, "_ranks_memo", None)
        if r is None:
            r = {pair: i for i, pair in enumerate(self.merges)}
            object.__setattr__(self, "_ranks_memo", r)
        return r

    def encode_word(self, word: str, ranks: dict[tuple[str, str], int]) -> list[int]:
        symbols = _apply_merges(list(word) + [END_OF_WORD], ranks)
        unk = self.unk_id
        return [self.vocab.get(s, unk) for s in symbols]

    def encode(self, text: str, _cache: dict | None = None) -> list[int]:
        """T3: whitespace pre-tokenize, BPE-merge each word."""
        ranks = self._ranks()
        cache = _cache if _cache is not None else {}
        out: list[int] = []
        for w in text.split():
            ids = cache.get(w)
            if ids is None:
                ids = self.encode_word(w, ranks)
                if len(cache) < 200_000:
                    cache[w] = ids
            out.extend(ids)
        return out

    def decode(self, ids: list[int]) -> str:
        """T4: inverse map; ``</w>`` marks word boundaries."""
        inv = {i: s for s, i in self.vocab.items()}
        specials = set(self.special_tokens)
        pieces = [inv.get(i, self.special_tokens[1]) for i in ids]
        text = "".join(p for p in pieces if p not in specials)
        return text.replace(END_OF_WORD, " ").strip()

    # T1 save/load (tokenizer.py:157-177)
    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "vocab": self.vocab,
                    "merges": [list(m) for m in self.merges],
                    "special_tokens": self.special_tokens,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "BpeTokenizer":
        with open(path) as f:
            d = json.load(f)
        return cls(
            vocab=d["vocab"],
            merges=[tuple(m) for m in d["merges"]],
            special_tokens=d["special_tokens"],
        )


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """The distributed pass: corpus → (word, count). One shuffle, map-side
    combined; output is tiny relative to the corpus."""
    return (
        df.select(F.explode(whitespace_tokens(F.col(text_col))).alias("word"))
        .groupBy("word")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


def train_bpe_from_word_counts(
    wc: list[tuple[str, int]],
    vocab_size: int = 32_000,
    min_frequency: int = 2,
    special_tokens: list[str] | None = None,
) -> BpeTokenizer:
    """T2: classic BPE merge learning over a word-frequency dict.

    Deterministic: ties in pair frequency break lexicographically.
    """
    special_tokens = list(special_tokens or SPECIAL_TOKENS)
    words: dict[tuple[str, ...], int] = {}
    for w, c in wc:
        if w:
            key = tuple(w) + (END_OF_WORD,)
            words[key] = words.get(key, 0) + c

    alphabet = sorted({s for word in words for s in word})
    vocab: dict[str, int] = {}
    for tok in special_tokens:
        vocab[tok] = len(vocab)
    for s in alphabet:
        vocab[s] = len(vocab)

    merges = _learn_merges(words, vocab, vocab_size, min_frequency)
    return BpeTokenizer(vocab=vocab, merges=merges, special_tokens=special_tokens)


def train_wordpiece_from_word_counts(
    wc: list[tuple[str, int]],
    vocab_size: int = 32_000,
    min_frequency: int = 2,
    special_tokens: list[str] | None = None,
) -> BpeTokenizer:
    """WordPiece-scored merge learning: same loop as BPE but the next merge
    maximizes ``count(ab) / (count(a) * count(b))`` (HF WordPiece scoring)
    rather than raw pair frequency. Returns the same model type — encoding
    is identical merge-rank application.

    Keeps the full rescan per merge (every word's pairs and symbols are
    recounted): a merge changes ``count(a)`` and ``count(b)`` and so the
    score of every pair holding ``a`` or ``b``, anywhere in the table,
    which the words-touched-only update of ``_learn_merges`` cannot see.
    Words are rewritten with the same ``_merge_word`` rule.
    """
    special_tokens = list(special_tokens or SPECIAL_TOKENS)
    words: dict[tuple[str, ...], int] = {}
    for w, c in wc:
        if w:
            key = tuple(w) + (END_OF_WORD,)
            words[key] = words.get(key, 0) + c

    alphabet = sorted({s for word in words for s in word})
    vocab: dict[str, int] = {}
    for tok in special_tokens:
        vocab[tok] = len(vocab)
    for s in alphabet:
        vocab[s] = len(vocab)

    merges: list[tuple[str, str]] = []
    while len(vocab) < vocab_size:
        pair_counts: dict[tuple[str, str], int] = {}
        sym_counts: dict[str, int] = {}
        for word, c in words.items():
            for s in word:
                sym_counts[s] = sym_counts.get(s, 0) + c
            for i in range(len(word) - 1):
                p = (word[i], word[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            break
        scored = (
            ((cnt / (sym_counts[p[0]] * sym_counts[p[1]])), cnt, p)
            for p, cnt in pair_counts.items()
            if cnt >= min_frequency
        )
        best = min(scored, key=lambda t: (-t[0], t[2]), default=None)
        if best is None:
            break
        _score, _cnt, (a, b) = best
        merges.append((a, b))
        vocab[a + b] = len(vocab)
        new_words: dict[tuple[str, ...], int] = {}
        for word, c in words.items():
            key = _merge_word(word, a, b)
            new_words[key] = new_words.get(key, 0) + c
        words = new_words
    return BpeTokenizer(vocab=vocab, merges=merges, special_tokens=special_tokens)


def train_unigram_from_word_counts(
    wc: list[tuple[str, int]],
    vocab_size: int = 32_000,
    min_frequency: int = 2,
    special_tokens: list[str] | None = None,
    max_piece_len: int = 8,
) -> "UnigramTokenizer":
    """Simplified Unigram LM trainer: seed with all substrings up to
    ``max_piece_len`` weighted by frequency, keep the top ``vocab_size``
    pieces (single chars always kept for coverage), encode by Viterbi
    (max sum of log-probs). A deterministic, from-scratch stand-in for
    SentencePiece's EM+pruning — the API and encode semantics match.
    """
    import math

    special_tokens = list(special_tokens or SPECIAL_TOKENS)
    piece_counts: dict[str, int] = {}
    char_set: set[str] = set()
    for w, c in wc:
        if not w or c < 1:
            continue
        char_set.update(w)
        L = len(w)
        for i in range(L):
            for j in range(i + 1, min(i + 1 + max_piece_len, L + 1)):
                piece = w[i:j]
                piece_counts[piece] = piece_counts.get(piece, 0) + c
    multi = sorted(
        (
            (p, c)
            for p, c in piece_counts.items()
            if len(p) > 1 and c >= min_frequency
        ),
        key=lambda kv: (-kv[1] * len(kv[0]), kv[0]),  # favor long frequent pieces
    )
    budget = max(vocab_size - len(special_tokens) - len(char_set), 0)
    kept = [p for p, _ in multi[:budget]]
    vocab: dict[str, int] = {}
    for tok in special_tokens:
        vocab[tok] = len(vocab)
    for ch in sorted(char_set):
        vocab[ch] = len(vocab)
    for p in kept:
        vocab[p] = len(vocab)
    total = sum(piece_counts.get(p, 1) for p in vocab if p not in special_tokens) or 1
    logp = {
        p: math.log(piece_counts.get(p, 1) / total)
        for p in vocab
        if p not in special_tokens
    }
    return UnigramTokenizer(vocab=vocab, logp=logp, special_tokens=special_tokens)


@dataclass
class UnigramTokenizer:
    """Unigram-LM tokenizer: Viterbi segmentation over piece log-probs."""

    vocab: dict[str, int]
    logp: dict[str, float]
    special_tokens: list[str] = field(default_factory=lambda: list(SPECIAL_TOKENS))

    @property
    def vocab_size(self) -> int:
        return len(self.vocab)

    @property
    def unk_id(self) -> int:
        return self.vocab[self.special_tokens[1]]

    def encode_word(self, word: str) -> list[int]:
        L = len(word)
        NEG = float("-inf")
        best = [NEG] * (L + 1)
        back: list[tuple[int, str] | None] = [None] * (L + 1)
        best[0] = 0.0
        for j in range(1, L + 1):
            for i in range(max(0, j - 16), j):
                piece = word[i:j]
                lp = self.logp.get(piece)
                if lp is None and j - i == 1:
                    lp = -100.0  # unknown single char — always segmentable
                if lp is not None and best[i] + lp > best[j]:
                    best[j] = best[i] + lp
                    back[j] = (i, piece)
        pieces: list[str] = []
        j = L
        while j > 0:
            i, piece = back[j]  # type: ignore[misc]
            pieces.append(piece)
            j = i
        pieces.reverse()
        unk = self.unk_id
        return [self.vocab.get(p, unk) for p in pieces]

    def encode(self, text: str, _cache: dict | None = None) -> list[int]:
        cache = _cache if _cache is not None else {}
        out: list[int] = []
        for w in text.split():
            ids = cache.get(w)
            if ids is None:
                ids = self.encode_word(w)
                if len(cache) < 200_000:
                    cache[w] = ids
            out.extend(ids)
        return out

    def decode(self, ids: list[int]) -> str:
        inv = {i: s for s, i in self.vocab.items()}
        specials = set(self.special_tokens)
        return "".join(inv.get(i, "") for i in ids if inv.get(i) not in specials)

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "type": "unigram",
                    "vocab": self.vocab,
                    "logp": self.logp,
                    "special_tokens": self.special_tokens,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "UnigramTokenizer":
        with open(path) as f:
            d = json.load(f)
        return cls(vocab=d["vocab"], logp=d["logp"], special_tokens=d["special_tokens"])


@dataclass
class ByteLevelBpeTokenizer:
    """Byte-level BPE: GPT-2-style pre-tokenization + BPE merges over
    byte symbols — the pre-tokenizer the reference's BPE actually uses
    (HF ByteLevel, tokenizer.py:77-90), from scratch.

    Unlike the whitespace+``</w>`` ``BpeTokenizer``, this round-trips
    text EXACTLY (whitespace included): every byte has a symbol, so no
    token is ever <unk> and decode inverts encode bit-for-bit.
    """

    vocab: dict[str, int]
    merges: list[tuple[str, str]]
    special_tokens: list[str] = field(default_factory=lambda: list(SPECIAL_TOKENS))

    @property
    def vocab_size(self) -> int:
        return len(self.vocab)

    @property
    def unk_id(self) -> int:
        return self.vocab[self.special_tokens[1]]

    def _ranks(self) -> dict[tuple[str, str], int]:
        r = getattr(self, "_ranks_memo", None)
        if r is None:
            r = {pair: i for i, pair in enumerate(self.merges)}
            object.__setattr__(self, "_ranks_memo", r)
        return r

    def encode_pretoken(self, pretoken: str, ranks: dict[tuple[str, str], int]) -> list[int]:
        symbols = _apply_merges(_byte_symbols(pretoken), ranks)
        # full byte alphabet is always in vocab → lookups cannot miss
        return [self.vocab[s] for s in symbols]

    def encode(self, text: str, _cache: dict | None = None) -> list[int]:
        """Pre-tokenize (GPT-2 split), BPE-merge each pre-token's bytes.

        Encode and TRAINING both split with ``_PY_PRETOKEN_RE``
        (``pretoken_counts`` runs the same compiled regex inside
        mapInPandas), so train-time statistics and encode-time pretokens
        agree exactly — including on Unicode Nl/No numerals where the
        Java and Python character classes diverge
        (tests/test_tokenize.py pins this agreement).
        """
        ranks = self._ranks()
        cache = _cache if _cache is not None else {}
        out: list[int] = []
        for m in _PY_PRETOKEN_RE.findall(text):
            ids = cache.get(m)
            if ids is None:
                ids = self.encode_pretoken(m, ranks)
                if len(cache) < 200_000:
                    cache[m] = ids
            out.extend(ids)
        return out

    def decode(self, ids: list[int]) -> str:
        inv = {i: s for s, i in self.vocab.items()}
        specials = set(self.special_tokens)
        chars = "".join(inv.get(i, "") for i in ids if inv.get(i) not in specials)
        data = bytes(_CHAR_TO_BYTE[c] for c in chars)
        return data.decode("utf-8", errors="replace")

    def save(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(
                {
                    "type": "byte_bpe",
                    "vocab": self.vocab,
                    "merges": [list(m) for m in self.merges],
                    "special_tokens": self.special_tokens,
                },
                f,
            )

    @classmethod
    def load(cls, path: str) -> "ByteLevelBpeTokenizer":
        with open(path) as f:
            d = json.load(f)
        return cls(
            vocab=d["vocab"],
            merges=[tuple(m) for m in d["merges"]],
            special_tokens=d["special_tokens"],
        )

    # S10 artifact interchange: the reference saves HF `tokenizers` JSON
    # (tokenizer.py:157-177). This model is semantically an HF ByteLevel
    # BPE (same GPT-2 pretoken regex, same bytes_to_unicode map, plain
    # merges without suffix markers), so the HF wire format round-trips
    # EXACTLY. The whitespace+``</w>`` BpeTokenizer deliberately has no
    # HF export — its standalone end-of-word SYMBOL is not expressible
    # in HF's end_of_word_suffix scheme without renumbering the vocab.
    def save_hf(self, path: str) -> None:
        """Write an HF ``tokenizers``-format tokenizer.json.

        Loadable by ``tokenizers.Tokenizer.from_file`` / transformers
        ``PreTrainedTokenizerFast(tokenizer_file=...)``. The library is
        absent in this container, so compatibility is pinned at the
        format level (``load_hf`` round-trip + schema shape test); the
        mapping is one-to-one: vocab passes through unchanged, merge
        pairs render as the classic "a b" strings.
        """
        obj = {
            "version": "1.0",
            "truncation": None,
            "padding": None,
            "added_tokens": [
                {
                    "id": self.vocab[t],
                    "content": t,
                    "single_word": False,
                    "lstrip": False,
                    "rstrip": False,
                    "normalized": False,
                    "special": True,
                }
                for t in self.special_tokens
                if t in self.vocab
            ],
            "normalizer": None,
            "pre_tokenizer": {
                "type": "ByteLevel",
                "add_prefix_space": False,
                "trim_offsets": True,
                "use_regex": True,
            },
            "post_processor": None,
            "decoder": {
                "type": "ByteLevel",
                "add_prefix_space": False,
                "trim_offsets": True,
                "use_regex": True,
            },
            "model": {
                "type": "BPE",
                "dropout": None,
                # select by content, not position: a custom special-token
                # list may not keep '<unk>' at index 1, and byte-level BPE
                # never emits unk anyway — None is the honest default
                "unk_token": "<unk>" if "<unk>" in self.special_tokens else None,
                "continuing_subword_prefix": None,
                "end_of_word_suffix": None,
                "fuse_unk": False,
                "byte_fallback": False,
                "vocab": self.vocab,
                "merges": [f"{a} {b}" for a, b in self.merges],
            },
        }
        with open(path, "w") as f:
            json.dump(obj, f, ensure_ascii=False)

    @classmethod
    def load_hf(cls, path: str) -> "ByteLevelBpeTokenizer":
        """Load an HF ``tokenizers`` tokenizer.json (ByteLevel BPE).

        Accepts both merge spellings the library has used: "a b" strings
        (classic) and [a, b] pairs (tokenizers >= 0.20). Special tokens
        come from ``added_tokens``; absent one, the engine defaults
        apply (ids then differ from the engine's own training layout,
        which is fine — the file's vocab ids are authoritative).
        """
        with open(path) as f:
            d = json.load(f)
        model = d.get("model", {})
        if model.get("type") != "BPE":
            raise ValueError(f"not an HF BPE model: {model.get('type')!r}")
        if model.get("end_of_word_suffix") or model.get("continuing_subword_prefix"):
            raise ValueError(
                "only plain ByteLevel BPE round-trips exactly; suffix/prefix "
                "schemes segment differently from this model"
            )
        merges: list[tuple[str, str]] = []
        for m in model.get("merges", []):
            if isinstance(m, str):
                a, _, b = m.partition(" ")
            else:
                a, b = m
            merges.append((a, b))
        specials = [
            t["content"]
            for t in sorted(d.get("added_tokens", []), key=lambda t: t["id"])
            if t.get("special")
        ]
        return cls(
            vocab=model["vocab"],
            merges=merges,
            special_tokens=specials or list(SPECIAL_TOKENS),
        )


def train_byte_bpe_from_pretoken_counts(
    wc: list[tuple[str, int]],
    vocab_size: int = 32_000,
    min_frequency: int = 2,
    special_tokens: list[str] | None = None,
) -> ByteLevelBpeTokenizer:
    """Merge learning over a (pretoken, count) table; alphabet is the
    full 256-symbol byte map so coverage is total by construction."""
    special_tokens = list(special_tokens or SPECIAL_TOKENS)
    words: dict[tuple[str, ...], int] = {}
    for w, c in wc:
        if w:
            key = tuple(_byte_symbols(w))
            words[key] = words.get(key, 0) + c

    vocab: dict[str, int] = {}
    for tok in special_tokens:
        vocab[tok] = len(vocab)
    for b in range(256):
        vocab[_BYTE_TO_CHAR[b]] = len(vocab)

    merges = _learn_merges(words, vocab, vocab_size, min_frequency)
    return ByteLevelBpeTokenizer(vocab=vocab, merges=merges, special_tokens=special_tokens)


def pretoken_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Distributed GPT-2 pre-token frequency table using the SAME Python
    regex that ``ByteLevelBpeTokenizer.encode`` splits with, so training
    statistics and encode-time pretokens agree exactly — including on
    Unicode Nl/No numerals (Ⅷ, ①) where Java's ``\\p{N}`` and Python's
    ``\\d`` classes diverge.

    Arrow-batched ``mapInPandas`` with per-batch Counter pre-aggregation
    (map-side combine in Python), then a hash aggregate to merge batch
    partials — the shuffle carries (pretoken, partial_count), not raw
    occurrences, so the Python stage cost is one pass over the corpus and
    the shuffle stays vocabulary-sized. Training is the one deliberate
    Python/driver round-trip of the tokenizer design (SURVEY §7)."""
    from collections import Counter

    def _count(batches):
        for pdf in batches:
            c: Counter = Counter()
            for t in pdf[text_col]:
                if t:
                    c.update(_PY_PRETOKEN_RE.findall(t))
            if c:
                yield pd.DataFrame(
                    {"pretoken": list(c.keys()), "cnt": list(c.values())}
                )

    partials = df.select(text_col).mapInPandas(_count, "pretoken string, cnt long")
    return partials.groupBy("pretoken").agg(F.sum("cnt").alias("cnt"))


TRAINERS = {
    "bpe": train_bpe_from_word_counts,
    "wordpiece": train_wordpiece_from_word_counts,
    "unigram": train_unigram_from_word_counts,
    "byte_bpe": train_byte_bpe_from_pretoken_counts,
}


def train_tokenizer(
    df: DataFrame,
    text_col: str = "text",
    algorithm: str = "bpe",
    vocab_size: int = 32_000,
    min_frequency: int = 2,
    max_words: int = 2_000_000,
):
    """T1/T2: distributed word counting + driver-side training with the
    reference's algorithm choices {bpe, wordpiece, unigram}
    (tokenizer.py:58-133)."""
    if algorithm not in TRAINERS:
        raise ValueError(f"unknown algorithm {algorithm!r}; choose from {sorted(TRAINERS)}")
    # driver-collect guard (VERDICT r14 #8): the collect below is bounded
    # by limit(max_words) rows of (word, count) — fine at vocab scale,
    # but an unbounded max_words would let a 100 TB caller OOM the
    # driver instead of failing loudly. ~50 B/row keeps even the 20M cap
    # around 1 GB of framed rows (spark.driver.maxResultSize territory).
    # The same cap bounds the BPE learner's pair → word-index table,
    # which grows with the total symbols of the collected words (a few
    # word indices per symbol), so it scales with max_words too.
    _MAX_WORDS_CAP = 20_000_000
    if max_words > _MAX_WORDS_CAP:
        raise ValueError(
            f"max_words={max_words} exceeds the driver-collect guard "
            f"({_MAX_WORDS_CAP}): tokenizer training collects the top "
            "max_words (word, count) rows to the driver; raise the cap "
            "only with driver memory sized for it"
        )
    if algorithm == "byte_bpe":
        wc_df = (
            pretoken_counts(df, text_col)
            .orderBy(F.col("cnt").desc(), F.col("pretoken"))
            .limit(max_words)
        )
        wc = [(r["pretoken"], r["cnt"]) for r in wc_df.collect()]
    else:
        wc_df = (
            word_counts(df, text_col).orderBy(F.col("cnt").desc(), F.col("word")).limit(max_words)
        )
        wc = [(r["word"], r["cnt"]) for r in wc_df.collect()]
    return TRAINERS[algorithm](wc, vocab_size, min_frequency)


def train_bpe(
    df: DataFrame,
    text_col: str = "text",
    vocab_size: int = 32_000,
    min_frequency: int = 2,
    max_words: int = 2_000_000,
) -> BpeTokenizer:
    """Distributed word counting + driver-side merge learning (T2).

    ``max_words`` caps the driver collect to the most frequent words — the
    long tail below min_frequency cannot affect merges anyway.
    """
    return train_tokenizer(
        df, text_col, "bpe", vocab_size, min_frequency, max_words
    )


def encode_udf(spark: SparkSession, tokenizer):
    """Broadcast the model once; per-executor word cache amortizes work.

    Works for any tokenizer exposing ``encode(text, _cache)`` (BPE,
    WordPiece-scored BPE, Unigram).
    """
    bc = spark.sparkContext.broadcast(tokenizer)

    @pandas_udf(ArrayType(IntegerType()))
    def _encode(texts: pd.Series) -> pd.Series:
        tok = bc.value
        cache: dict = {}
        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            out.append(tok.encode(t, cache))
        return pd.Series(out)

    return _encode


def tokenize_documents(
    df: DataFrame,
    tokenizer,
    text_col: str = "text",
    *,
    out_col: str = "tokens",
) -> DataFrame:
    """T6: add ``tokens`` ARRAY<INT> + ``token_count``."""
    spark = df.sparkSession
    enc = encode_udf(spark, tokenizer)
    out = df.withColumn(out_col, enc(F.col(text_col)))
    return out.withColumn("token_count", F.size(F.col(out_col)).cast("long"))


def prune_merges(tok, n_merges: int):
    """Frequency pruning by merge-prefix truncation — the vocab-budget
    lever run before committing a tokenizer to a training run.

    Merge-based trainers (BPE, WordPiece-scored BPE, byte-BPE) learn
    merges SEQUENTIALLY: merge ``i`` depends only on the corpus state
    after merges ``0..i-1``, never on later ones — so the first
    ``n_merges`` of a large training ARE the full training at the
    smaller budget, and pruning is exact retraining for free (pinned:
    ``prune_merges(train(V), m) == train(base+m)``). Vocab ids are
    assigned merge-ordered (specials, alphabet, then one per merge), so
    the surviving vocab is exactly the id-prefix and ids stay dense.

    Not applicable to Unigram (vocabulary is EM-scored, not
    merge-ordered) — raises for tokenizers without merges.
    """
    merges = getattr(tok, "merges", None)
    if merges is None:
        raise ValueError(
            f"prune_merges needs a merge-based tokenizer, got {type(tok).__name__}"
        )
    if n_merges < 0:
        raise ValueError(f"n_merges must be >= 0: {n_merges}")
    if n_merges >= len(merges):
        return tok
    base = len(tok.vocab) - len(merges)
    keep_vocab = {s: i for s, i in tok.vocab.items() if i < base + n_merges}
    return type(tok)(
        vocab=keep_vocab,
        merges=list(merges[:n_merges]),
        special_tokens=list(tok.special_tokens),
    )


def vocab_prune_curve(
    df: DataFrame,
    budgets: tuple[int, ...] = (300, 400, 500),
    algorithm: str = "bpe",
    text_col: str = "text",
    min_frequency: int = 2,
) -> DataFrame:
    """Token-inflation curve across vocabulary budgets: train ONCE at the
    largest budget, merge-prefix-prune to each smaller one (exact — see
    ``prune_merges``), encode the corpus with each, and report tokens
    per 100 whitespace words. The table a tokenizer owner reads to pick
    the vocab-size/sequence-length trade: shrinking the vocab inflates
    every sequence (and so the training bill) by a measured factor, not
    a guessed one.

    One distributed count + ONE driver training for the whole curve;
    per budget, one Arrow-batched encode pass (the broadcast tokenizer /
    per-executor cache path — the engine's only sanctioned Python
    crossing). Rows: (vocab_size, n_merges, total_tokens, total_words,
    tokens_per_100w), budget-ascending.
    """
    if not budgets:
        raise ValueError("budgets must be non-empty")
    if algorithm == "unigram":
        raise ValueError("vocab_prune_curve needs a merge-based algorithm")
    budgets = tuple(sorted(set(int(b) for b in budgets)))
    tok = train_tokenizer(
        df, text_col, algorithm, vocab_size=budgets[-1], min_frequency=min_frequency
    )
    base = len(tok.vocab) - len(tok.merges)
    # the shared tokenizer (empty/whitespace-only docs count 0 words;
    # a trim+split reimplementation counted the leading '' token)
    words = df.select(
        F.size(whitespace_tokens(F.col(text_col))).alias("_nw")
    ).agg(F.sum("_nw").cast("long").alias("total_words"))
    out: DataFrame | None = None
    for b in budgets:
        tok_b = prune_merges(tok, max(b - base, 0))
        enc = tokenize_documents(df, tok_b, text_col)
        row = (
            enc.agg(F.sum("token_count").cast("long").alias("total_tokens"))
            .crossJoin(F.broadcast(words))
            .select(
                F.lit(tok_b.vocab_size).cast("long").alias("vocab_size"),
                F.lit(len(tok_b.merges)).cast("long").alias("n_merges"),
                "total_tokens",
                "total_words",
                F.round(
                    F.when(
                        F.col("total_words") > 0,
                        F.col("total_tokens") * 100.0 / F.col("total_words"),
                    ),
                    4,
                ).alias("tokens_per_100w"),
            )
        )
        out = row if out is None else out.unionByName(row)
    assert out is not None
    return out


def tokenization_stats(df_tokenized: DataFrame, tokenizer, text_col: str = "text") -> DataFrame:
    """TokenizationStats aggregate (tokenizer.py:24-55): totals + derived
    avg_tokens_per_doc and compression_ratio (chars/token)."""
    agg = df_tokenized.agg(
        F.count(F.lit(1)).alias("total_documents"),
        F.sum("token_count").alias("total_tokens"),
        F.sum(F.length(F.col(text_col))).alias("total_chars"),
    )
    return agg.select(
        "total_documents",
        "total_tokens",
        "total_chars",
        F.lit(tokenizer.vocab_size).cast("long").alias("vocab_size"),
        # guarded divisions: long/0 raises DIVIDE_BY_ZERO under ANSI mode
        F.round(
            F.when(F.col("total_documents") > 0, F.col("total_tokens") / F.col("total_documents")),
            4,
        ).alias("avg_tokens_per_doc"),
        F.round(
            F.when(F.col("total_tokens") > 0, F.col("total_chars") / F.col("total_tokens")),
            4,
        ).alias("compression_ratio"),
    )
