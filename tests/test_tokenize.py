"""Tokenizer tests — mirror the reference's assertions
(/root/reference/tests/test_pipeline.py:180-241, FIXTURES.md §A5)."""

from __future__ import annotations

import os

from llm_training_data_pipeline_spark.operators.tokenize import (
    BpeTokenizer,
    tokenization_stats,
    tokenize_documents,
    train_bpe,
    train_bpe_from_word_counts,
)

CORPUS = [
    "the quick brown fox jumps over the lazy dog",
    "pack my box with five dozen liquor jugs",
    "how vexingly quick daft zebras jump",
    "the five boxing wizards jump quickly",
] * 50


def _corpus_df(spark):
    return spark.createDataFrame([(i, t) for i, t in enumerate(CORPUS)], "doc_id long, text string")


def test_train_vocab_under_cap(spark):
    tok = train_bpe(_corpus_df(spark), vocab_size=200, min_frequency=2)
    assert 0 < tok.vocab_size <= 200
    assert all(s in tok.vocab for s in ["<pad>", "<unk>", "<bos>", "<eos>"])


def test_encode_decode_roundtrip(spark):
    tok = train_bpe(_corpus_df(spark), vocab_size=300, min_frequency=1)
    text = "the quick brown fox"
    ids = tok.encode(text)
    assert ids and all(isinstance(i, int) for i in ids)
    assert tok.decode(ids) == text


def test_save_load_preserves_vocab(tmp_path, spark):
    tok = train_bpe(_corpus_df(spark), vocab_size=200)
    p = os.path.join(tmp_path, "tok.json")
    tok.save(p)
    tok2 = BpeTokenizer.load(p)
    assert tok2.vocab_size == tok.vocab_size
    assert tok2.encode("quick brown") == tok.encode("quick brown")


def test_deterministic_training():
    wc = [("aaab", 10), ("aab", 5), ("abc", 3)]
    t1 = train_bpe_from_word_counts(wc, vocab_size=50)
    t2 = train_bpe_from_word_counts(wc, vocab_size=50)
    assert t1.merges == t2.merges and t1.vocab == t2.vocab


def _rescan_learn_merges(words, vocab, vocab_size, min_frequency, stops):
    """Reference learner: the full-rescan loop (every merge recounts every
    pair and rebuilds every word). Appends its stop reason to ``stops``."""
    merges = []
    while len(vocab) < vocab_size:
        pair_counts = {}
        for word, c in words.items():
            for i in range(len(word) - 1):
                p = (word[i], word[i + 1])
                pair_counts[p] = pair_counts.get(p, 0) + c
        if not pair_counts:
            stops.append("exhausted")
            return merges
        (a, b), cnt = min(pair_counts.items(), key=lambda kv: (-kv[1], kv[0]))
        if cnt < min_frequency:
            stops.append("min_frequency")
            return merges
        merges.append((a, b))
        vocab[a + b] = len(vocab)
        new_words = {}
        for word, c in words.items():
            out = []
            i = 0
            while i < len(word):
                if i < len(word) - 1 and word[i] == a and word[i + 1] == b:
                    out.append(a + b)
                    i += 2
                else:
                    out.append(word[i])
                    i += 1
            key = tuple(out)
            new_words[key] = new_words.get(key, 0) + c
        words = new_words
    stops.append("vocab_size")
    return merges


def test_incremental_learner_matches_rescan(monkeypatch):
    """The incremental merge learner gives the full-rescan loop's merges
    and vocab on 1,200 seeded tables per trainer (bpe and byte_bpe).
    Words are built from pieces with runs (``aaaa`` under ``(a, a)``
    overlaps) and small counts (ties); bpe words may spell the end marker
    literally, so merges re-create existing vocab keys (``<`` + ``/w>``
    is ``</w>``, ``b`` + ``</w>`` is ``b</`` + ``w>``). Budgets and
    thresholds are drawn so every stop rule fires."""
    import random

    from llm_training_data_pipeline_spark.operators import tokenize as tk

    rng = random.Random(20261017)
    stops: list[str] = []
    collisions = 0
    for t in range(2400):
        byte_level = t % 2 == 1
        pieces = ["a", "a", "b", "é", "aaaa"] if byte_level else ["a", "a", "b", "aaaa", "</w>"]
        wc = [
            ("".join(rng.choice(pieces) for _ in range(rng.randint(1, 3))), rng.randint(1, 4))
            for _ in range(rng.randint(1, 8))
        ]
        if byte_level:
            train, base = tk.train_byte_bpe_from_pretoken_counts, len(tk.SPECIAL_TOKENS) + 256
        else:
            train = tk.train_bpe_from_word_counts
            base = len(tk.SPECIAL_TOKENS) + len(set("".join(w for w, _ in wc)) | {tk.END_OF_WORD})
        vocab_size = base + rng.randint(0, 30)
        min_frequency = rng.choice([1, 1, 2, 3, 6])
        got = train(wc, vocab_size, min_frequency)
        with monkeypatch.context() as m:
            m.setattr(
                tk,
                "_learn_merges",
                lambda w, v, n, f: _rescan_learn_merges(w, v, n, f, stops),
            )
            want = train(wc, vocab_size, min_frequency)
        assert got.merges == want.merges, (wc, vocab_size, min_frequency)
        assert got.vocab == want.vocab, (wc, vocab_size, min_frequency)
        collisions += len(want.vocab) < base + len(want.merges)
    assert {"exhausted", "min_frequency", "vocab_size"} <= set(stops)
    assert collisions > 0


def test_tokenize_documents_and_stats(spark):
    df = _corpus_df(spark)
    tok = train_bpe(df, vocab_size=300)
    out = tokenize_documents(df, tok)
    rows = out.select("tokens", "token_count").collect()
    assert all(r["token_count"] == len(r["tokens"]) > 0 for r in rows)
    stats = tokenization_stats(out, tok).collect()[0]
    assert stats["total_documents"] == len(CORPUS)
    assert stats["total_tokens"] > 0
    assert stats["vocab_size"] == tok.vocab_size
    assert stats["compression_ratio"] > 1.0  # chars per token


def test_unknown_chars_map_to_unk(spark):
    tok = train_bpe(_corpus_df(spark), vocab_size=200)
    ids = tok.encode("日本語")
    assert ids and all(i == tok.unk_id for i in ids[:-1] or ids)


def test_wordpiece_and_unigram_variants(spark):
    from llm_training_data_pipeline_spark.operators.tokenize import (
        UnigramTokenizer,
        train_tokenizer,
    )

    df = _corpus_df(spark)
    wp = train_tokenizer(df, algorithm="wordpiece", vocab_size=300, min_frequency=2)
    ids = wp.encode("the quick brown fox")
    assert ids and wp.decode(ids) == "the quick brown fox"

    uni = train_tokenizer(df, algorithm="unigram", vocab_size=300, min_frequency=2)
    assert isinstance(uni, UnigramTokenizer)
    uids = uni.encode("the quick brown fox")
    assert uids and uni.decode(uids) == "thequickbrownfox"  # unigram joins pieces
    # frequent whole words should be single pieces
    assert len(uni.encode("quick")) <= 2


def test_unigram_save_load(tmp_path, spark):
    from llm_training_data_pipeline_spark.operators.tokenize import (
        UnigramTokenizer,
        train_tokenizer,
    )

    uni = train_tokenizer(_corpus_df(spark), algorithm="unigram", vocab_size=200)
    p = os.path.join(tmp_path, "uni.json")
    uni.save(p)
    uni2 = UnigramTokenizer.load(p)
    assert uni2.encode("quick brown") == uni.encode("quick brown")


def test_tokenize_documents_with_unigram(spark):
    from llm_training_data_pipeline_spark.operators.tokenize import (
        tokenize_documents,
        train_tokenizer,
    )

    df = _corpus_df(spark)
    uni = train_tokenizer(df, algorithm="unigram", vocab_size=300)
    out = tokenize_documents(df, uni).select("token_count").collect()
    assert all(r["token_count"] > 0 for r in out)


# --------------------------- byte-level BPE ---------------------------


def test_bytes_to_unicode_bijection():
    from llm_training_data_pipeline_spark.operators.tokenize import bytes_to_unicode

    m = bytes_to_unicode()
    assert len(m) == 256
    assert len(set(m.values())) == 256
    assert m[ord("A")] == "A"  # printable maps to itself


def test_byte_bpe_exact_roundtrip(spark):
    from llm_training_data_pipeline_spark.operators.tokenize import (
        ByteLevelBpeTokenizer,
        train_tokenizer,
    )

    tok = train_tokenizer(_corpus_df(spark), algorithm="byte_bpe", vocab_size=400)
    assert isinstance(tok, ByteLevelBpeTokenizer)
    for text in (
        "the quick  brown\tfox\n jumps",
        "unicode: café 日本語 \U0001f600",
        "  leading and trailing  ",
        "it's we've I'll",
    ):
        ids = tok.encode(text)
        assert tok.decode(ids) == text, "byte-level BPE must round-trip exactly"


def test_byte_bpe_never_unk(spark):
    from llm_training_data_pipeline_spark.operators.tokenize import train_tokenizer

    tok = train_tokenizer(_corpus_df(spark), algorithm="byte_bpe", vocab_size=300)
    ids = tok.encode("жопа zzz \U0001f409")  # chars never seen in training
    assert tok.unk_id not in ids


def test_byte_bpe_merges_compress(spark):
    from llm_training_data_pipeline_spark.operators.tokenize import train_tokenizer

    tok = train_tokenizer(_corpus_df(spark), algorithm="byte_bpe", vocab_size=500)
    # a word frequent in the corpus should be far fewer tokens than bytes
    assert len(tok.encode("quick")) < len("quick".encode())


def test_byte_bpe_save_load(tmp_path, spark):
    from llm_training_data_pipeline_spark.operators.tokenize import (
        ByteLevelBpeTokenizer,
        train_tokenizer,
    )

    tok = train_tokenizer(_corpus_df(spark), algorithm="byte_bpe", vocab_size=300)
    p = os.path.join(tmp_path, "bb.json")
    tok.save(p)
    tok2 = ByteLevelBpeTokenizer.load(p)
    assert tok2.encode("quick brown") == tok.encode("quick brown")


def test_byte_bpe_hf_format_roundtrip(tmp_path, spark):
    """S10 artifact interchange: the HF `tokenizers` JSON export must
    carry the full model (vocab ids, merge order, specials) and load
    back to a bit-identical encoder. Checked at the format level (the
    tokenizers library is absent in this container); the real-library
    cross-check below is capability-gated."""
    import json as _json

    from llm_training_data_pipeline_spark.operators.tokenize import (
        ByteLevelBpeTokenizer,
        train_tokenizer,
    )

    tok = train_tokenizer(_corpus_df(spark), algorithm="byte_bpe", vocab_size=300)
    p = os.path.join(tmp_path, "tokenizer.json")
    tok.save_hf(p)

    with open(p) as f:
        d = _json.load(f)
    assert d["model"]["type"] == "BPE"
    assert d["pre_tokenizer"]["type"] == "ByteLevel"
    assert d["model"]["end_of_word_suffix"] is None
    assert all(isinstance(m, str) and " " in m for m in d["model"]["merges"])
    assert {t["content"] for t in d["added_tokens"]} == set(tok.special_tokens)

    tok2 = ByteLevelBpeTokenizer.load_hf(p)
    assert tok2.vocab == tok.vocab
    assert tok2.merges == tok.merges
    for text in ["quick brown fox", "Ⅷ ① numerals", "  spaces\tkept "]:
        assert tok2.encode(text) == tok.encode(text)
        assert tok2.decode(tok2.encode(text)) == text

    # list-form merges (tokenizers >= 0.20) load identically
    d["model"]["merges"] = [m.split(" ", 1) for m in d["model"]["merges"]]
    p2 = os.path.join(tmp_path, "tokenizer_listmerges.json")
    with open(p2, "w") as f:
        _json.dump(d, f, ensure_ascii=False)
    tok3 = ByteLevelBpeTokenizer.load_hf(p2)
    assert tok3.merges == tok.merges

    # suffix-scheme models must be refused, not silently mis-segmented
    d["model"]["end_of_word_suffix"] = "</w>"
    p3 = os.path.join(tmp_path, "tokenizer_suffix.json")
    with open(p3, "w") as f:
        _json.dump(d, f, ensure_ascii=False)
    import pytest as _pytest

    with _pytest.raises(ValueError):
        ByteLevelBpeTokenizer.load_hf(p3)

    # when the real library exists, the exported file must load and agree
    try:
        from tokenizers import Tokenizer  # type: ignore
    except ImportError:
        return
    hf = Tokenizer.from_file(p)
    for text in ["quick brown fox", "pack my box"]:
        assert hf.encode(text).ids == tok.encode(text)


def test_byte_bpe_spark_encode_path(spark):
    from llm_training_data_pipeline_spark.operators.tokenize import (
        tokenize_documents,
        train_tokenizer,
    )

    df = _corpus_df(spark)
    tok = train_tokenizer(df, algorithm="byte_bpe", vocab_size=300)
    out = tokenize_documents(df, tok).select("text", "tokens").collect()
    for r in out:
        assert tok.decode(r["tokens"]) == r["text"]


def test_pretoken_counts_matches_python_split(spark):
    """pretoken_counts (training) uses the same compiled regex as encode,
    so the frequency table equals a driver-side findall Counter."""
    from collections import Counter

    from llm_training_data_pipeline_spark.operators.tokenize import (
        _PY_PRETOKEN_RE,
        pretoken_counts,
    )

    texts = ["the fox's den, 42 times!", "  spaced   out  ", "it'll re-run 3x"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    got = {r["pretoken"]: r["cnt"] for r in pretoken_counts(df).collect()}
    want = Counter(m for t in texts for m in _PY_PRETOKEN_RE.findall(t))
    assert got == dict(want)


def test_pretoken_counts_numeral_heavy_agrees_with_encode_split(spark):
    """Train/encode pretokenization agreement on the divergent class:
    Unicode Nl (Ⅷ) and No (①) numerals, where Java \\p{N} and Python \\d
    split differently. Training now runs the encode-side Python regex in
    mapInPandas, so the two sides must agree exactly even here."""
    from collections import Counter

    from llm_training_data_pipeline_spark.operators.tokenize import (
        _PY_PRETOKEN_RE,
        pretoken_counts,
        train_byte_bpe_from_pretoken_counts,
    )

    texts = ["chapter Ⅷ begins", "item ① and ② of 10", "mix Ⅷ①7 end"]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = [(r["pretoken"], r["cnt"]) for r in pretoken_counts(df).collect()]
    want = Counter(m for t in texts for m in _PY_PRETOKEN_RE.findall(t))
    assert dict(rows) == dict(want)
    # and the trained tokenizer round-trips the numeral-heavy text exactly
    tok = train_byte_bpe_from_pretoken_counts(rows, vocab_size=300, min_frequency=1)
    for t in texts:
        assert tok.decode(tok.encode(t)) == t


def test_tokenizer_fertility_sane(spark):
    """Fertility query: byte-BPE chars/token must land in a plausible
    band (1..20) and tokens/word >= 1 for every language group."""
    from llm_training_data_pipeline_spark.plans.queries import registry
    from tests.conftest import SF_DIR

    fn, sql = registry()["tokenizer_fertility"]
    assert sql is None
    rows = fn(spark, SF_DIR).collect()
    assert rows
    for r in rows:
        assert 1.0 <= r["chars_per_token"] <= 20.0, r
        assert r["tokens_per_word"] >= 1.0, r


def test_prune_merges_equals_retraining_smaller(spark):
    """Merge learning is sequential, so prefix-pruning a large training
    must equal training at the smaller budget outright — merges, vocab,
    and encodings all identical (for BPE, WordPiece AND byte-BPE)."""
    from llm_training_data_pipeline_spark.operators.tokenize import (
        prune_merges,
        train_tokenizer,
    )
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).limit(120)
    for algo in ("bpe", "wordpiece", "byte_bpe"):
        big = train_tokenizer(docs, algorithm=algo, vocab_size=400)
        base = len(big.vocab) - len(big.merges)
        small_budget = base + len(big.merges) // 2
        retrained = train_tokenizer(docs, algorithm=algo, vocab_size=small_budget)
        pruned = prune_merges(big, small_budget - base)
        assert pruned.merges == retrained.merges, algo
        assert pruned.vocab == retrained.vocab, algo
        sample = "the quick brown fox jumps over the lazy dog"
        assert pruned.encode(sample) == retrained.encode(sample), algo


def test_prune_merges_rejects_unigram_and_bad_n(spark):
    import pytest as _pytest

    from llm_training_data_pipeline_spark.operators.tokenize import (
        prune_merges,
        train_tokenizer,
    )
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).limit(50)
    uni = train_tokenizer(docs, algorithm="unigram", vocab_size=300)
    with _pytest.raises(ValueError, match="merge-based"):
        prune_merges(uni, 10)
    bpe = train_tokenizer(docs, algorithm="bpe", vocab_size=300)
    with _pytest.raises(ValueError, match=">= 0"):
        prune_merges(bpe, -1)
    assert prune_merges(bpe, 10**9) is bpe  # over-ask returns unchanged


def test_vocab_prune_curve_monotone(spark):
    """More vocabulary can only merge more — total tokens must be
    non-increasing as the budget grows, and the words column constant."""
    from llm_training_data_pipeline_spark.operators.tokenize import (
        vocab_prune_curve,
    )
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR).limit(150)
    rows = (
        vocab_prune_curve(docs, budgets=(280, 340, 420))
        .orderBy("vocab_size")
        .collect()
    )
    assert [r["vocab_size"] for r in rows] == sorted(
        r["vocab_size"] for r in rows
    )
    toks = [r["total_tokens"] for r in rows]
    assert toks == sorted(toks, reverse=True) or len(set(toks)) < len(toks)
    assert all(toks[i] >= toks[i + 1] for i in range(len(toks) - 1))
    assert len({r["total_words"] for r in rows}) == 1
    assert all(r["tokens_per_100w"] > 0 for r in rows)


def test_train_tokenizer_guards_driver_collect(spark):
    # r15: the word-count collect is bounded by limit(max_words); an
    # absurd max_words must fail loudly BEFORE any job runs
    import pytest

    from llm_training_data_pipeline_spark.operators.tokenize import train_tokenizer

    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="driver-collect guard"):
        train_tokenizer(df, "text", max_words=100_000_000)
