"""Corpus-scale operators: unigram LM scoring, contamination check,
stratified sampling, sequence packing, mix report."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.operators import corpus


def _docs(spark, rows):
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def test_unigram_surprisal_rare_words_score_higher(spark):
    df = _docs(
        spark,
        [
            (1, "the cat sat on the mat", "en", "s0"),
            (2, "the cat sat on the mat", "en", "s0"),
            (3, "zyzzyva quokka axolotl", "en", "s0"),
        ],
    )
    out = {r["doc_id"]: r for r in corpus.unigram_surprisal(df).collect()}
    assert out[3]["avg_surprisal"] > out[1]["avg_surprisal"]
    assert out[1]["avg_surprisal"] == out[2]["avg_surprisal"]
    # hand-check doc 3: every word is a hapax (c=1); N=15 total words,
    # V=8 distinct → surprisal = ln(15+8) - ln(2)
    assert math.isclose(out[3]["avg_surprisal"], math.log(23) - math.log(2), abs_tol=1e-5)
    assert out[1]["n_words"] == 6


def test_unigram_surprisal_case_folds(spark):
    df = _docs(spark, [(1, "The THE the", "en", "s0")])
    row = corpus.unigram_surprisal(df).collect()[0]
    # one distinct word with c=3, N=3, V=1 → ln(4) - ln(4) = 0
    assert math.isclose(row["avg_surprisal"], 0.0, abs_tol=1e-6)


def test_contamination_pairs_detects_verbatim_overlap(spark):
    bench = _docs(spark, [(100, "alpha beta gamma delta epsilon", "en", "s0")])
    train = _docs(
        spark,
        [
            (1, "noise noise alpha beta gamma delta noise", "en", "s0"),
            (2, "completely unrelated words here", "en", "s0"),
        ],
    )
    pairs = corpus.contamination_pairs(train, bench, n=3, min_shared=1).collect()
    assert len(pairs) == 1
    p = pairs[0]
    # shared 3-grams: "alpha beta gamma", "beta gamma delta"
    assert (p["corpus_id"], p["benchmark_id"], p["n_shared"]) == (1, 100, 2)


def test_contamination_short_doc_whole_text_gram(spark):
    bench = _docs(spark, [(100, "tiny doc", "en", "s0")])
    train = _docs(spark, [(1, "tiny doc", "en", "s0")])
    pairs = corpus.contamination_pairs(train, bench, n=8, min_shared=1).collect()
    assert len(pairs) == 1 and pairs[0]["n_shared"] == 1


def test_stratified_sample_deterministic_and_rate_shaped(spark):
    rows = [(i, f"doc {i}", "en" if i % 2 == 0 else "zz", "s0") for i in range(2000)]
    df = _docs(spark, rows)
    out1 = corpus.stratified_sample(df, "lang", {"en": 0.5}, default_rate=0.0)
    got1 = sorted(r["doc_id"] for r in out1.collect())
    got2 = sorted(r["doc_id"] for r in out1.collect())
    assert got1 == got2, "sampling must be deterministic across runs"
    assert all(i % 2 == 0 for i in got1), "default_rate=0 drops the other stratum"
    # rate=0.5 over 1000 en docs: expect roughly half (pseudo-uniform key)
    assert 350 <= len(got1) <= 650


def test_pack_sequences_budget_boundaries(spark):
    # 5 docs x 100 tokens, budget 250: starts at cum 0,100,200,300,400
    # → packs 0,0,0,1,1
    rows = [(i, " ".join(["w"] * 100), "en", "s0") for i in range(5)]
    df = _docs(spark, rows)
    out = corpus.pack_sequences(df, corpus.PackConfig(budget_tokens=250)).collect()
    packs = {r["doc_id"]: r["pack_id"] for r in out}
    assert packs == {0: 0, 1: 0, 2: 0, 3: 1, 4: 1}
    stats = corpus.pack_stats(df, corpus.PackConfig(budget_tokens=250)).collect()
    assert {(r["pack_id"], r["n_docs"], r["pack_tokens"]) for r in stats} == {
        (0, 3, 300),
        (1, 2, 200),
    }


def test_pack_sequences_partition_isolated(spark):
    rows = [(i, " ".join(["w"] * 100), "en", f"s{i % 2}") for i in range(4)]
    df = _docs(spark, rows)
    out = corpus.pack_sequences(df, corpus.PackConfig(budget_tokens=150)).collect()
    by_part = {}
    for r in out:
        by_part.setdefault(r["source"], []).append(r["pack_id"])
    # each source has 2 docs of 100 tokens; second doc starts at 100 < 150? no:
    # starts at cum_prev=100 → pack floor(100/150)=0 — both in pack 0 per source
    assert by_part == {"s0": [0, 0], "s1": [0, 0]}


def test_corpus_mix_report_shares_sum_to_one(spark):
    df = _docs(
        spark,
        [(1, "a b c", "en", "s0"), (2, "d e", "en", "s0"), (3, "f g h i j", "fr", "s1")],
    )
    rows = {r["lang"]: r for r in corpus.corpus_mix_report(df).collect()}
    assert rows["en"]["n_docs"] == 2 and rows["fr"]["n_docs"] == 1
    assert rows["en"]["n_words"] == 5 and rows["fr"]["n_words"] == 5
    assert math.isclose(rows["en"]["doc_share"] + rows["fr"]["doc_share"], 1.0, abs_tol=1e-6)
    assert math.isclose(rows["en"]["word_share"], 0.5, abs_tol=1e-6)


def test_unigram_surprisal_plan_has_no_cartesian_blowup(spark):
    """The totals cross join must be a broadcast of ONE row, not a shuffle."""
    df = _docs(spark, [(1, "a b", "en", "s0"), (2, "b c", "en", "s0")])
    plan = corpus.unigram_surprisal(df)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" in plan


def test_remove_common_lines_cuts_boilerplate(spark):
    boiler = "subscribe to our newsletter"
    rows = [
        (1, f"real content one\n{boiler}\nmore prose", "en", "s0"),
        (2, f"{boiler}\nsecond doc body", "en", "s0"),
        (3, f"third doc text\n{boiler}", "en", "s0"),
        (4, "untouched document\nwith two lines", "en", "s0"),
    ]
    out = {
        r["doc_id"]: r
        for r in corpus.remove_common_lines(_docs(spark, rows), min_freq=3).collect()
    }
    assert out[1]["cleaned_text"] == "real content one\nmore prose"
    assert out[2]["cleaned_text"] == "second doc body"
    assert out[1]["n_lines_removed"] == 1
    assert out[4]["cleaned_text"] == "untouched document\nwith two lines"
    assert out[4]["n_lines_removed"] == 0


def test_remove_common_lines_blank_lines_survive(spark):
    rows = [(i, "para one\n\npara two", "en", "s0") for i in range(5)]
    out = corpus.remove_common_lines(_docs(spark, rows), min_freq=3).collect()
    # the blank separator is common but must never be treated as boilerplate;
    # the actual paragraph lines ARE common (5 occurrences) and get cut,
    # leaving only the blank line (which joins to the empty string)
    for r in out:
        assert r["cleaned_text"] == ""
        assert r["n_lines_removed"] == 2


def test_remove_common_lines_fully_boilerplate_doc(spark):
    rows = [(i, "same line", "en", "s0") for i in range(3)]
    out = corpus.remove_common_lines(_docs(spark, rows), min_freq=3).collect()
    for r in out:
        assert r["cleaned_text"] == "" and r["n_lines_removed"] == 1


def test_temperature_mix_weights(spark):
    """alpha-smoothed mixture: weights sum to 1, small strata upweighted
    relative to their share, the rarest stratum keeps sample_rate 1."""
    from llm_training_data_pipeline_spark.operators.corpus import (
        temperature_mix_weights,
    )

    df = spark.createDataFrame(
        [(i, "en" if i < 90 else "mi") for i in range(100)],
        "doc_id long, lang string",
    )
    rows = {r["stratum"]: r for r in temperature_mix_weights(df, "lang", 0.5).collect()}
    assert abs(rows["en"]["mix_weight"] + rows["mi"]["mix_weight"] - 1.0) < 1e-6
    # alpha<1: the minority stratum's mix share exceeds its raw share
    assert rows["mi"]["mix_weight"] > rows["mi"]["p"]
    assert rows["mi"]["sample_rate"] == 1.0
    assert rows["en"]["sample_rate"] < 1.0


def test_temperature_mix_alpha_one_is_identity(spark):
    from llm_training_data_pipeline_spark.operators.corpus import (
        temperature_mix_weights,
    )

    df = spark.createDataFrame(
        [(i, "a" if i % 3 else "b") for i in range(60)],
        "doc_id long, lang string",
    )
    for r in temperature_mix_weights(df, "lang", alpha=1.0).collect():
        assert abs(r["mix_weight"] - r["p"]) < 1e-6
        assert r["sample_rate"] == 1.0


def test_chunk_documents_overlap_and_coverage(spark):
    """Chunks cover the text exactly with the declared overlap; short
    and empty docs yield one chunk each."""
    from llm_training_data_pipeline_spark.operators.corpus import chunk_documents

    long_text = "".join(chr(ord("a") + (i % 26)) for i in range(2500))
    df = spark.createDataFrame(
        [(1, long_text), (2, "tiny"), (3, "")], "doc_id long, text string"
    )
    out = chunk_documents(df, chunk_chars=1000, overlap_chars=100).collect()
    by_doc: dict = {}
    for r in out:
        by_doc.setdefault(r["doc_id"], []).append(r)
    chunks = sorted(by_doc[1], key=lambda r: r["chunk_id"])
    # stride 900: starts 0, 900, 1800 -> 3 chunks
    assert [c["chunk_id"] for c in chunks] == [0, 1, 2]
    assert all(c["n_chunks"] == 3 for c in chunks)
    assert chunks[0]["chunk_text"] == long_text[:1000]
    assert chunks[1]["chunk_text"] == long_text[900:1900]
    assert chunks[2]["chunk_text"] == long_text[1800:2500]
    # overlap: last 100 chars of chunk k == first 100 of chunk k+1
    assert chunks[0]["chunk_text"][-100:] == chunks[1]["chunk_text"][:100]
    # reassembly without overlaps reproduces the document
    rebuilt = chunks[0]["chunk_text"] + "".join(c["chunk_text"][100:] for c in chunks[1:])
    assert rebuilt == long_text
    assert len(by_doc[2]) == 1 and by_doc[2][0]["chunk_text"] == "tiny"
    assert len(by_doc[3]) == 1 and by_doc[3][0]["chunk_len"] == 0


def test_chunk_documents_rejects_bad_overlap(spark):
    import pytest as _pytest

    from llm_training_data_pipeline_spark.operators.corpus import chunk_documents

    df = spark.createDataFrame([(1, "x")], "doc_id long, text string")
    with _pytest.raises(ValueError):
        chunk_documents(df, chunk_chars=100, overlap_chars=100)


def test_boilerplate_ngrams_document_frequency_semantics(spark):
    """A phrase repeated INSIDE one doc counts once (document frequency,
    not occurrence count); ties at the cut break by gram text; the top-k
    plan is TakeOrderedAndProject, not a full sort."""
    from llm_training_data_pipeline_spark.operators.corpus import boilerplate_ngrams

    rows = [
        (1, "click here click here click here"),     # internal repeats: df 1
        (2, "click here to continue"),
        (3, "click here to continue"),
        (4, "terms of service apply"),
        (5, "terms of service apply"),
        (6, "terms of service apply"),
        (7, "unique prose sentence entirely"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = boilerplate_ngrams(df, n=2, min_count=3, k=3)
    got = [(r["gram"], r["doc_freq"]) for r in out.collect()]
    # "click here": docs 1,2,3 -> 3 (doc 1's three occurrences count once);
    # "of service"/"terms of"/"service apply": docs 4,5,6 -> 3.
    # Four grams tie at 3; k=3 keeps the lexicographically first three.
    assert got == [("click here", 3), ("of service", 3), ("service apply", 3)]
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "TakeOrderedAndProject" in plan


def test_gram_builders_short_and_empty_docs(spark):
    """Docs shorter than n words take the whole-text-gram branch; the
    element_at-based gram construction must never evaluate its (ANSI-
    throwing) out-of-bounds lookups for them."""
    from llm_training_data_pipeline_spark.functions.text import (
        whitespace_tokens,
        word_ngrams_from_tokens,
    )
    from llm_training_data_pipeline_spark.operators.corpus import (
        boilerplate_ngrams,
    )

    rows = [(1, "single"), (2, ""), (3, "two words"), (4, "three word doc")]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    staged = df.select(
        "doc_id", whitespace_tokens(F.lower(F.col("text"))).alias("_toks")
    )
    got = {
        r["doc_id"]: sorted(r["g"])
        for r in staged.select(
            "doc_id", word_ngrams_from_tokens(F.col("_toks"), 2).alias("g")
        ).collect()
    }
    assert got[1] == ["single"]
    assert got[2] == [""]
    assert got[3] == ["two words"]
    assert got[4] == ["three word", "word doc"]
    # heavy-hitter path runs the same branches without error
    out = boilerplate_ngrams(df, n=2, min_count=1, k=10).collect()
    assert ("three word", 1) in {(r["gram"], r["doc_freq"]) for r in out}


def test_corpus_shuffle_deterministic_range_partitioned(spark):
    """The shuffle order is reproducible for a seed, differs across
    seeds, and the plan uses a range exchange (scalable global order),
    never a single-partition sort."""
    from llm_training_data_pipeline_spark.operators.corpus import corpus_shuffle

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    a = [r["doc_id"] for r in corpus_shuffle(docs, seed=1, num_partitions=8).select("doc_id").collect()]
    b = [r["doc_id"] for r in corpus_shuffle(docs, seed=1, num_partitions=8).select("doc_id").collect()]
    c = [r["doc_id"] for r in corpus_shuffle(docs, seed=2, num_partitions=8).select("doc_id").collect()]
    assert a == b                      # same seed -> same global order
    assert a != c                      # new seed -> new permutation
    assert sorted(a) == sorted(c)      # same corpus either way
    assert a != sorted(a)              # actually shuffled
    plan = corpus_shuffle(docs, seed=1, num_partitions=8)._jdf.queryExecution().executedPlan().toString()
    assert "rangepartitioning" in plan.lower()


def test_duplicated_span_stats_fixture(spark):
    """A shared 8-token span is flagged in BOTH docs; unique docs score 0;
    sub-window docs emit zero windows."""
    from llm_training_data_pipeline_spark.operators.corpus import (
        duplicated_span_stats,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    rows = [
        (1, shared + " unique tail one two three"),
        (2, "different head words here " + shared),
        (3, "totally unrelated content with enough tokens to form windows ok"),
        (4, "too short"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {r["doc_id"]: r for r in duplicated_span_stats(df, window=8).collect()}
    assert out[1]["dup_windows"] >= 1 and out[2]["dup_windows"] >= 1
    assert out[3]["dup_windows"] == 0
    assert out[4]["n_windows"] == 0 and out[4]["dup_fraction"] == 0.0
    # windows count: n_tokens - 7
    assert out[1]["n_windows"] == 13 - 7
    # case-folded: the span matches regardless of case
    df2 = spark.createDataFrame(
        [(1, shared.upper() + " x y z a b"), (2, "p q r s " + shared)],
        "doc_id long, text string",
    )
    out2 = {r["doc_id"]: r for r in duplicated_span_stats(df2, window=8).collect()}
    assert out2[1]["dup_windows"] >= 1


def test_duplicated_span_stats_nontrivial_on_testdata(spark):
    """The synthetic corpus contains near/exact duplicate docs, so the
    cross-doc span signal must actually fire (a green hash over an
    all-zeros column would be a vacuous check)."""
    from llm_training_data_pipeline_spark.operators.corpus import (
        duplicated_span_stats,
    )
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    out = duplicated_span_stats(load_table(spark, "documents", SF_DIR), window=8)
    from pyspark.sql import functions as F

    agg = out.agg(
        F.sum("dup_windows").alias("total_dup"),
        F.count(F.when(F.col("dup_fraction") > 0, 1)).alias("docs_with_dups"),
    ).collect()[0]
    assert agg["total_dup"] > 0
    assert agg["docs_with_dups"] >= 2


def test_remove_duplicated_spans_keeps_first_doc(spark):
    from llm_training_data_pipeline_spark.operators.corpus import (
        remove_duplicated_spans,
    )

    shared = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    df = spark.createDataFrame(
        [
            (1, shared + " one two three four five"),
            (2, "p q r s " + shared),
            (3, "independent text with plenty of unique tokens in this row"),
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, window=8).collect()}
    # doc 1 (min id) keeps the span; doc 2 loses exactly those 8 tokens
    assert out[1]["removed_tokens"] == 0
    assert "alpha" in out[1]["clean_text"]
    assert out[2]["removed_tokens"] == 8
    assert out[2]["clean_text"] == "p q r s"
    assert out[3]["removed_tokens"] == 0


def test_remove_duplicated_spans_overlapping_windows(spark):
    """A 10-token shared run = 3 overlapping dup windows; covered
    positions union to the full run, not 3x8 tokens."""
    from llm_training_data_pipeline_spark.operators.corpus import (
        remove_duplicated_spans,
    )

    run = "a1 a2 a3 a4 a5 a6 a7 a8 a9 a10"  # 10 tokens
    df = spark.createDataFrame(
        [(1, run + " tail x y"), (2, "head z " + run)],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r for r in remove_duplicated_spans(df, window=8).collect()}
    assert out[2]["removed_tokens"] == 10
    assert out[2]["clean_text"] == "head z"


def test_pack_token_ids_exact_windows(spark):
    """Concatenation in doc order, fixed windows, exact boundary math:
    every sequence except the last has exactly seq_len tokens, and the
    concatenated stream round-trips token-for-token."""
    from llm_training_data_pipeline_spark.operators.corpus import pack_token_ids

    rows = [
        (1, [int(x) for x in range(10)]),          # 0..9
        (2, [int(x) for x in range(100, 107)]),    # 7 tokens
        (3, [int(x) for x in range(200, 205)]),    # 5 tokens
    ]
    df = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    out = {
        r["seq_id"]: r for r in pack_token_ids(df, seq_len=8).collect()
    }
    stream = list(range(10)) + list(range(100, 107)) + list(range(200, 205))
    assert sorted(out) == [0, 1, 2]
    assert out[0]["input_ids"] == stream[0:8]
    assert out[1]["input_ids"] == stream[8:16]
    assert out[2]["input_ids"] == stream[16:22] and out[2]["n_tokens"] == 6

    # with EOS separators the stream gains one id per doc
    out_eos = {
        r["seq_id"]: r
        for r in pack_token_ids(df, seq_len=8, eos_id=9999).collect()
    }
    stream_eos = (
        list(range(10)) + [9999]
        + list(range(100, 107)) + [9999]
        + list(range(200, 205)) + [9999]
    )
    got = []
    for s in sorted(out_eos):
        got.extend(out_eos[s]["input_ids"])
    assert got == stream_eos


def test_pack_token_ids_partition_invariant(spark):
    """The global positions come from the distributed prefix sum, so the
    packed output must be identical regardless of input partitioning."""
    from llm_training_data_pipeline_spark.operators.corpus import pack_token_ids

    rows = [(i, [int(i * 100 + j) for j in range(1 + i % 7)]) for i in range(60)]
    df1 = spark.createDataFrame(rows, "doc_id long, tokens array<int>")
    df2 = df1.repartition(13)

    def rendered(df):
        return sorted(
            (r["seq_id"], tuple(r["input_ids"]))
            for r in pack_token_ids(df, seq_len=16).collect()
        )

    assert rendered(df1) == rendered(df2)


def test_vocab_stats_hand_computed(spark):
    from llm_training_data_pipeline_spark.operators.corpus import vocab_stats

    df = spark.createDataFrame(
        [(1, "a a b c"), (2, "a d")],
        "doc_id long, text string",
    )
    r = vocab_stats(df).collect()[0]
    # tokens: a a b c a d -> total 6; types a b c d -> 4; hapax b c d -> 3
    assert r["total_tokens"] == 6
    assert r["distinct_types"] == 4
    assert r["hapax_types"] == 3
    assert r["top_type_freq"] == 3  # 'a'
    assert abs(r["type_token_ratio"] - 0.666667) < 1e-9
    assert r["hapax_share"] == 0.75


def test_bigram_surprisal_repetitive_doc_scores_lower(spark):
    df = _docs(
        spark,
        [
            (1, "a b a b a b a b a b", "en", "s0"),
            (2, "a b c d e f g h i j", "en", "s0"),
            (3, "x", "en", "s0"),  # <2 tokens → no bigram evidence
        ],
    )
    out = {r["doc_id"]: r for r in corpus.bigram_surprisal(df).collect()}
    # doc 1's pairs (a,b)/(b,a) repeat corpus-wide → far more predictable
    # than doc 2's all-hapax chain
    assert out[1]["avg_bigram_surprisal"] < out[2]["avg_bigram_surprisal"]
    assert out[1]["n_bigrams"] == 9
    assert out[2]["n_bigrams"] == 9
    assert 3 not in out


def test_bigram_surprisal_hand_checked(spark):
    # one doc "a b a": pairs (a,b),(b,a), each c12=1; c(a)=2, c(b)=1;
    # N=3, V=2 → p(ab)=.75*(1/2)+.25*(2/5); p(ba)=.75*(1/1)+.25*(3/5)
    df = _docs(spark, [(1, "a b a", "en", "s0")])
    row = corpus.bigram_surprisal(df).collect()[0]
    p_ab = 0.75 * (1 / 2) + 0.25 * (2 / 5)
    p_ba = 0.75 * 1.0 + 0.25 * (3 / 5)
    want = (-math.log(p_ab) - math.log(p_ba)) / 2
    assert math.isclose(row["avg_bigram_surprisal"], want, abs_tol=1e-5)


def test_select_token_budget_pruned_equals_definitional(spark):
    from tests.conftest import SF_DIR

    from llm_training_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, "documents", SF_DIR)
    for budget in (200, 600, 10_000_000):
        a = sorted(
            map(tuple, corpus.select_token_budget(docs, budget).collect())
        )
        b = sorted(
            map(
                tuple,
                corpus.select_token_budget(
                    docs, budget, prune_bucket_units=None
                ).collect(),
            )
        )
        assert a == b, f"prune mismatch at budget={budget}"
    # the huge budget keeps every nonzero-token doc
    assert len(a) == docs.count()


def test_select_token_budget_greedy_order(spark):
    # strata s0: doc 1 all-distinct (score 1.0), doc 2 repetitive
    # (score 0.25), each 4 tokens; budget 5 → only the best doc fits
    # (cum would hit 8 > 5 at doc 2).
    df = _docs(
        spark,
        [
            (1, "p q r s", "en", "s0"),
            (2, "t t t t", "en", "s0"),
            (3, "", "en", "s0"),  # zero-token → excluded
        ],
    )
    rows = corpus.select_token_budget(df, 5, strata_col="source").collect()
    assert [(r["doc_id"], r["cum_tokens"]) for r in rows] == [(1, 4)]


def test_tfidf_top_terms_ranks_distinctive_words(spark):
    df = _docs(
        spark,
        [
            (1, "common common apple apple apple", "en", "s0"),
            (2, "common banana", "en", "s0"),
            (3, "common cherry cherry", "en", "s0"),
        ],
    )
    out = corpus.tfidf_top_terms(df, k=1).collect()
    top = {r["doc_id"]: r for r in out}
    # 'common' appears in all 3 docs → idf = ln(1) = 0; the doc-unique
    # word must win in every doc
    assert top[1]["term"] == "apple" and top[1]["tf"] == 3
    assert top[2]["term"] == "banana"
    assert top[3]["term"] == "cherry"
    assert all(r["rank"] == 1 for r in out)
    import math as _m

    assert abs(top[1]["tfidf"] - 3 * _m.log(3)) < 1e-6


def test_tfidf_tie_breaks_by_term(spark):
    # both hapaxes tie on tf·idf → lexicographic term order decides
    df = _docs(spark, [(1, "zeta alpha", "en", "s0"), (2, "filler", "en", "s0")])
    rows = corpus.tfidf_top_terms(df, k=2).filter(F.col("doc_id") == 1).collect()
    assert [r["term"] for r in sorted(rows, key=lambda r: r["rank"])] == [
        "alpha",
        "zeta",
    ]


def test_mixture_epoch_plan_hand_computed(spark):
    # s0: 4 tokens, s1: 8 tokens; weights s0=3, s1=1 → target s0 = 75
    # of 100, s1 = 25; epochs s0 = 75/4 = 18.75, s1 = 25/8 = 3.125
    df = _docs(spark, [(1, "a b c d", "en", "s0"), (2, "e f g h i j k l", "en", "s1")])
    plan = {
        r["source"]: r
        for r in corpus.mixture_epoch_plan(df, {"s0": 3.0}, 100).collect()
    }
    assert plan["s0"]["target_tokens"] == 75 and plan["s1"]["target_tokens"] == 25
    assert plan["s0"]["epochs"] == 18.75
    assert plan["s1"]["epochs"] == 3.125


def test_apply_mixture_plan_copies_and_materialize(spark):
    # one source, 10 tokens available, budget 25 → epochs 2.5: every doc
    # gets 2 copies plus 1 more for half the ids (deterministic)
    rows = [(i, "w x y z v", "en", "s0") for i in range(20)]  # 5 tokens each
    df = _docs(spark, rows)
    out = corpus.apply_mixture_plan(df, {}, 250).collect()
    copies = {r["doc_id"]: r["n_copies"] for r in out}
    assert set(copies.values()) <= {2, 3}
    assert len(copies) == 20
    # 250 budget / 100 available = 2.5 epochs → expected total copies 50
    total = sum(copies.values())
    assert 45 <= total <= 55


def test_apply_mixture_plan_deterministic(spark):
    rows = [(i, "q r s", "en", f"s{i % 3}") for i in range(30)]
    df = _docs(spark, rows)
    a = sorted(map(tuple, corpus.apply_mixture_plan(df, {"s1": 2.0}, 500).collect()))
    b = sorted(map(tuple, corpus.apply_mixture_plan(df, {"s1": 2.0}, 500).collect()))
    assert a == b


def test_dataset_split_deterministic_partitions(spark):
    df = _docs(spark, [(i, f"doc {i}", "en", "s0") for i in range(2000)])
    out = corpus.dataset_split(df)
    a = {r["doc_id"]: r["split"] for r in out.collect()}
    b = {r["doc_id"]: r["split"] for r in out.collect()}
    assert a == b
    counts = {}
    for s in a.values():
        counts[s] = counts.get(s, 0) + 1
    # 5% val / 5% test over a pseudo-uniform key
    assert 50 <= counts.get("val", 0) <= 150
    assert 50 <= counts.get("test", 0) <= 150
    assert counts["train"] == 2000 - counts["val"] - counts["test"]


def test_blocklist_whole_word_and_case(spark):
    df = _docs(
        spark,
        [
            (1, "The Spark engine sparkles", "en", "s0"),  # 'sparkles' ≠ word hit
            (2, "merge then MERGE again", "en", "s0"),
            (3, "clean text only", "en", "s0"),
        ],
    )
    out = {
        r["doc_id"]: r
        for r in corpus.with_blocklist_hits(df, ["spark", "merge"]).collect()
    }
    assert out[1]["blocklist_hits"] == 1  # 'Spark' yes, 'sparkles' no
    assert out[2]["blocklist_hits"] == 2  # case-insensitive
    assert out[3]["blocklist_hits"] == 0 and not out[3]["blocked"]


def test_blocklist_escapes_regex_metachars(spark):
    df = _docs(spark, [(1, "price is $9.99 today", "en", "s0")])
    out = corpus.with_blocklist_hits(df, ["9.99"]).collect()[0]
    assert out["blocklist_hits"] == 1
    out2 = corpus.with_blocklist_hits(df, ["9Z99"]).collect()[0]
    assert out2["blocklist_hits"] == 0  # '.' must not match literally


def test_source_vocab_overlap_hand_computed(spark):
    df = _docs(
        spark,
        [
            (1, "a b c d", "en", "s0"),
            (2, "c d e f", "en", "s1"),   # share {c, d} with s0
            (3, "x y z", "en", "s2"),     # disjoint from both
        ],
    )
    rows = {(r["src_a"], r["src_b"]): r for r in corpus.source_vocab_overlap(df).collect()}
    assert set(rows) == {("s0", "s1")}
    r = rows[("s0", "s1")]
    assert r["n_shared"] == 2 and r["vocab_a"] == 4 and r["vocab_b"] == 4
    # jaccard = 2 / (4+4-2) = 1/3 → half-up 6dp
    assert r["jaccard"] == 0.333333


def test_source_vocab_overlap_identical_sources(spark):
    df = _docs(spark, [(1, "p q r", "en", "sA"), (2, "p q r", "en", "sB")])
    r = corpus.source_vocab_overlap(df).collect()[0]
    assert r["jaccard"] == 1.0


def test_materialize_options_bit_identical(spark):
    """unigram_surprisal's materialize=True (the surprisal_terciles path)
    must never change a result — only the scan count."""
    from tests.conftest import SF_DIR

    from llm_training_data_pipeline_spark.schemas import load_table

    docs = load_table(spark, "documents", SF_DIR)
    lazy = sorted(map(tuple, corpus.unigram_surprisal(docs).collect()))
    mat = sorted(map(tuple, corpus.unigram_surprisal(docs, materialize=True).collect()))
    assert lazy == mat


def test_shard_assignment_balance_and_partition_invariance(spark):
    """Every interior shard lands within one document of target_chars;
    shard ids are monotone over the deterministic layout; and the
    assignment is identical regardless of input partitioning (the
    distributed prefix-sum must not depend on physical layout)."""
    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    target = 20_000
    plan = corpus.shard_assignment(docs, target_chars=target).collect()
    by_shard: dict[int, int] = {}
    for r in plan:
        by_shard[r["shard_id"]] = by_shard.get(r["shard_id"], 0) + r["n_chars"]
    n_shards = max(by_shard) + 1
    assert set(by_shard) == set(range(n_shards)), "shard ids must be contiguous"
    max_doc = max(r["n_chars"] for r in plan)
    for sid, chars in by_shard.items():
        if sid < n_shards - 1:  # interior shards: full within one doc
            assert target - max_doc <= chars < target + max_doc, (sid, chars)
    # partition invariance: 1 vs 7 input partitions, identical assignment
    a = {
        (r["doc_id"], r["shard_id"])
        for r in corpus.shard_assignment(docs.coalesce(1), target_chars=target).collect()
    }
    b = {
        (r["doc_id"], r["shard_id"])
        for r in corpus.shard_assignment(
            docs.repartition(7), target_chars=target
        ).collect()
    }
    assert a == b == {(r["doc_id"], r["shard_id"]) for r in plan}


def test_curriculum_phases_exact_cuts(spark):
    from llm_training_data_pipeline_spark.operators.corpus import curriculum_phases

    df = spark.createDataFrame(
        [(i, float(100 - i)) for i in range(10)], ["doc_id", "score"]
    )
    out = curriculum_phases(df, "score", n_phases=4)
    got = {r.doc_id: r.phase for r in out.collect()}
    # ascending score order is doc_id 9..0; rank r -> phase r*4//10
    order = list(range(9, -1, -1))
    expected = {doc: (rank * 4) // 10 for rank, doc in enumerate(order)}
    assert got == expected


def test_curriculum_phases_partitioning_invariant(spark):
    from llm_training_data_pipeline_spark.operators.corpus import curriculum_phases

    rows = [(i, float(i * 37 % 11)) for i in range(50)]
    a = curriculum_phases(
        spark.createDataFrame(rows, ["doc_id", "score"]).repartition(7),
        "score",
        n_phases=3,
    )
    b = curriculum_phases(
        spark.createDataFrame(rows, ["doc_id", "score"]).coalesce(1),
        "score",
        n_phases=3,
    )
    assert sorted(map(tuple, a.select("doc_id", "phase").collect())) == sorted(
        map(tuple, b.select("doc_id", "phase").collect())
    )


def test_corpus_diff_statuses(spark):
    from llm_training_data_pipeline_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, "a"), (2, "b"), (3, "c")], ["doc_id", "text"]
    )
    new = spark.createDataFrame(
        [(2, "b"), (3, "C2"), (4, "d")], ["doc_id", "text"]
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    assert got == {1: "removed", 2: "unchanged", 3: "changed", 4: "added"}


def test_weighted_sample_monotone_in_weight(spark):
    from llm_training_data_pipeline_spark.operators.corpus import weighted_sample

    rows = [(i, 100 + (i % 5) * 100) for i in range(2000)]
    df = spark.createDataFrame(rows, ["doc_id", "n_chars"])
    from pyspark.sql import functions as F

    w = F.col("n_chars").cast("double") / F.lit(500.0)
    kept = weighted_sample(df, w, base_rate=0.5)
    shares = {
        r.n_chars: r.n
        for r in kept.groupBy("n_chars").agg(F.count(F.lit(1)).alias("n")).collect()
    }
    # higher weight -> higher survival count (monotone across the bands)
    ordered = [shares.get(100 + k * 100, 0) for k in range(5)]
    assert ordered == sorted(ordered)
    assert ordered[0] > 0 and ordered[4] > ordered[0]
    # weight 1.0 at base_rate 0.5 band (n_chars=500): ~half survive
    assert 0.3 < shares[500] / 400 < 0.7
    # determinism: same survivors on a re-run
    again = weighted_sample(df, w, base_rate=0.5)
    assert sorted(r.doc_id for r in kept.collect()) == sorted(
        r.doc_id for r in again.collect()
    )


def test_fim_transform_reconstructs_original(spark):
    from llm_training_data_pipeline_spark.operators.corpus import fim_transform

    rows = [(i, f"abcdefghij-{i:04d}-klmnopqrst") for i in range(40)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r for r in fim_transform(df, rate=1.0).collect()}
    orig = dict(rows)
    for i, r in out.items():
        assert r.fim_applied
        # PSM layout: prefix+suffix+middle re-assembles the original
        body = r.text
        assert body.startswith("<fim_prefix>")
        p, rest = body[len("<fim_prefix>"):].split("<fim_suffix>", 1)
        s, m = rest.split("<fim_middle>", 1)
        assert p + m + s == orig[i]
        assert p  # lo >= 1, so the prefix is never empty (middle may
        # be: the two cut points can coincide)


def test_fim_transform_rate_zero_is_identity(spark):
    from llm_training_data_pipeline_spark.operators.corpus import fim_transform

    rows = [(i, f"text number {i}") for i in range(20)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = fim_transform(df, rate=0.0).collect()
    assert all(not r.fim_applied for r in out)
    assert {r.doc_id: r.text for r in out} == dict(rows)


def test_fim_transform_unicode_safe(spark):
    from llm_training_data_pipeline_spark.operators.corpus import fim_transform

    rows = [
        (1, "héllo wörld — ünïcode tëxt ø¶§ißßüé with àccents"),
        (2, "日本語のテキストですここで切り分けます中身を埋める"),
        (3, "mixed ascii と 日本語 and émojis ☃☔★ test"),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = {r.doc_id: r.text for r in fim_transform(df, rate=1.0).collect()}
    for i, orig in rows:
        body = out[i]
        p, rest = body[len("<fim_prefix>"):].split("<fim_suffix>", 1)
        s, m = rest.split("<fim_middle>", 1)
        assert p + m + s == orig  # codepoint-based cuts reassemble


def test_corpus_diff_null_text_is_presence_based(spark):
    from llm_training_data_pipeline_spark.operators.corpus import corpus_diff

    old = spark.createDataFrame(
        [(1, None), (2, None), (3, "x")], "doc_id long, text string"
    )
    new = spark.createDataFrame(
        [(1, None), (3, None), (4, None)], "doc_id long, text string"
    )
    got = {r.doc_id: r.status for r in corpus_diff(old, new).collect()}
    # null text in both -> unchanged; null vs text -> changed;
    # presence decides added/removed regardless of digest nullness
    assert got == {1: "unchanged", 2: "removed", 3: "changed", 4: "added"}


def test_pmi_collocations_known_values(spark):
    """'new york' repeats as a unit; 'the' pairs with everything — the
    collocation must outrank the stopword bigrams."""
    import math

    rows = [(i, "the new york times covers the new york subway") for i in range(3)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = corpus.pmi_collocations(df, k=5, min_count=2).collect()
    # Nu=27 unigrams, Nb=24 bigrams. The exclusive hapax pair dominates
    # (classic PMI): "times covers" c=3, c_a=c_b=3 →
    # lift = 3*27*27/(3*3*24) = 10.125; every other adjacent pair lands
    # exactly at lift 5.0625 (e.g. "new york" 6*27*27/(6*6*24)) and the
    # tie group orders by (w1, w2): covers the, new york, the new, ...
    assert (out[0]["w1"], out[0]["w2"], out[0]["pair_count"]) == ("times", "covers", 3)
    want = math.floor(math.log((3 * 27 * 27) / (3 * 3 * 24)) * 1e6) / 1e6
    assert abs(out[0]["pmi"] - round(want, 6)) < 1e-9
    tie = math.floor(math.log(5.0625) * 1e6) / 1e6
    assert [(r["w1"], r["w2"]) for r in out[1:4]] == [
        ("covers", "the"),
        ("new", "york"),
        ("the", "new"),
    ]
    assert out[2]["pair_count"] == 6
    assert abs(out[2]["pmi"] - round(tie, 6)) < 1e-9
    assert [r["rank"] for r in out] == [1, 2, 3, 4, 5]


def test_pmi_min_count_gate(spark):
    df = spark.createDataFrame([(0, "alpha beta gamma")], ["doc_id", "text"])
    assert corpus.pmi_collocations(df, min_count=2).count() == 0
    assert corpus.pmi_collocations(df, min_count=1).count() == 2


def test_pmi_collocations_matches_oracle(spark, ddb):
    from llm_training_data_pipeline_spark.plans import oracle
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR, assert_df_matches_oracle

    docs = load_table(spark, "documents", SF_DIR)
    got = corpus.pmi_collocations(docs, k=50, min_count=5)
    assert_df_matches_oracle(got, ddb, oracle.pmi_collocations_sql(k=50, min_count=5))


def test_cap_per_stratum_caps_and_is_deterministic(spark):
    rows = [(i, f"doc {i}", "en", f"s{i % 3}") for i in range(300)]
    df = _docs(spark, rows)
    out1 = sorted(r["doc_id"] for r in corpus.cap_per_stratum(df, cap=7).collect())
    out2 = sorted(r["doc_id"] for r in corpus.cap_per_stratum(df, cap=7).collect())
    assert out1 == out2
    per = {}
    for i in out1:
        per[i % 3] = per.get(i % 3, 0) + 1
    assert per == {0: 7, 1: 7, 2: 7}
    # small strata survive whole
    tiny = _docs(spark, [(1, "a", "en", "s0"), (2, "b", "en", "s0")])
    assert corpus.cap_per_stratum(tiny, cap=7).count() == 2


def test_cap_per_stratum_uses_window_group_limit(spark):
    """The 100 TB contract: row_number<=cap must compile to a
    WindowGroupLimit (map-side per-key pruning BEFORE the shuffle), so a
    billion-page domain ships cap rows, not a billion."""
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    plan = (
        corpus.cap_per_stratum(docs, cap=10)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "WindowGroupLimit" in plan


def test_cap_per_stratum_matches_oracle(spark, ddb):
    from llm_training_data_pipeline_spark.plans import oracle
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR, assert_df_matches_oracle

    docs = load_table(spark, "documents", SF_DIR)
    got = corpus.cap_per_stratum(docs, stratum_col="source", cap=10).select(
        "doc_id", "source"
    )
    assert_df_matches_oracle(got, ddb, oracle.cap_per_stratum_sql(cap=10))


def test_surprisal_terciles_buckets_and_order(spark):
    """head/middle/tail are ~equal thirds per group and ordered by
    surprisal: max(head) <= min(middle) boundary-wise."""
    rows = []
    for i in range(30):
        # 10 clean (repeated common words), 10 mixed, 10 rare-word docs
        if i < 10:
            t = "the cat sat on the mat " * 3
        elif i < 20:
            t = "the cat sat on zyzzyva"
        else:
            t = f"zyzzyva{i} quokka{i} axolotl{i}"
        rows.append((i, t, "en", "s0"))
    df = _docs(spark, rows)
    out = corpus.surprisal_terciles(df, by="lang").collect()
    buckets = {}
    for r in out:
        buckets.setdefault(r["ppl_bucket"], []).append(r["avg_surprisal"])
    assert set(buckets) == {"head", "middle", "tail"}
    assert max(buckets["head"]) <= min(buckets["middle"])
    assert max(buckets["middle"]) <= min(buckets["tail"])
    # clean docs land in head
    head_ids = {r["doc_id"] for r in out if r["ppl_bucket"] == "head"}
    assert set(range(10)) <= head_ids


def test_surprisal_terciles_matches_oracle(spark, ddb):
    from llm_training_data_pipeline_spark.plans import oracle
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR, assert_df_matches_oracle

    docs = load_table(spark, "documents", SF_DIR)
    got = corpus.surprisal_terciles(docs, by="lang")
    assert_df_matches_oracle(got, ddb, oracle.surprisal_terciles_sql(by="lang"))


def test_span_corrupt_reconstructs_original(spark):
    """Splicing the targets back into the inputs at the sentinels must
    reproduce the original text byte-for-byte (incl. unicode)."""
    import re

    rows = [
        (i, ("café δ" + "abcdefghij" * 4 + f" tail{i}"), "en", "s0")
        for i in range(20)
    ]
    df = _docs(spark, rows)
    out = {r["doc_id"]: r for r in corpus.span_corrupt(df, rate=1.0).collect()}
    orig = {i: t for i, t, _l, _s in rows}
    n_corrupted = 0
    for i, r in out.items():
        assert r["corrupted"]
        n_corrupted += 1
        spans = re.findall(
            r"<extra_id_0>(.*?)<extra_id_1>(.*?)<extra_id_2>", r["targets"], re.S
        )[0]
        rebuilt = (
            r["inputs"]
            .replace("<extra_id_0>", spans[0], 1)
            .replace("<extra_id_1>", spans[1], 1)
        )
        assert rebuilt == orig[i], i
        # two sentinel-masked spans of exactly span_len chars
        assert len(spans[0]) == 10 and len(spans[1]) == 10
    assert n_corrupted == 20


def test_span_corrupt_rate_zero_and_short_docs_identity(spark):
    df = _docs(spark, [(1, "x" * 100, "en", "s0"), (2, "short", "en", "s0")])
    out = {r["doc_id"]: r for r in corpus.span_corrupt(df, rate=0.0).collect()}
    assert not out[1]["corrupted"] and out[1]["inputs"] == "x" * 100
    assert out[1]["targets"] == ""
    # under rate=1.0 a doc shorter than 2*span_len still passes through
    out = {r["doc_id"]: r for r in corpus.span_corrupt(df, rate=1.0).collect()}
    assert not out[2]["corrupted"] and out[2]["inputs"] == "short"


def test_rotate_docs_is_rotation_and_identity_cases(spark):
    df = _docs(
        spark,
        [(i, "abcdefghij", "en", "s0") for i in range(10)] + [(100, "x", "en", "s0")],
    )
    out = {r["doc_id"]: r for r in corpus.rotate_docs(df, rate=1.0).collect()}
    for i in range(10):
        r = out[i]
        assert r["rotated"]
        t = r["text"]
        # a rotation of the original: same multiset, found in doubled string,
        # and never the identity rotation (p >= 2)
        assert len(t) == 10 and t != "abcdefghij"
        assert t in "abcdefghijabcdefghij"
    assert not out[100]["rotated"] and out[100]["text"] == "x"
    none = corpus.rotate_docs(df, rate=0.0).collect()
    assert all(not r["rotated"] for r in none)


def test_word_dropout_preserves_order_and_columns(spark):
    df = spark.createDataFrame(
        [(1, "a b c d e f g h i j", "src1"), (2, "one two", "src2")],
        "doc_id long, text string, source string",
    )
    out = {r["doc_id"]: r for r in corpus.word_dropout(df, rate=0.3).collect()}
    # column-preserving contract
    assert out[1]["source"] == "src1" and "n_dropped" in out[1].asDict()
    for doc_id, orig in ((1, "a b c d e f g h i j"), (2, "one two")):
        kept = out[doc_id]["text"].split(" ") if out[doc_id]["text"] else []
        orig_words = orig.split(" ")
        # surviving words keep their relative order (subsequence test)
        it = iter(orig_words)
        assert all(w in it for w in kept), (kept, orig_words)
        assert len(kept) + out[doc_id]["n_dropped"] == len(orig_words)
    # rate 0 is the identity
    none = {r["doc_id"]: r for r in corpus.word_dropout(df, rate=0.0).collect()}
    assert none[1]["text"] == "a b c d e f g h i j" and none[1]["n_dropped"] == 0
    # determinism
    again = {r["doc_id"]: r["text"] for r in corpus.word_dropout(df, rate=0.3).collect()}
    assert again == {k: v["text"] for k, v in out.items()}


def test_dsir_within_equals_two_corpus_ratios(spark):
    """dsir_log_ratios_within (one conditional-count pass) must be
    bit-identical to dsir_log_ratios(df, df.filter(cond)) — the halved
    feature-hash cost cannot change a single unit."""
    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.operators import corpus
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    # a deterministic subset (limit() may pick different rows per job)
    docs = load_table(spark, "documents", SF_DIR).filter(F.col("doc_id") < 200)
    cond = F.col("lang") == "en"
    two = corpus.dsir_log_ratios(docs, docs.filter(cond))
    one = corpus.dsir_log_ratios_within(docs, cond)
    assert sorted(map(tuple, one.collect())) == sorted(map(tuple, two.collect()))


def test_dsir_scores_favor_target_distribution(spark):
    """Docs from the target slice must average a higher importance
    score than the rest — the operator's entire point."""
    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.operators import corpus
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    lr = corpus.dsir_log_ratios_within(docs, F.col("lang") == "en")
    scored = corpus.with_dsir_score(docs, lr).join(
        docs.select("doc_id", "lang"), on="doc_id"
    )
    rows = {
        r["is_en"]: r["avg_per_feat"]
        for r in scored.filter(F.col("n_feats") > 0)
        .groupBy((F.col("lang") == "en").alias("is_en"))
        .agg(
            F.avg(F.col("score_units") / F.col("n_feats")).alias("avg_per_feat")
        )
        .collect()
    }
    assert rows[True] > rows[False], rows


def test_dsir_sample_is_deterministic_and_sized(spark):
    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.operators import corpus
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    lr = corpus.dsir_log_ratios_within(docs, F.col("lang") == "en")
    a = corpus.dsir_sample(docs, lr, k=50).collect()
    b = corpus.dsir_sample(docs, lr, k=50).collect()
    assert len(a) == 50 and sorted(map(tuple, a)) == sorted(map(tuple, b))
    # key = score + gumbel, exactly
    for r in a:
        assert r["key_units"] == r["score_units"] + r["gumbel_units"]


def test_dsir_zero_feature_doc_scores_zero(spark):
    from pyspark.sql import functions as F

    from llm_training_data_pipeline_spark.operators import corpus

    docs = spark.createDataFrame(
        [(1, "hello world hello", "en"), (2, "   ", "de"), (3, "", "en")],
        "doc_id long, text string, lang string",
    )
    lr = corpus.dsir_log_ratios_within(docs, F.col("lang") == "en")
    got = {r["doc_id"]: (r["n_feats"], r["score_units"])
           for r in corpus.with_dsir_score(docs, lr).collect()}
    assert got[2] == (0, 0) and got[3] == (0, 0)
    assert got[1][0] == 5  # 3 unigrams + 2 bigrams


def test_length_bucket_stats_hand_computed(spark):
    # token counts: 1, 2, 3, 5, 8, 0 -> buckets 1, 2, 4, 8, 8, 1
    texts = ["a", "a b", "a b c", "a b c d e", "a b c d e f g h", ""]
    df = spark.createDataFrame([(t,) for t in texts], "text string")
    rows = {r["bucket_len"]: r for r in corpus.length_bucket_stats(df).collect()}
    assert set(rows) == {1, 2, 4, 8}
    assert rows[1]["n_docs"] == 2 and rows[1]["sum_tokens"] == 1
    assert rows[2]["n_docs"] == 1 and rows[2]["sum_tokens"] == 2
    assert rows[4]["n_docs"] == 1 and rows[4]["sum_tokens"] == 3
    assert rows[8]["n_docs"] == 2 and rows[8]["sum_tokens"] == 13
    # bucket 8: padded 16, waste = 1e6*3//16 = 187500
    assert rows[8]["padded_tokens"] == 16
    assert rows[8]["pad_waste_ppm"] == 187500
    # bucket 1 holds the empty doc: padded 2, sum 1 -> 500000
    assert rows[1]["pad_waste_ppm"] == 500000


def test_length_bucket_exact_power_boundary(spark):
    # 4 tokens must land in bucket 4, not 8 (the float-log2 trap the
    # integer bit-length construction avoids)
    df = spark.createDataFrame([("a b c d",), ("a b c d e",)], "text string")
    rows = {r["bucket_len"]: r for r in corpus.length_bucket_stats(df).collect()}
    assert rows[4]["n_docs"] == 1
    assert rows[8]["n_docs"] == 1


def test_remove_dup_paragraphs_first_occurrence_wins(spark):
    df = spark.createDataFrame(
        [
            (1, "intro one\n\nshared boilerplate\n\nbody a"),
            (2, "shared boilerplate\n\nbody b"),
            (3, "body b\n\n\n\nbody c"),
            (4, ""),
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in corpus.remove_dup_paragraphs(df).collect()}
    # doc 1 owns every first occurrence: untouched
    assert rows[1]["text"] == "intro one\n\nshared boilerplate\n\nbody a"
    assert rows[1]["n_paras_removed"] == 0
    # doc 2 loses the boilerplate doc 1 had first, keeps its own body
    assert rows[2]["text"] == "body b"
    assert rows[2]["n_paras_removed"] == 1
    # doc 3 loses "body b" to doc 2; the blank paragraph survives
    assert rows[3]["text"] == "\n\nbody c"
    assert rows[3]["n_paras_removed"] == 1
    # empty doc passes through
    assert rows[4]["text"] == "" and rows[4]["n_paras_removed"] == 0


def test_remove_dup_paragraphs_within_doc(spark):
    df = spark.createDataFrame(
        [(7, "same para\n\nother\n\nsame para")], "doc_id long, text string"
    )
    row = corpus.remove_dup_paragraphs(df).collect()[0]
    assert row["text"] == "same para\n\nother"
    assert row["n_paras_removed"] == 1


def test_ngram_diversity_approx_contract(spark):
    df = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta", "a"),
            (2, "alpha alpha alpha alpha", "b"),
        ],
        "doc_id long, text string, source string",
    )
    rows = {
        (r["n"], r["source"]): r
        for r in corpus.ngram_diversity_approx(df).collect()
    }
    # exact distincts match hand counts; every bound holds at this size
    assert rows[(1, "a")]["distinct_grams"] == 4
    assert rows[(1, "b")]["distinct_grams"] == 1
    assert rows[(2, "a")]["distinct_grams"] == 3  # 3 distinct bigrams
    assert rows[(2, "b")]["distinct_grams"] == 1  # "alpha alpha" only
    assert all(r["within_bound"] is True for r in rows.values())


def test_ngram_diversity_approx_agrees_with_exact(spark):
    docs = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i * 3) % 11} w{i % 5} common tail", "s")
         for i in range(40)],
        "doc_id long, text string, source string",
    )
    exact = {
        (r["n"], r["source"]): r["distinct_grams"]
        for r in corpus.ngram_diversity(docs).collect()
    }
    approx = {
        (r["n"], r["source"]): r["distinct_grams"]
        for r in corpus.ngram_diversity_approx(docs).collect()
    }
    assert exact == approx  # same per-doc-distinct gram construction


def test_ngram_diversity_size_gate_decision():
    # the r8-verdict size gate, pinned on the decision function itself:
    # at-or-below the threshold → exact, above → sketch
    assert corpus._resolve_diversity_mode(500, 20_000) == "exact"
    assert corpus._resolve_diversity_mode(20_000, 20_000) == "exact"
    assert corpus._resolve_diversity_mode(20_001, 20_000) == "approx"
    assert corpus.NGRAM_DIVERSITY_EXACT_MAX_DOCS == 20_000


def test_ngram_diversity_auto_routes_to_sketch_plan(spark):
    # with the threshold forced to 0, auto must take the HLL path:
    # the physical plan carries approx_count_distinct (HLL++ partials,
    # registers-only shuffle), not the exact count_distinct expand
    df = spark.createDataFrame(
        [(i, f"w{i % 7} w{(i * 3) % 11} common", "s") for i in range(30)],
        "doc_id long, text string, source string",
    )
    auto = corpus.ngram_diversity(df, exact_max_docs=0)
    plan = auto._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_count_distinct" in plan
    # same schema as the exact path, and the estimate lands within the
    # 5*rsd contract bound of the exact count at this size
    exact = {
        (r["n"], r["source"]): r
        for r in corpus.ngram_diversity(df, mode="exact").collect()
    }
    approx = {(r["n"], r["source"]): r for r in auto.collect()}
    assert set(exact) == set(approx)
    for key, er in exact.items():
        ar = approx[key]
        assert ar["total_grams"] == er["total_grams"]  # totals are exact
        assert abs(ar["distinct_grams"] - er["distinct_grams"]) <= max(
            1, int(5 * 0.02 * er["distinct_grams"])
        )


def test_ngram_diversity_bad_mode_raises(spark):
    import pytest

    df = spark.createDataFrame([(1, "a b", "s")], "doc_id long, text string, source string")
    with pytest.raises(ValueError, match="mode"):
        corpus.ngram_diversity(df, mode="hll")


def test_bm25_topk_ranking_and_saturation(spark):
    # "apple" appears 1x in doc 0 and 10x in doc 1 (same length docs
    # padded with filler): BM25's tf saturation must rank doc 1 first
    # but at far less than 10x doc 0's score.
    filler = " ".join(f"f{i}" for i in range(20))
    docs = spark.createDataFrame(
        [
            (0, "apple " + filler, "en", "s"),
            (1, " ".join(["apple"] * 10) + " " + filler, "en", "s"),
            (2, filler + " " + filler, "en", "s"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    got = corpus.bm25_topk(docs, terms=["apple"], k=5).collect()
    assert [r.doc_id for r in got] == [1, 0]  # doc 2 never matches
    assert got[0].rank == 1 and got[1].rank == 2
    assert got[0].bm25 > got[1].bm25
    assert got[0].bm25 < 5 * got[1].bm25  # saturated, nowhere near 10x


def test_bm25_topk_absent_term_and_empty_terms(spark):
    docs = _docs(spark, [(0, "alpha beta", "en", "s")])
    assert corpus.bm25_topk(docs, terms=["zzz_missing"], k=3).count() == 0
    import pytest as _pytest

    with _pytest.raises(ValueError):
        corpus.bm25_topk(docs, terms=[])


def test_source_unigram_kl_single_source_is_zero(spark):
    docs = _docs(
        spark,
        [(0, "a b c a", "en", "only"), (1, "b c d", "en", "only")],
    )
    rows = corpus.source_unigram_kl(docs).collect()
    assert len(rows) == 1
    r = rows[0]
    # one source == the corpus: every ratio is exactly 1, ln floored at 0
    assert r.kl_nats == 0.0 and r.n_tokens == 7 and r.vocab == 4


def test_source_unigram_kl_disjoint_sources_positive(spark):
    docs = _docs(
        spark,
        [(0, "xx xx yy", "en", "s1"), (1, "zz ww ww ww", "en", "s2")],
    )
    rows = {r.source: r for r in corpus.source_unigram_kl(docs).collect()}
    # fully disjoint vocabularies: KL(s||corpus) = ln(T/T_s) > 0
    assert rows["s1"].kl_nats > 0 and rows["s2"].kl_nats > 0


def test_oov_rate_split_flags_unseen_vocabulary(spark):
    docs = _docs(
        spark,
        [
            (0, "alpha beta gamma alpha", "en", "s1"),
            (1, "alpha beta", "en", "s1"),
            # held-out slice (ids >= 2)
            (2, "alpha beta novelword", "en", "s1"),
            (3, "zz yy xx", "en", "s2"),
        ],
    )
    rows = {
        r.source: r
        for r in corpus.oov_rate_split(docs, split_id=2, vocab_size=10).collect()
    }
    s1 = rows["s1"]
    assert s1.n_tokens == 3 and s1.oov_tokens == 1
    assert s1.oov_ppm == 333333
    s2 = rows["s2"]  # fully unseen source
    assert s2.oov_tokens == 3 and s2.oov_ppm == 1000000


def test_oov_rate_split_vocab_cap_is_deterministic(spark):
    # vocab_size=1 keeps only the most frequent word; ties broken by word
    docs = _docs(
        spark,
        [(0, "bb aa bb aa", "en", "s"), (2, "aa bb cc", "en", "s")],
    )
    r = corpus.oov_rate_split(docs, split_id=2, vocab_size=1).collect()[0]
    # counts: aa=2, bb=2 -> tie, 'aa' wins (word asc). held-out OOV: bb, cc
    assert r.oov_tokens == 2 and r.n_tokens == 3


def test_doremi_step_upweights_hard_sources(spark):
    """The exponentiated step must move weight TOWARD the source whose
    vocabulary is rarer under the shared unigram LM (positive excess)
    and away from the repetitive one; weights are exact ppm and sum to
    <= 1e6 (floor division)."""
    common = " ".join(["the quick brown fox"] * 25)
    rare = " ".join(f"zq{i}xv{i * 7}" for i in range(100))
    df = spark.createDataFrame(
        [(0, common, "easy"), (1, common, "easy"), (2, rare, "hard"),
         (3, common + " again", "easy")],
        "doc_id long, text string, source string",
    )
    rows = {r["stratum"]: r for r in corpus.doremi_mixture_step(df).collect()}
    assert set(rows) == {"easy", "hard"}
    assert rows["hard"]["excess_milli_nats"] > 0
    assert rows["easy"]["excess_milli_nats"] < 0
    # reference is doc share (1/4 vs 3/4); the step must close the gap
    assert rows["hard"]["ref_ppm"] == 250_000
    assert rows["easy"]["ref_ppm"] == 750_000
    assert rows["hard"]["weight_ppm"] > rows["hard"]["ref_ppm"]
    assert rows["easy"]["weight_ppm"] < rows["easy"]["ref_ppm"]
    total = sum(r["weight_ppm"] for r in rows.values())
    assert 999_990 <= total <= 1_000_000


def test_doremi_step_clip_bounds_factor(spark):
    """clip_nats_milli bounds the exponent: with clip=0 every factor is
    exp(0)=1 and weights equal the reference shares exactly."""
    df = spark.createDataFrame(
        [(0, "aaa bbb", "x"), (1, "zz" * 30 + " yy qq", "y")],
        "doc_id long, text string, source string",
    )
    rows = {
        r["stratum"]: r
        for r in corpus.doremi_mixture_step(df, clip_nats_milli=0).collect()
    }
    for r in rows.values():
        assert r["excess_milli_nats"] == 0
        assert abs(r["weight_ppm"] - r["ref_ppm"]) <= 1


def test_pack_boundaries_tile_each_pack(spark):
    """Within a pack, spans must tile contiguously from offset 0 in
    ordinal order (end_i == start_{i+1}), agree with pack_sequences'
    assignment, and only the straddling last doc may cross the
    budget."""
    docs = spark.createDataFrame(
        [(i, " ".join(["w"] * (3 + i % 4)), "s") for i in range(30)],
        "doc_id long, text string, source string",
    )
    cfg = corpus.PackConfig(budget_tokens=10)
    rows = sorted(
        corpus.pack_boundaries(docs, cfg).collect(),
        key=lambda r: (r["pack_id"], r["pack_ordinal"]),
    )
    assign = {
        r["doc_id"]: r["pack_id"] for r in corpus.pack_sequences(docs, cfg).collect()
    }
    for r in rows:
        assert assign[r["doc_id"]] == r["pack_id"]
        # every doc STARTS inside the budget; only ends may overrun
        # (the straddler then consumes the head of the NEXT pack, so a
        # pack's first member need not start at 0)
        assert 0 <= r["start_offset"] < 10
        assert r["end_offset"] == r["start_offset"] + r["n_tokens"]
    # absolute offsets tile contiguously across the whole stream
    for a, b in zip(rows, rows[1:]):
        abs_end = a["pack_id"] * 10 + a["end_offset"]
        abs_start = b["pack_id"] * 10 + b["start_offset"]
        assert abs_end == abs_start
        if a["pack_id"] == b["pack_id"]:
            assert b["pack_ordinal"] == a["pack_ordinal"] + 1
        else:
            assert b["pack_ordinal"] == 0
    assert rows[0]["pack_ordinal"] == 0 and rows[0]["start_offset"] == 0


def test_unimax_water_filling_semantics(spark):
    """UniMax: small sources cap at max_epochs x their data; big ones
    split the remaining budget uniformly; total allocation stays within
    budget; with a huge budget everyone caps."""
    docs = spark.createDataFrame(
        # tokens per source: tiny=10, small=40, big=400, big2=400
        [(0, " ".join(["w"] * 10), "tiny"), (1, " ".join(["w"] * 40), "small")]
        + [(10 + i, " ".join(["w"] * 40), "big") for i in range(10)]
        + [(30 + i, " ".join(["w"] * 40), "big2") for i in range(10)],
        "doc_id long, text string, source string",
    )
    rows = {
        r["source"]: r
        for r in corpus.unimax_plan(docs, budget_tokens=500,
                                    max_epochs_milli=2000).collect()
    }
    # caps: tiny 20, small 80, big/big2 800 each
    assert rows["tiny"]["cap_tokens"] == 20
    assert rows["tiny"]["alloc_tokens"] == 20  # capped
    assert rows["tiny"]["epochs_milli"] == 2000
    assert rows["small"]["alloc_tokens"] == 80  # capped
    # remaining 400 splits evenly over the two uncapped giants
    assert rows["big"]["alloc_tokens"] == 200
    assert rows["big2"]["alloc_tokens"] == 200
    assert rows["big"]["epochs_milli"] == 500  # half an epoch
    assert sum(r["alloc_tokens"] for r in rows.values()) == 500
    # huge budget: everyone caps, budget unused beyond caps
    rows2 = {
        r["source"]: r
        for r in corpus.unimax_plan(docs, budget_tokens=10_000,
                                    max_epochs_milli=2000).collect()
    }
    for src, r in rows2.items():
        assert r["alloc_tokens"] == r["cap_tokens"], src


def test_ngram_diversity_auto_counts_only_bare_scans(spark):
    """ADVICE r9: auto mode must not execute a derived upstream plan
    just to pick a dispatch path — bare scans count (exact at test
    scale), derived frames go straight to the sketch."""
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR

    docs = load_table(spark, "documents", SF_DIR)
    assert corpus._is_bare_scan(docs)
    assert corpus._is_bare_scan(docs.select("source", "text"))
    derived = docs.join(
        docs.select(F.col("doc_id").alias("doc_id")), on="doc_id"
    )
    assert not corpus._is_bare_scan(derived)
    assert not corpus._is_bare_scan(docs.filter(F.col("doc_id") > 5))
    # derived + auto → approx plan (HLL++ visible in the plan text)
    plan = (
        corpus.ngram_diversity(derived, ns=(1,))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "approx_count_distinct" in plan
    # bare scan + auto at test scale → exact
    plan2 = (
        corpus.ngram_diversity(docs, ns=(1,))
        ._jdf.queryExecution()
        .optimizedPlan()
        .toString()
    )
    assert "approx_count_distinct" not in plan2


def test_global_rank_matches_window_row_number(spark):
    """corpus.global_rank (the distributed prefix-sum rank) must equal a
    single-partition row_number over the same total order — on skewed,
    shuffled input, across multiple partitions, 1-based and dense."""
    import random as _r

    from pyspark.sql import Window

    rng = _r.Random(11)
    rows = [(i, rng.randrange(5)) for i in range(257)]
    rng.shuffle(rows)
    df = spark.createDataFrame(rows, "id long, grp long").repartition(7)
    ranked = corpus.global_rank(
        df, order_by=[F.col("grp").desc(), F.col("id").asc()], rank_col="r"
    )
    got = {r["id"]: r["r"] for r in ranked.collect()}
    want = {
        r["id"]: r["r"]
        for r in df.withColumn(
            "r",
            F.row_number()
            .over(Window.orderBy(F.col("grp").desc(), F.col("id").asc()))
            .cast("long"),
        ).collect()
    }
    assert got == want
    assert sorted(got.values()) == list(range(1, 258))

    # the weighted prefix sum under it: the exclusive running sum of a
    # non-constant weight equals a single-partition window's, at any
    # input partitioning, and its total is the plain sum
    order = [F.col("grp").desc(), F.col("id").asc()]
    want_sum = {
        r["id"]: r["s"]
        for r in df.withColumn(
            "s",
            F.coalesce(
                F.sum(F.col("id") % 13).over(
                    Window.orderBy(*order).rowsBetween(
                        Window.unboundedPreceding, -1
                    )
                ),
                F.lit(0),
            ),
        ).collect()
    }
    for n_parts in (1, 7, 16):
        out, total = corpus._prefix_sum(
            df.repartition(n_parts), order, F.col("id") % 13, "s"
        )
        assert {r["id"]: r["s"] for r in out.collect()} == want_sum
        assert total == sum(i % 13 for i in range(257))
    empty, total = corpus._prefix_sum(
        spark.createDataFrame([], "id long, grp long"), order, F.lit(1), "s"
    )
    assert empty.count() == 0 and total == 0 and "s" in empty.columns


def test_global_rank_empty_frame(spark):
    df = spark.createDataFrame([], "id long, grp long")
    out = corpus.global_rank(df, order_by=[F.col("id")], rank_col="r")
    assert out.count() == 0
    assert "r" in out.columns


def test_eval_holdout_decontaminates_and_keeps_quota(spark):
    """Quota candidates by deterministic key; a candidate with a twin in
    train is rejected (digest disjointness); twins WITHIN the candidate
    set both stay (no train-side leak); deterministic across runs."""
    rows = []
    for i in range(40):
        rows.append((i, f"unique doc {i}", "s0"))
    # 100/101: identical twins — one will land in candidates, one in train
    rows.append((100, "twin text", "s1"))
    rows.append((101, "twin text", "s1"))
    for i in range(110, 120):
        rows.append((i, f"s1 filler {i}", "s1"))
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = corpus.eval_holdout(df, per_source=5)
    c = {r["doc_id"]: r for r in out.collect()}
    assert len(c) == len(rows)
    evals = {k for k, r in c.items() if r["split"] == "eval"}
    # quota respected per source
    by_src = {}
    for k in evals:
        by_src.setdefault(c[k]["source"], 0)
        by_src[c[k]["source"]] += 1
    assert all(v <= 5 for v in by_src.values()), by_src
    # digest disjointness: no eval text equals any train text
    eval_txt = {c[k]["text"].strip().lower() for k in evals}
    train_txt = {
        r["text"].strip().lower() for k, r in c.items() if r["split"] == "train"
    }
    assert not (eval_txt & train_txt)
    # rejected rows carry the reason and sit in train
    rejected = [r for r in c.values() if r["reject_reason"] is not None]
    for r in rejected:
        assert r["split"] == "train"
        assert r["reject_reason"] == "digest_twin_in_train"
    # determinism
    again = {r["doc_id"]: r["split"] for r in corpus.eval_holdout(df, per_source=5).collect()}
    assert again == {k: r["split"] for k, r in c.items()}


def test_eval_holdout_twins_inside_candidates_both_stay(spark):
    """If BOTH twins are candidates (nt == nc), neither leaks to train —
    they stay eval together."""
    rows = [(1, "same text", "s"), (2, "same text", "s")]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = {r["doc_id"]: r for r in corpus.eval_holdout(df, per_source=5).collect()}
    assert out[1]["split"] == "eval" and out[2]["split"] == "eval"
    assert out[1]["reject_reason"] is None


def test_eval_holdout_rate_mode_growth_stable(spark):
    """ADVICE r10: quota sampling is deterministic per snapshot but not
    growth-stable; rate mode must be — candidacy depends only on the
    row's own id, so ingesting new docs never moves an existing
    candidate out of eval."""
    base = [(i, f"unique doc number {i}", "s0") for i in range(200)]
    df = spark.createDataFrame(base, "doc_id long, text string, source string")
    first = {
        r["doc_id"]: r["split"]
        for r in corpus.eval_holdout(df, rate_permille=100).collect()
    }
    evals = {k for k, v in first.items() if v == "eval"}
    assert evals, "rate 10% of 200 docs should yield some eval rows"
    # grow the corpus: 200 new docs with fresh unique text
    grown = base + [(i, f"unique doc number {i}", "s1") for i in range(1000, 1200)]
    df2 = spark.createDataFrame(grown, "doc_id long, text string, source string")
    second = {
        r["doc_id"]: r["split"]
        for r in corpus.eval_holdout(df2, rate_permille=100).collect()
    }
    # every original row keeps its split (no twin texts involved)
    for k, v in first.items():
        assert second[k] == v, (k, v, second[k])
    # decontamination still applies in rate mode: a new train-side twin
    # demotes the candidate (leak-safe direction)
    an_eval = min(evals)
    with_twin = grown + [(5000, f"unique doc number {an_eval}", "s1")]
    df3 = spark.createDataFrame(
        with_twin, "doc_id long, text string, source string"
    )
    third = {r["doc_id"]: r for r in corpus.eval_holdout(df3, rate_permille=100).collect()}
    assert third[an_eval]["split"] == "train"
    assert third[an_eval]["reject_reason"] == "digest_twin_in_train"


def test_eval_holdout_rate_1000_selects_all(spark):
    """ADVICE r11 #3: the threshold is (rate * MOD) // 1000, so the
    nominal rate is honored — rate_permille=1000 must make EVERY row an
    eval candidate (the old rate * (MOD // 1000) form excluded keys
    1000000-1000002)."""
    rows = [(i, f"unique doc number {i}", "s") for i in range(50)]
    df = spark.createDataFrame(rows, "doc_id long, text string, source string")
    out = corpus.eval_holdout(df, rate_permille=1000).collect()
    assert all(r["split"] == "eval" for r in out)


def test_eval_holdout_rate_mode_validation(spark):
    df = spark.createDataFrame(
        [(1, "t", "s")], "doc_id long, text string, source string"
    )
    import pytest as _pytest

    with _pytest.raises(ValueError, match="rate_permille"):
        corpus.eval_holdout(df, rate_permille=0)
    with _pytest.raises(ValueError, match="rate_permille"):
        corpus.eval_holdout(df, rate_permille=1001)
