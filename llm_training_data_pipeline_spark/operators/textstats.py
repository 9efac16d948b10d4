"""Text-analysis operators (engine extensions for LLM data pipelines).

These go beyond the reference's surface (BASELINE.json north star): language
identification, token counting, quality scoring, and document fingerprinting
— all as native column expressions so they run at 100 TB as plain codegen'd
scans (no Python, no shuffle).

The reference's language check (Q9) wraps ``langdetect``
(/root/reference/src/processing/quality_filter.py:243-252); that library is
not available here, so ``lang_id`` is a deterministic stopword/char-class
profile heuristic — 30 stopword profiles (en fr es de pt it nl tr pl sv id
ro da fi cs hu ca af cy et hr lt lv no sk sl so sq sw tl) plus 24 script
classes (ja zh ru ko ar hi th el he vi bn ta te ml kn gu pa si my km lo ka
am hy) with within-script refinement (Cyrillic → ru/uk/bg/mk/sr, Arabic →
ar/fa/ur, Devanagari → hi/mr/ne), 62 languages total — a superset of
langdetect's 55-language domain except the zh-cn/zh-tw split (both emit
``zh``; Han-variant detection needs a codepoint inventory, not a class).
Same API position, documented substitution, testable and SQL-expressible.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.functions.text import (
    char_shingles,
    strip_ws,
    whitespace_tokens,
    word_count,
)

# Stopword profiles. \b word boundaries work in Java regex and RE2 alike
# (both ASCII \w, so profiles stay accent-free to avoid boundary drift).
LANG_PROFILES: dict[str, str] = {
    "en": r"\b(the|and|of|to|in|is|was|that|it|for|with|are|this|have)\b",
    "fr": r"\b(le|la|les|des|du|et|est|une|dans|que|pour|avec|sur|pas)\b",
    "es": r"\b(el|los|las|del|y|es|una|en|que|por|para|con|su|como)\b",
    "de": r"\b(der|die|das|und|ist|ein|eine|nicht|mit|von|zu|den|auf|für)\b",
    "pt": r"\b(do|da|dos|das|uma|mais|muito|pelo|pela|isso|ele|os|em|se)\b",
    "it": r"\b(il|lo|gli|della|delle|nel|nella|anche|sono|questo|ma|come|dei|alla)\b",
    "nl": r"\b(het|een|van|dat|niet|zijn|voor|maar|ook|aan|bij|naar|heeft|wordt)\b",
    "tr": r"\b(bir|ve|bu|ile|olarak|daha|gibi|ama|olan|sonra|kadar|ben|sen|ne)\b",
    "pl": r"\b(nie|jest|jak|ale|przez|tylko|bardzo|jego|tego|oraz|czy|dla|przy|lub)\b",
    "sv": r"\b(och|att|det|som|av|med|den|till|inte|har|ett|om|han|hon)\b",
    "id": r"\b(yang|dan|di|dengan|untuk|dari|ini|itu|pada|adalah|tidak|akan|juga|atau)\b",
    # r6 widening — accent-free function words only (see \b note above)
    "ro": r"\b(care|este|sunt|pentru|dar|sau|mai|acest|fost|unde|foarte|ani|fie|spre)\b",
    "da": r"\b(og|det|til|er|som|af|ikke|der|men|hvad|kan|skal|efter|hvor)\b",
    "fi": r"\b(ja|on|ei|oli|mutta|kun|niin|jos|vain|kanssa|mukaan|jotka|ovat|hyvin)\b",
    "cs": r"\b(je|se|na|to|ale|jako|pro|tak|nebo|aby|byl|jsou|jsem|kdy)\b",
    "hu": r"\b(az|hogy|nem|egy|van|mint|meg|csak|mert|vagy|ez|ki|volt|lehet)\b",
    "ca": r"\b(els|les|amb|per|com|una|dels|aquest|molt|fins|seva|aquesta|tot|cap)\b",
    # r7 widening to langdetect's full Latin-script domain (quality_filter
    # .py:243-252 spec): accent-free function words only, chosen to be
    # distinctive against the near-neighbour already in the table
    # (af vs nl, no vs da/sv, sk vs cs, hr vs cs, et vs fi, sl vs hr/cs)
    "af": r"\b(die|nie|vir|ons|hulle|baie|wat|jy|hy|sy|ek|word|om|te)\b",
    "cy": r"\b(mae|yn|wedi|gyda|bod|eich|ydy|iawn|ond|hefyd|neu|fel|cael|ei)\b",
    "et": r"\b(ja|on|ei|et|see|oli|oma|aga|ning|kui|seda|ka|mis|siis)\b",
    "hr": r"\b(su|za|da|ili|nije|koji|koja|bio|samo|nego|kako|jer|vrlo|ove)\b",
    "lt": r"\b(ir|yra|kad|tai|bet|kaip|buvo|jis|su|nuo|taip|arba|apie|jau)\b",
    "lv": r"\b(un|ir|ka|par|bet|kas|tas|ar|no|uz|vai|tika|lai|tam)\b",
    "no": r"\b(og|det|er|som|av|ikke|fra|jeg|han|med|til|ble|eller|etter)\b",
    "sk": r"\b(sa|aj|ako|alebo|bol|som|pre|kde|ich|ale|na|to|tak|pri)\b",
    "sl": r"\b(je|in|se|da|so|ki|pa|tudi|ali|kot|bil|smo|lahko|med)\b",
    "so": r"\b(iyo|oo|waa|ku|ka|uu|ay|soo|waxaa|waxa|kale|sida|lagu|kuwa)\b",
    "sq": r"\b(dhe|nga|por|kjo|ky|duke|edhe|sipas|tij|saj|mund|disa|ishte|madhe)\b",
    "sw": r"\b(na|ya|wa|kwa|ni|za|katika|hii|hiyo|kwamba|lakini|pia|sana|yake)\b",
    "tl": r"\b(ang|ng|sa|na|mga|ay|para|hindi|ito|siya|kanyang|naman|lamang|rin)\b",
}
# deterministic argmax tie order (earlier wins); new languages append at
# the end so pre-r7 tie behaviour (and its pinned fixtures) is unchanged
STOPWORD_ORDER = (
    "en", "fr", "es", "de", "pt", "it", "nl", "tr", "pl", "sv", "id",
    "ro", "da", "fi", "cs", "hu", "ca",
    "af", "cy", "et", "hr", "lt", "lv", "no", "sk", "sl", "so", "sq",
    "sw", "tl",
)

# Token-membership form of the stopword battery (r15, guide §1.2 "per-
# task work"): over the LOWERED prefix, ``\b(w1|...|wn)\b`` matches are
# exactly the maximal boundary-word-char runs equal to some wi. Spark's
# Java regex defines the \b word-char set as Unicode
# letter ∪ decimal digit ∪ '_', plus a non-spacing mark (Mn) WHEN its
# base character — the nearest preceding non-Mn — is itself a word char
# (java.util.regex Pattern.Bound: isLetterOrDigit ∥ '_' ∥ Mn-with-word-
# base). NOT the ASCII \w that \W/split uses. Probed empirically on
# this engine (ñ/ï/Lm are word chars for \b; a leading Mn is a
# boundary while an Mn after a letter is not; Mc/Nl/No/Pc/Cf and all
# punctuation are boundaries) and pinned by
# test_stopword_token_form_equals_regex_form incl. a fuzz battery over
# those categories. The separator regex below reproduces the rule
# exactly: a separator is an Mn run at string start (no base), or any
# run of (non-word-non-Mn char + trailing Mn's) — those Mn's have a
# non-word base. Every profile word consists only of letters (incl.
# de's "für": ü ∈ \p{L}), so a \b-match must span a FULL word-char run
# (a partial run leaves a word char on one side, killing the boundary)
# and can never cross runs. Hence regexp_count(lowered, profile) ==
# count of tokens from split(lowered, _WORD_RUN_SPLIT) equal to a
# profile word. Counting membership over ONE staged token array
# replaces 30 alternation-regex passes over the prefix with 30
# hash-set lookups per token (Catalyst rewrites a >10-literal IN to
# INSET). The oracle SQL keeps the regexp_count spelling — equivalence
# is what the hash check proves.
_WORD_RUN_SPLIT = r"\A\p{Mn}+|(?:[^\p{L}\p{Mn}\p{Nd}_]\p{Mn}*)+"
LANG_PROFILE_WORDS: dict[str, tuple[str, ...]] = {}
import re as _re  # noqa: E402

for _lang, _pat in LANG_PROFILES.items():
    assert _pat.startswith(r"\b(") and _pat.endswith(r")\b"), _lang
    _words = tuple(_pat[3:-3].split("|"))
    # every char of every word must be a \b word char (letters only —
    # the full-run equivalence above depends on it)
    assert all(_w and all(ch.isalpha() for ch in _w) for _w in _words), _lang
    LANG_PROFILE_WORDS[_lang] = _words
del _lang, _pat, _words


def _stopword_hits(tokens: Column, lang: str, lowered: Column) -> Column:
    """Stopword occurrence count for one profile: tokens (maximal
    \\b-word-char runs of ``lowered``) in the profile word set — equal
    to the \\b-alternation regexp_count over ``lowered`` (see the
    equivalence note above). ``lowered`` is unused since the r15
    all-words-are-runs proof landed; kept so a future profile word
    with a non-word char can fall back to a residual regex."""
    del lowered
    return F.size(F.filter(tokens, lambda t: t.isin(*LANG_PROFILE_WORDS[lang])))


# Script-class languages: character evidence beats stopword evidence.
# Java spells the classes \p{IsHan}; RE2 (DuckDB oracle) spells them \p{Han}.
# ja is checked BEFORE zh: kanji-heavy Japanese also scores on Han, but any
# meaningful kana presence is decisive for Japanese.
# Vietnamese is Latin-script but its precomposed tone-marked vowels
# (U+1EA0-U+1EF9) plus đ/ơ/ư are unique to it — a reliable "script"
# signal with no regex-engine spelling difference (literal chars work
# identically in Java regex and RE2). ă/â/ê/ô are deliberately excluded
# (Romanian/French share them).
_VI_CHARS = "đơưĐƠƯẠ-ỹ"

SCRIPT_CLASS_SPARK: dict[str, str] = {
    "ja": r"\p{IsHiragana}\p{IsKatakana}",
    "zh": r"\p{IsHan}",
    "ru": r"\p{IsCyrillic}",
    "ko": r"\p{IsHangul}",
    "ar": r"\p{IsArabic}",
    "hi": r"\p{IsDevanagari}",
    "th": r"\p{IsThai}",
    "el": r"\p{IsGreek}",
    "he": r"\p{IsHebrew}",
    "vi": _VI_CHARS,
    # single-script languages (fourth wave, toward langdetect's 55): each
    # Unicode script below maps to one dominant language — the standard
    # script→language assignment every fast LID makes
    "bn": r"\p{IsBengali}",
    "ta": r"\p{IsTamil}",
    "te": r"\p{IsTelugu}",
    "ml": r"\p{IsMalayalam}",
    "kn": r"\p{IsKannada}",
    "gu": r"\p{IsGujarati}",
    "pa": r"\p{IsGurmukhi}",
    "si": r"\p{IsSinhala}",
    "my": r"\p{IsMyanmar}",
    "km": r"\p{IsKhmer}",
    "lo": r"\p{IsLao}",
    "ka": r"\p{IsGeorgian}",
    "am": r"\p{IsEthiopic}",
    "hy": r"\p{IsArmenian}",
}
SCRIPT_CLASS_DUCKDB: dict[str, str] = {
    "ja": r"\p{Hiragana}\p{Katakana}",
    "zh": r"\p{Han}",
    "ru": r"\p{Cyrillic}",
    "ko": r"\p{Hangul}",
    "ar": r"\p{Arabic}",
    "hi": r"\p{Devanagari}",
    "th": r"\p{Thai}",
    "el": r"\p{Greek}",
    "he": r"\p{Hebrew}",
    "vi": _VI_CHARS,
    "bn": r"\p{Bengali}",
    "ta": r"\p{Tamil}",
    "te": r"\p{Telugu}",
    "ml": r"\p{Malayalam}",
    "kn": r"\p{Kannada}",
    "gu": r"\p{Gujarati}",
    "pa": r"\p{Gurmukhi}",
    "si": r"\p{Sinhala}",
    "my": r"\p{Myanmar}",
    "km": r"\p{Khmer}",
    "lo": r"\p{Lao}",
    "ka": r"\p{Georgian}",
    "am": r"\p{Ethiopic}",
    "hy": r"\p{Armenian}",
}
SCRIPT_ORDER = (
    "ja", "zh", "ru", "ko", "ar", "hi", "th", "el", "he", "vi",
    "bn", "ta", "te", "ml", "kn", "gu", "pa", "si", "my", "km",
    "lo", "ka", "am", "hy",
)
SCRIPT_MIN_RATIO = 0.05

# Within-script refinement (langdetect-style granularity): when a script
# class fires, distinctive marker patterns pick the specific language.
# Entry: base script lang → (base-marker pattern, ((refined lang,
# refined-marker pattern), ...)). A refined label wins iff
# count(its markers) > count(base markers) AND ≥ every other refined
# count (ties among refined → earlier wins); otherwise the base label
# stands. Patterns are literal character classes / alternations with
# identical spelling in Java regex and RE2; no \b (ASCII word
# boundaries don't exist inside these scripts), plain occurrence counts
# compare fairly because all candidates share the script.
SCRIPT_REFINEMENTS: dict[str, tuple[str, tuple[tuple[str, str], ...]]] = {
    # Cyrillic: Russian ы/э/ё vs Ukrainian і/ї/є/ґ vs Bulgarian's
    # vowel-ъ (Russian's hard-sign ъ is rare; Bulgarian съм/първи/към
    # make it frequent, and Bulgarian lacks ы/э entirely) vs Macedonian
    # ѓ/ќ/ѕ vs Serbian ђ/ћ (both also lack ы/э/ъ).
    "ru": (
        "[ыэёЫЭЁ]",
        (
            ("uk", "[іїєґІЇЄҐ]"),
            ("bg", "[ъЪ]"),
            ("mk", "[ѓќѕЃЌЅ]"),
            ("sr", "[ђћЂЋ]"),
        ),
    ),
    # Arabic script: Persian پ/چ/ژ/گ (no Arabic counterpart class — a
    # refined majority over zero base marks still needs > 0); Urdu's
    # retroflex ٹ/ڈ/ڑ + noon-ghunna ں + baree-yeh ے are absent from
    # Persian, while Urdu text also contains the Persian four — the
    # ≥-other-refined rule lets the more specific Urdu count win.
    "ar": ("", (("fa", "[پچژگ]"), ("ur", "[ٹڈڑںے]"))),
    # Devanagari: Hindi है/और copulas vs Marathi आहे/आणि + retroflex ळ
    # vs Nepali छन्/भएको and the हरू plural marker.
    "hi": (
        "(है|और)",
        (("mr", "(आहे|आणि|ळ)"), ("ne", "(छन्|भएको|गरेको|हरू)")),
    ),
}

# Language evidence is scored over a fixed document prefix, mirroring the
# reference's text[:1000] (quality_filter.py:250) at 2x the window. This
# bounds per-row regex cost independent of document length — ~20 regex
# passes over a book-length document is a scale-killer, over 2000 chars it
# is constant work. The oracle SQL applies the identical substring.
LANG_ID_PREFIX_CHARS = 2000

# kept for backward compatibility with earlier call sites
HAN_CLASS_SPARK = SCRIPT_CLASS_SPARK["zh"]
HAN_CLASS_DUCKDB = SCRIPT_CLASS_DUCKDB["zh"]

# GPT-2-ish pre-tokenizer, simplified to the Java∩RE2 regex subset
# (no lookahead): contractions | space?letters | space?digits | space?other.
BPE_ISH_TOKEN_REGEX = r"'s|'t|'re|'ve|'m|'ll|'d| ?\p{L}+| ?\p{N}+| ?[^\s\p{L}\p{N}]+"


def lang_scores(
    text: Column,
    *,
    nonascii: Column | None = None,
    tokens: Column | None = None,
) -> dict[str, Column]:
    """Per-language evidence scores (stopword hits per word; script-char
    ratios for the script-class languages).

    Script-char counting uses ``regexp_count`` of the positive class —
    counting matches is cheaper than ``regexp_replace`` building the
    stripped string just to measure it. All evidence is taken from the
    first LANG_ID_PREFIX_CHARS characters (see constant).

    ``nonascii``: an optional pre-staged "contains a non-ASCII char"
    column gating every script-class regex (r14 — the same value-neutral
    gate ``with_lang_id`` stages for the document path: ASCII-only text
    contains zero script chars, so skipping the 24 script passes changes
    nothing). Pass a STAGED attribute so the probe evaluates once per
    row; when omitted, an inline probe per script expression is used.

    ``tokens``: an optional pre-staged \\w-run token array of the
    LOWERED prefix (``split(lower(substring(text, 1, PREFIX)),
    _WORD_RUN_SPLIT)``) feeding the stopword counts (r15 token-
    membership form — see the LANG_PROFILE_WORDS note). Pass a STAGED
    attribute; when omitted the split is built inline and relies on
    Catalyst subexpression elimination to run once per row.
    """
    text = F.substring(text, 1, LANG_ID_PREFIX_CHARS)
    if nonascii is None:
        nonascii = text.rlike(r"[^\x00-\x7F]")
    lowered = F.lower(text)
    if tokens is None:
        tokens = F.split(lowered, _WORD_RUN_SPLIT)
    n_words = word_count(text)
    safe_words = F.when(n_words > 0, n_words.cast("double"))
    scores: dict[str, Column] = {
        lang: (_stopword_hits(tokens, lang, lowered).cast("double") / safe_words)
        for lang in LANG_PROFILE_WORDS
    }
    n_chars = F.length(text)
    safe_chars = F.when(n_chars > 0, n_chars.cast("double"))
    for lang, cls in SCRIPT_CLASS_SPARK.items():
        scores[lang] = (
            F.when(
                nonascii, F.regexp_count(text, F.lit(f"[{cls}]")).cast("double")
            ).otherwise(F.lit(0.0))
            / safe_chars
        )
    for base, (base_pat, refinements) in SCRIPT_REFINEMENTS.items():
        scores[f"_m_{base}"] = (
            F.when(nonascii, F.regexp_count(text, F.lit(base_pat)))
            .otherwise(F.lit(0))
            .cast("long")
            if base_pat
            else F.lit(0)
        )
        for refined, pat in refinements:
            scores[f"_m_{refined}"] = (
                F.when(nonascii, F.regexp_count(text, F.lit(pat)))
                .otherwise(F.lit(0))
                .cast("long")
            )
    return scores


def _lang_cascade(s: dict[str, Column], min_score: float) -> Column:
    """Shared argmax cascade: script languages first (ja > zh > ru on char
    ratio, with within-script refinement per SCRIPT_REFINEMENTS), then the
    highest stopword rate with tie order STOPWORD_ORDER.

    The stopword argmax is ONE ``greatest`` over
    ``struct(score AS v, -i AS o, lang AS l)``, i = position in
    STOPWORD_ORDER. Structs order field by field, so the largest score
    wins, a tie goes to the larger ``o`` (the earlier language), and a
    null score sorts below every non-null one; when every score is null
    ``v`` is null and the row falls through to 'unknown'. This is why it
    is not one CASE branch per language testing ``score == greatest(...)``:
    whole-stage codegen does not share subexpressions across CASE
    branches, so 30 copies of the 30-way ``greatest`` overflow the 64 KB
    method limit, and Spark retries the failed compile on every execution
    before falling back to interpreted code.
    """
    cascade: Column | None = None
    for lang in SCRIPT_ORDER:
        label: Column | str = lang
        if lang in SCRIPT_REFINEMENTS:
            _base_pat, refinements = SCRIPT_REFINEMENTS[lang]
            refined_label: Column | None = None
            for i, (refined, _pat) in enumerate(refinements):
                cnt = s[f"_m_{refined}"]
                cond_r = cnt > s[f"_m_{lang}"]
                for other, _p in refinements[i + 1 :]:
                    cond_r = cond_r & (cnt >= s[f"_m_{other}"])
                refined_label = (
                    F.when(cond_r, F.lit(refined))
                    if refined_label is None
                    else refined_label.when(cond_r, F.lit(refined))
                )
            assert refined_label is not None
            label = refined_label.otherwise(F.lit(lang))
        cond = s[lang] >= F.lit(SCRIPT_MIN_RATIO)
        cascade = F.when(cond, label) if cascade is None else cascade.when(cond, label)
    assert cascade is not None
    best = F.greatest(
        *[
            F.struct(s[lang].alias("v"), F.lit(-i).alias("o"), F.lit(lang).alias("l"))
            for i, lang in enumerate(STOPWORD_ORDER)
        ]
    )
    return cascade.when(best["v"] >= F.lit(min_score), best["l"]).otherwise("unknown")


def lang_id(text: Column, min_score: float = 0.01) -> Column:
    """Argmax language label, 'unknown' when no profile scores ≥ min_score.

    Script evidence (kana/Han/Cyrillic ratio ≥ 5%) is stronger than stopword
    evidence; otherwise the highest stopword rate wins deterministically.
    """
    return _lang_cascade(lang_scores(text), min_score)


def with_lang_id(df: DataFrame, text_col: str = "text", *, out_col: str = "detected_lang") -> DataFrame:
    """Stage per-language scores as columns, then argmax over attributes —
    embedding the regexp_count scores straight into the when-cascade would
    re-evaluate each pattern once per branch (~10x the regex work).

    Two more hot-path cuts (each score expression is its own regex pass
    over the full text, so shared subtrees must be staged, not repeated):
    - ``lower(text)`` and the whitespace word count are staged ONCE and
      shared by all stopword profiles (previously each profile embedded
      its own lower + two splits);
    - the script-class counts (24 languages) are gated behind a single cheap
      non-ASCII probe — ASCII-only documents (the bulk of web corpora)
      skip all script regexes, and ASCII text contains zero script chars
      so the gate is value-neutral (oracle SQL needs no gate).
    """
    min_score = 0.01
    # stage the scoring prefix ONCE: every downstream regex runs over the
    # bounded window, not the full document
    pre = df.select(
        "*",
        F.substring(F.col(text_col), 1, LANG_ID_PREFIX_CHARS).alias("_lid_pref"),
    )
    t = F.col("_lid_pref")
    pre = pre.select(
        "*",
        F.lower(t).alias("_lid_low"),
        word_count(t).alias("_lid_nw"),
        t.rlike(r"[^\x00-\x7F]").alias("_lid_nonascii"),
    )
    # stage the \w-run token array ONCE: the 30 stopword counts are
    # hash-set membership folds over it (r15 token-membership form —
    # exact regexp_count equivalence proven at LANG_PROFILE_WORDS)
    pre = pre.select(
        "*", F.split(F.col("_lid_low"), _WORD_RUN_SPLIT).alias("_lid_toks")
    )
    safe_words = F.when(F.col("_lid_nw") > 0, F.col("_lid_nw").cast("double"))
    n_chars = F.length(t)
    safe_chars = F.when(n_chars > 0, n_chars.cast("double"))
    score_exprs: dict[str, Column] = {
        lang: (
            _stopword_hits(F.col("_lid_toks"), lang, F.col("_lid_low")).cast("double")
            / safe_words
        )
        for lang in LANG_PROFILE_WORDS
    }
    for lang, cls in SCRIPT_CLASS_SPARK.items():
        score_exprs[lang] = (
            F.when(
                F.col("_lid_nonascii"),
                F.regexp_count(t, F.lit(f"[{cls}]")).cast("double"),
            ).otherwise(F.lit(0.0))
            / safe_chars
        )
    for base, (base_pat, refinements) in SCRIPT_REFINEMENTS.items():
        score_exprs[f"_m_{base}"] = (
            F.when(
                F.col("_lid_nonascii"),
                F.regexp_count(t, F.lit(base_pat)).cast("long"),
            ).otherwise(F.lit(0))
            if base_pat
            else F.lit(0)
        )
        for refined, pat in refinements:
            score_exprs[f"_m_{refined}"] = F.when(
                F.col("_lid_nonascii"), F.regexp_count(t, F.lit(pat)).cast("long")
            ).otherwise(F.lit(0))
    staged = pre.select(
        "*", *[col.alias(f"_ls_{lang}") for lang, col in score_exprs.items()]
    )
    s = {lang: F.col(f"_ls_{lang}") for lang in score_exprs}
    return staged.withColumn(out_col, _lang_cascade(s, min_score)).drop(
        "_lid_pref",
        "_lid_low",
        "_lid_nw",
        "_lid_nonascii",
        "_lid_toks",
        *[f"_ls_{lang}" for lang in score_exprs],
    )


# Script-mixing detector classes: the major writing systems, each as a
# (Spark, DuckDB) class pair — same \p{IsX} vs \p{X} spelling split as
# SCRIPT_CLASS_*. Kana merges Hiragana+Katakana (one writing system).
SCRIPT_MIX_CLASSES: dict[str, tuple[str, str]] = {
    "latin": (r"\p{IsLatin}", r"\p{Latin}"),
    "han": (r"\p{IsHan}", r"\p{Han}"),
    "kana": (r"\p{IsHiragana}\p{IsKatakana}", r"\p{Hiragana}\p{Katakana}"),
    "hangul": (r"\p{IsHangul}", r"\p{Hangul}"),
    "cyrillic": (r"\p{IsCyrillic}", r"\p{Cyrillic}"),
    "arabic": (r"\p{IsArabic}", r"\p{Arabic}"),
    "devanagari": (r"\p{IsDevanagari}", r"\p{Devanagari}"),
    "greek": (r"\p{IsGreek}", r"\p{Greek}"),
    "hebrew": (r"\p{IsHebrew}", r"\p{Hebrew}"),
    "thai": (r"\p{IsThai}", r"\p{Thai}"),
}
# deterministic argmax tie order (earlier wins)
SCRIPT_MIX_ORDER = tuple(SCRIPT_MIX_CLASSES)
# a script "counts" toward mixing when it holds >= 1/20 of script chars
SCRIPT_MIX_MIN_SHARE = 20


def with_script_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Script-mixing detector — the mixed-writing-system signal
    (Cyrillic lookalikes in Latin spam, CJK/Latin mashups, injected RTL
    runs) quality pipelines gate on before language ID is trusted.

    Adds per document:

    - ``n_scripts``       — how many major scripts have ≥1 character;
    - ``dominant_script`` — argmax script by char count ('none' when the
      text has no script characters at all), ties by SCRIPT_MIX_ORDER;
    - ``dominant_permille`` — floor(1000 · dominant / total script
      chars): INTEGER arithmetic end-to-end, so the oracle replays it
      bit-for-bit with no float drift;
    - ``script_mixed``    — ≥2 scripts each holding ≥5% of script chars.

    Plan: one ``regexp_count`` per class over the row (codegen'd scan,
    no shuffle, no Python) with counts staged as attributes so the
    argmax cascade references them instead of re-running the regexes.
    """
    t = F.col(text_col)
    staged = df.select(
        "*",
        *[
            F.regexp_count(t, F.lit(f"[{spark_cls}]")).alias(f"_sc_{name}")
            for name, (spark_cls, _d) in SCRIPT_MIX_CLASSES.items()
        ],
    )
    cnts = {name: F.col(f"_sc_{name}") for name in SCRIPT_MIX_ORDER}
    total = sum(list(cnts.values())[1:], list(cnts.values())[0])
    n_scripts = sum(
        (F.when(c > 0, 1).otherwise(0) for c in list(cnts.values())[1:]),
        F.when(list(cnts.values())[0] > 0, 1).otherwise(0),
    ).cast("long")
    best = F.greatest(*cnts.values())
    dominant: Column | None = None
    for name in SCRIPT_MIX_ORDER:
        cond = (best > 0) & (cnts[name] == best)
        dominant = (
            F.when(cond, name) if dominant is None else dominant.when(cond, name)
        )
    assert dominant is not None
    n_big = sum(
        (
            F.when(c * SCRIPT_MIX_MIN_SHARE >= total, 1).otherwise(0)
            for c in list(cnts.values())[1:]
        ),
        F.when(
            list(cnts.values())[0] * SCRIPT_MIX_MIN_SHARE >= total, 1
        ).otherwise(0),
    )
    return staged.select(
        "*",
        n_scripts.alias("n_scripts"),
        dominant.otherwise("none").alias("dominant_script"),
        F.when(total > 0, F.floor(best * 1000 / total))
        .otherwise(F.lit(0))
        .cast("long")
        .alias("dominant_permille"),
        # total>0 guard: a no-script document (digits/punctuation only)
        # has every class trivially passing `c * 20 >= 0`, which would
        # flag it mixed with dominant_permille=0 and get it silently
        # dropped by the pipeline's script_mix_filter (ADVICE r7)
        ((total > 0) & (n_big >= 2)).alias("script_mixed"),
    ).drop(*[f"_sc_{name}" for name in SCRIPT_MIX_ORDER])


def token_count_ws(text: Column) -> Column:
    """Whitespace token count (BIGINT)."""
    return word_count(text)


def token_count_bpe_ish(text: Column) -> Column:
    """Count of GPT-2-ish pre-tokenizer matches (BIGINT) — a fast, trainless
    proxy for 'how many BPE tokens would this be'."""
    return F.regexp_count(text, F.lit(BPE_ISH_TOKEN_REGEX)).cast("long")


def with_token_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    return df.withColumn("n_tokens_ws", token_count_ws(t)).withColumn(
        "n_tokens_bpe_ish", token_count_bpe_ish(t)
    )


def doc_fingerprint(text: Column) -> Column:
    """Exact content fingerprint: md5 of whitespace-normalized lowercase text.

    md5 (not xxhash64) so the DuckDB oracle can reproduce it bit-for-bit.
    """
    norm = F.regexp_replace(F.lower(strip_ws(text)), r"\s+", " ")
    return F.md5(F.encode(norm, "UTF-8"))


def with_fingerprints(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Stage the normalized text before shingling — char_shingles over the
    raw column would re-run the normalize regex per reference."""
    t = F.col(text_col)
    staged = df.withColumn(
        "_fp_norm", F.regexp_replace(F.lower(t), r"\s+", " ")
    )
    k = 8
    shingles = char_shingles(F.col("_fp_norm"), 5, pre_normalized=True)
    digests = F.transform(shingles, lambda s: F.md5(F.encode(s, "UTF-8")))
    return (
        staged.withColumn("fingerprint", doc_fingerprint(t))
        .withColumn("sketch", F.slice(F.array_sort(digests), 1, k))
        .drop("_fp_norm")
    )


def quality_score(text: Column) -> Column:
    """Composite 0-1 quality score: blend of alpha ratio, stopword rate,
    length saturation, and repetition penalty. Native expressions only."""
    from llm_training_data_pipeline_spark.functions.text import (
        alpha_count,
        nonspace_count,
    )

    n_alpha = alpha_count(text)
    n_nonspace = nonspace_count(text)
    alpha_ratio = F.when(n_nonspace > 0, n_alpha / n_nonspace.cast("double")).otherwise(0.0)
    n_words = word_count(text)
    stop_rate = F.when(
        n_words > 0,
        F.regexp_count(F.lower(text), F.lit(LANG_PROFILES["en"])).cast("double")
        / n_words.cast("double"),
    ).otherwise(0.0)
    length_sat = F.least(F.length(text).cast("double") / F.lit(500.0), F.lit(1.0))
    distinct_rate = F.when(
        n_words > 0,
        F.size(F.array_distinct(F.split(F.lower(strip_ws(text)), r"\s+"))).cast("double")
        / n_words.cast("double"),
    ).otherwise(0.0)
    score = (
        F.lit(0.4) * alpha_ratio
        + F.lit(0.2) * F.least(stop_rate * 2, F.lit(1.0))
        + F.lit(0.2) * length_sat
        + F.lit(0.2) * distinct_rate
    )
    return F.round(score, 6)


def with_quality_score(df: DataFrame, text_col: str = "text") -> DataFrame:
    return df.withColumn("quality_score", quality_score(F.col(text_col)))


# ---------------------------------------------------------------------
# Readability (engine extension): Flesch Reading Ease + Flesch-Kincaid
# grade from three native counts — words (whitespace tokens), sentences
# (terminal-punctuation runs, floor 1), syllables (vowel-group runs, the
# standard dictionary-free approximation). One regex pass per count, no
# Python; scores are floor-scaled to 4dp so both engines round
# identically for any sign (round() half-tie behavior is engine-defined,
# floor is not).
# ---------------------------------------------------------------------

SENTENCE_RUN_REGEX = r"[.!?]+"
VOWEL_GROUP_REGEX = r"[aeiouy]+"


def with_readability(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.col(text_col)
    n_words = word_count(t)
    n_sentences = F.greatest(
        F.regexp_count(t, F.lit(SENTENCE_RUN_REGEX)), F.lit(1)
    ).cast("long")
    n_syllables = F.regexp_count(F.lower(t), F.lit(VOWEL_GROUP_REGEX)).cast("long")
    wps = n_words.cast("double") / n_sentences.cast("double")
    spw = F.when(
        n_words > 0, n_syllables.cast("double") / n_words.cast("double")
    ).otherwise(F.lit(0.0))
    ease = F.lit(206.835) - F.lit(1.015) * wps - F.lit(84.6) * spw
    grade = F.lit(0.39) * wps + F.lit(11.8) * spw - F.lit(15.59)
    q4 = lambda c: (F.floor(c * F.lit(10000.0)).cast("long") / F.lit(10000.0))  # noqa: E731
    return (
        df.withColumn("n_words", n_words)
        .withColumn("n_sentences", n_sentences)
        .withColumn("n_syllables", n_syllables)
        .withColumn("flesch_ease", q4(ease))
        .withColumn("fk_grade", q4(grade))
    )


def with_compression_ratio(df: DataFrame, text_col: str = "text") -> DataFrame:
    """zlib compression ratio per document (compressed bytes / utf-8
    bytes, exact 4dp) — the classic cheap redundancy signal: repetitive
    or templated text compresses far below prose, random/garbled bytes
    compress above it (RedPajama/Gopher-adjacent heuristic).

    This is a deliberate Python-path operator: there is no JVM-side
    DEFLATE expression, so it runs as an Arrow-batched pandas UDF
    (zlib releases the GIL; batches compress at memory bandwidth). Not
    SQL-expressible → rows-only correctness, pinned by unit tests.
    Empty/NULL text → NULL ratio.
    """
    from pyspark.sql.types import DoubleType

    @F.pandas_udf(DoubleType())
    def _ratio(texts: pd.Series) -> pd.Series:
        import zlib

        out = []
        for t in texts:
            if t is None:
                out.append(None)
                continue
            raw = t.encode("utf-8")
            if not raw:
                out.append(None)
                continue
            comp = len(zlib.compress(raw, 6))
            # exact half-up 4dp on the byte ratio
            out.append(((comp * 20_000 + len(raw)) // (len(raw) * 2)) / 10_000.0)
        return pd.Series(out, dtype="float64")

    return df.withColumn("compression_ratio", _ratio(F.col(text_col)))


def segment_lang_table(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 40,
    keep_segment: bool = False,
) -> DataFrame:
    """Segment-level language ID (CCNet runs its LID per paragraph; the
    fixture corpus has no paragraph breaks, so segments are fixed
    ``words_per_segment``-word windows of the lowered token stream):
    one row per (id, seg_idx, seg_lang). Mixed-language documents — the
    ones a document-level LID mislabels entirely — show up as multiple
    seg_lang values per id.

    Plan: tokenize once, explode one index range per document
    (O(n_words) total rows), rebuild each window with slice (O(1)
    element refs), then the staged score/argmax cascade per segment.
    Segments are bounded (≤ words_per_segment words), so per-row regex
    cost is constant — the same property LANG_ID_PREFIX_CHARS buys the
    document-level path.
    """
    toks = df.select(
        F.col(id_col),
        whitespace_tokens(F.lower(F.col(text_col))).alias("_toks"),
    ).filter(F.size("_toks") > 0)
    w = int(words_per_segment)
    segs = toks.select(
        id_col,
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.size("_toks") - 1) / F.lit(w)).cast("int"),
            )
        ).alias("seg_idx"),
        F.col("_toks"),
    ).select(
        id_col,
        "seg_idx",
        F.array_join(
            F.slice(F.col("_toks"), F.col("seg_idx") * w + 1, w), " "
        ).alias("_seg"),
    )
    # stage the non-ASCII probe ONCE per segment: every script-class
    # regex in lang_scores gates on it (r14 — ASCII segments, the bulk
    # of web corpora, skip all 24 script passes; value-neutral because
    # ASCII text has zero script chars). Likewise stage the \w-run
    # token array of the (truncated, lowered) segment ONCE: the 30
    # stopword counts are set-membership folds over it (r15; built with
    # the exact recipe lang_scores would use inline — substring then
    # lower then split — so the counts are bit-identical)
    segs = segs.select(
        "*",
        F.col("_seg").rlike(r"[^\x00-\x7F]").alias("_seg_na"),
        F.split(
            F.lower(F.substring(F.col("_seg"), 1, LANG_ID_PREFIX_CHARS)),
            _WORD_RUN_SPLIT,
        ).alias("_seg_toks"),
    )
    scores = lang_scores(
        F.col("_seg"), nonascii=F.col("_seg_na"), tokens=F.col("_seg_toks")
    )
    extra = ["_seg"] if keep_segment else []
    staged = segs.select(
        id_col,
        "seg_idx",
        *extra,
        *[c.alias(f"_s_{k}") for k, c in scores.items()],
    )
    restored = {k: F.col(f"_s_{k}") for k in scores}
    return staged.select(
        id_col,
        "seg_idx",
        *([F.col("_seg").alias("seg")] if keep_segment else []),
        _lang_cascade(restored, min_score=0.01).alias("seg_lang"),
    )


def remove_wrong_lang_segments(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    words_per_segment: int = 40,
) -> DataFrame:
    """Surgical language cleanup (the action CCNet takes after its
    paragraph LID): drop every segment whose detected language differs
    from the document's dominant language, rebuild the text in segment
    order. Returns (id, text, n_segments, n_kept) — documents with all
    segments agreeing pass through with text rebuilt from the same
    lowered token windows (normalization is part of the operator's
    contract, like ``remove_common_lines``).

    Plan: the segment table once, a doc-keyed window for the dominant
    label (doc-sized partitions), a filter, and one order-stable
    rebuild via sort_array(collect_list(struct)) — no second corpus
    scan, no joins beyond the aggregate itself.
    """
    lid = segment_lang_table(
        df, text_col, id_col, words_per_segment, keep_segment=True
    )
    wc = Window.partitionBy(id_col, "seg_lang")
    wrk = Window.partitionBy(id_col).orderBy(
        F.desc("_n"), F.asc("seg_lang")
    )
    labeled = (
        lid.withColumn("_n", F.count(F.lit(1)).over(wc))
        .withColumn("_dom", F.first("seg_lang").over(wrk))
        .withColumn("_total", F.count(F.lit(1)).over(Window.partitionBy(id_col)))
    )
    kept = labeled.filter(F.col("seg_lang") == F.col("_dom"))
    return kept.groupBy(id_col).agg(
        F.array_join(
            F.transform(
                F.sort_array(F.collect_list(F.struct("seg_idx", "seg"))),
                lambda s: s["seg"],
            ),
            " ",
        ).alias(text_col),
        F.max("_total").cast("long").alias("n_segments"),
        F.count(F.lit(1)).cast("long").alias("n_kept"),
    )


# ---------------------------------------------------------------------
# Per-document character entropy (garbage / machine-text signal)
# ---------------------------------------------------------------------

# Fixed 37-symbol alphabet: the text is first projected onto it
# (non-members dropped), so the entropy is over a closed, engine-neutral
# domain — no unicode case-folding or grapheme-split parity risks.
ENTROPY_ALPHABET: str = "abcdefghijklmnopqrstuvwxyz0123456789 "


def char_entropy(text: Column) -> Column:
    """Shannon entropy (nats) of the ASCII-letter/digit/space character
    distribution of ``text`` — low entropy flags repetitive or
    machine-generated text, near-zero flags padding/garbage; a standard
    cheap corpus-quality signal.

    Zero-shuffle by construction: each symbol's count is
    ``length(t) - length(replace(t, c))``, so the whole computation is a
    per-row fold over a 37-literal alphabet — codegen'd expressions, no
    explode, no (doc, char) aggregate, nothing leaves the row. At 100 TB
    this is a plain projection on the scan.

    ``H = ln(n) - (sum_c cnt_c * ln(cnt_c)) / n`` with the inner sum
    accumulated as exact 1e-8 integer units in fixed alphabet order, so
    the result is bit-stable across engines and partitionings (same
    discipline as ``unigram_surprisal``).
    """
    # strip everything outside the alphabet BEFORE lower(): uppercase is
    # mapped in by explicitly listing A-Z in the keep-class, so unicode
    # case-folding (Turkish I, Kelvin sign, ...) never runs
    t = F.lower(F.regexp_replace(text, "[^A-Za-z0-9 ]", ""))
    n = F.length(t)
    terms = []
    for ch in ENTROPY_ALPHABET:
        cnt = (n - F.length(F.replace(t, F.lit(ch), F.lit("")))).cast("long")
        terms.append(
            F.when(
                cnt > 0,
                cnt * F.floor(F.log(cnt.cast("double")) * F.lit(1e8)).cast("long"),
            ).otherwise(F.lit(0).cast("long"))
        )
    s_units = terms[0]
    for term in terms[1:]:
        s_units = s_units + term
    h = F.log(n.cast("double")) - s_units.cast("double") / F.lit(1e8) / n.cast(
        "double"
    )
    return F.when(n <= 1, F.lit(0.0)).otherwise(F.round(h, 6))


def with_char_entropy(df: DataFrame, text_col: str = "text") -> DataFrame:
    t = F.lower(F.regexp_replace(F.col(text_col), "[^A-Za-z0-9 ]", ""))
    return df.withColumn("alpha_chars", F.length(t).cast("long")).withColumn(
        "char_entropy", char_entropy(F.col(text_col))
    )


# Zero-width characters (ZWSP/ZWNJ/ZWJ/WJ/BOM) and bidi controls
# (embeddings, overrides, isolates, LRM/RLM). Unicode category Cf — the
# cleaning stage strips Cc only, so these survive into "clean" text.
ZERO_WIDTH_CLASS = "\u200b\u200c\u200d\u2060\ufeff"
BIDI_CONTROL_CLASS = "\u200e\u200f\u202a-\u202e\u2066-\u2069"


def invisible_char_stats(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source audit of invisible Unicode: zero-width characters and
    bidi controls. Both are classic data-poisoning / spoofing vectors
    (invisible text, reordered rendering — the publicly documented
    "bad characters" attacks) and neither is touched by the Cc-only
    control strip, so a clean-looking corpus can still carry them.
    One codegen'd scan, one hash aggregate on source, exact ppm of
    documents carrying EITHER class.
    """
    zw = F.regexp_count(F.col(text_col), F.lit(f"[{ZERO_WIDTH_CLASS}]")).cast(
        "long"
    )
    bidi = F.regexp_count(
        F.col(text_col), F.lit(f"[{BIDI_CONTROL_CLASS}]")
    ).cast("long")
    per = df.select(
        F.col(source_col).alias("source"),
        (zw > 0).cast("long").alias("_zw_doc"),
        (bidi > 0).cast("long").alias("_bidi_doc"),
        zw.alias("_zw"),
        bidi.alias("_bidi"),
    )
    agg = per.groupBy("source").agg(
        F.count(F.lit(1)).cast("long").alias("n_docs"),
        F.sum("_zw_doc").cast("long").alias("zero_width_docs"),
        F.sum("_bidi_doc").cast("long").alias("bidi_docs"),
        F.sum(
            F.greatest(F.col("_zw_doc"), F.col("_bidi_doc"))
        ).cast("long").alias("_either"),
        F.sum("_zw").cast("long").alias("zero_width_chars"),
        F.sum("_bidi").cast("long").alias("bidi_chars"),
    )
    return agg.select(
        "source",
        "n_docs",
        "zero_width_docs",
        "bidi_docs",
        "zero_width_chars",
        "bidi_chars",
        F.expr("_either * 1000000 div n_docs").alias("flagged_ppm"),
    ).orderBy("source")


# Adjacent Latin<->Cyrillic / Latin<->Greek pairs with no separator:
# the within-word mixed-script shape confusable spoofing produces
# ("pаypal" with a Cyrillic а). Doc-level script_mix can't see it —
# a document can be legitimately bilingual; a WORD almost never is.
_CONF_PAIRS = (
    ("A-Za-z", "Ѐ-ӿ"),
    ("A-Za-z", "Ͱ-Ͽ"),
)
CONFUSABLE_ADJACENCY = "|".join(
    f"[{a}][{b}]|[{b}][{a}]" for a, b in _CONF_PAIRS
)


def confusable_stats(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source homoglyph-spoofing audit: occurrences of script
    switches INSIDE a character run (Latin↔Cyrillic, Latin↔Greek
    adjacency with no separator between them) — the shape confusable
    substitution produces and doc-level script mixing can't flag.
    One regexp scan, one aggregate on source, exact ppm.
    """
    hits = F.regexp_count(
        F.col(text_col), F.lit(CONFUSABLE_ADJACENCY)
    ).cast("long")
    per = df.select(
        F.col(source_col).alias("source"),
        (hits > 0).cast("long").alias("_doc"),
        hits.alias("_hits"),
    )
    return (
        per.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum("_doc").cast("long").alias("confusable_docs"),
            F.sum("_hits").cast("long").alias("confusable_switches"),
        )
        .select(
            "source",
            "n_docs",
            "confusable_docs",
            "confusable_switches",
            F.expr("confusable_docs * 1000000 div n_docs").alias(
                "confusable_ppm"
            ),
        )
        .orderBy("source")
    )


# ---------------------------------------------------------------------
# Code-vs-prose detection (mixture-routing quality signal)
# ---------------------------------------------------------------------

# Shared with oracle.code_detection_sql — both engines run these exact
# patterns (Java regex and RE2 common subset: no lookaround).
CODE_SYMBOL_CLASS = r"[{}\[\]();=<>|&%#]"
CODE_KEYWORD = (
    r"\b(def|class|import|return|function|var|const|void|int|public|"
    r"static|if|else|for|while|lambda|struct|enum|typedef|printf|"
    r"println|self|this|new|null|None|true|false|elif|fn|let|match)\b"
)
CODE_INDENT_LINE = r"(?m)^(?:    |\t)"

# is_code votes: symbols >= 3% of chars, >= 3 keyword hits, >= 20% of
# lines indented — two of three carries it. Transparent and cheap; a
# trained classifier (classify.py's NB over these plus word features)
# is the upgrade path when labels exist.
CODE_SYMBOL_PPM_MIN = 30_000
CODE_KEYWORD_HITS_MIN = 3
CODE_INDENT_PPM_MIN = 200_000


def with_code_signals(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Per-document code-likeness: symbol density, programming-keyword
    hits, indented-line fraction (all exact integer ppm), and the
    two-of-three ``is_code`` vote — the mixture-routing signal a
    training-data pipeline needs before weighting code and prose
    differently (code is upweighted in most modern mixtures, but only
    AFTER being recognized; prose pipelines' quality gates would
    otherwise junk it for "bad punctuation").

    One codegen'd regexp scan per signal, zero shuffles.
    """
    t = F.col(text_col)
    n_chars = F.greatest(F.length(t), F.lit(1)).cast("long")
    n_lines = (F.regexp_count(t, F.lit(r"\n")) + F.lit(1)).cast("long")
    sym = F.regexp_count(t, F.lit(CODE_SYMBOL_CLASS)).cast("long")
    kw = F.regexp_count(t, F.lit(CODE_KEYWORD)).cast("long")
    ind = F.regexp_count(t, F.lit(CODE_INDENT_LINE)).cast("long")
    sym_ppm = F.expr(f"_code_sym * 1000000 div _code_nc")
    ind_ppm = F.expr(f"_code_ind * 1000000 div _code_nl")
    staged = df.withColumns(
        {
            "_code_nc": n_chars,
            "_code_nl": n_lines,
            "_code_sym": sym,
            "_code_kw": kw,
            "_code_ind": ind,
        }
    )
    votes = (
        (sym_ppm >= CODE_SYMBOL_PPM_MIN).cast("int")
        + (F.col("_code_kw") >= CODE_KEYWORD_HITS_MIN).cast("int")
        + (ind_ppm >= CODE_INDENT_PPM_MIN).cast("int")
    )
    return staged.select(
        *df.columns,
        sym_ppm.cast("long").alias("code_symbol_ppm"),
        F.col("_code_kw").alias("code_keyword_hits"),
        ind_ppm.cast("long").alias("code_indent_ppm"),
        (votes >= 2).alias("is_code"),
    )


def code_detection_stats(
    df: DataFrame, text_col: str = "text", source_col: str = "source"
) -> DataFrame:
    """Per-source code-vs-prose report off ``with_code_signals``: doc
    counts, code-flagged ppm, and the mean signal levels — the
    "which sources are secretly code dumps" audit."""
    sig = with_code_signals(df, text_col)
    return (
        sig.groupBy(F.col(source_col).alias("source"))
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_docs"),
            F.sum(F.col("is_code").cast("long")).cast("long").alias("code_docs"),
            F.sum("code_symbol_ppm").cast("long").alias("_sym_sum"),
            F.sum("code_keyword_hits").cast("long").alias("keyword_hits"),
        )
        .select(
            "source",
            "n_docs",
            "code_docs",
            F.expr("code_docs * 1000000 div n_docs").alias("code_ppm"),
            F.expr("_sym_sum div n_docs").alias("mean_symbol_ppm"),
            "keyword_hits",
        )
        .orderBy("source")
    )
