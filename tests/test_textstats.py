"""Text-analysis operator tests: lang-id fixtures, token counts, fingerprints."""

from __future__ import annotations

from pyspark.sql import functions as F

from llm_training_data_pipeline_spark.operators.textstats import (
    with_fingerprints,
    with_lang_id,
    with_quality_score,
    with_token_counts,
)

FIXTURES = [
    (1, "The cat and the dog are in the house and it is warm for them today.", "en"),
    (2, "Le chat est dans la maison et il est pour les amis dans une salle.", "fr"),
    (3, "El gato es una mascota y los perros del parque son para el niño.", "es"),
    (4, "Der Hund ist ein Tier und die Katze ist nicht mit den Leuten zu Hause.", "de"),
    (5, "今天天气很好我们一起去公园散步吧这是一个美丽的城市", "zh"),
    (6, "xqzt vlk bfg hjw", "unknown"),
    (7, "O menino gosta muito do parque e da praia, mais do que isso ele gosta dos amigos.", "pt"),
    (8, "Il ragazzo cammina nel parco e anche questo è il modo come sono fatti i giorni della vita.", "it"),
    (9, "Сегодня хорошая погода и мы идем гулять в парк этого города.", "ru"),
    (10, "今日は天気がいいので、みんなで公園へ散歩に行きましょう。", "ja"),
    (11, "日本語の文章には漢字とひらがなが混ざっています。", "ja"),  # kanji-heavy, kana decides
    (12, "오늘은 날씨가 좋아서 우리는 공원에 산책하러 갑니다.", "ko"),
    (13, "الطقس جميل اليوم ونحن ذاهبون للتنزه في الحديقة.", "ar"),
    (14, "आज मौसम अच्छा है और हम पार्क में टहलने जा रहे हैं।", "hi"),
    # round-3 widening: 5 new stopword profiles, 3 new script classes
    (15, "Het is een mooie dag en wij gaan naar het park voor een wandeling met elkaar.", "nl"),
    (16, "Bu bir deneme ve biz parka gidiyoruz ama sonra eve kadar beraber olacak.", "tr"),
    (17, "To nie jest bardzo dobry dzien ale przez ten czas tylko dla niego oraz jego rodziny.", "pl"),
    (18, "Det har varit en fin dag och vi ska ta en promenad i parken med den lilla hunden.", "sv"),
    (19, "Hari ini cuaca bagus dan kami akan pergi ke taman untuk berjalan dengan teman ini.", "id"),
    (20, "วันนี้อากาศดีมากเราจะไปเดินเล่นที่สวนสาธารณะกัน", "th"),
    (21, "Σήμερα ο καιρός είναι καλός και πηγαίνουμε για περπάτημα στο πάρκο.", "el"),
    (22, "היום מזג האוויר יפה ואנחנו הולכים לטייל בפארק של העיר.", "he"),
    # round-6 widening: 6 new stopword profiles, vi script class, and
    # within-script refinement (Cyrillic → ru/uk, Arabic → ar/fa)
    (23, "Hôm nay trời đẹp chúng ta cùng đi dạo ở công viên thành phố nhé.", "vi"),
    (24, "Сьогодні гарна погода і ми ідемо гуляти в парк цього міста.", "uk"),
    (25, "امروز هوا خوب است و ما برای پیاده‌روی به پارک می‌رویم، گچ پژ.", "fa"),
    (26, "Acest oras este foarte frumos dar mai sunt multe locuri unde nu am fost pentru ani.", "ro"),
    (27, "Det er en god dag og vi skal ikke til parken men der er tid efter hvad han siger.", "da"),
    (28, "Tänään on hyvä päivä ja me menemme puistoon kävelylle mutta vain jos ei sada.", "fi"),
    (29, "To je dobrý den a my jdeme na procházku do parku ale jen pokud nebo aby bylo hezky.", "cs"),
    (30, "Ez egy nagyon szép nap és mi sétálni megyünk a parkba de csak ha nem esik mert úgy jó.", "hu"),
    (31, "Els nens van amb una bicicleta per la ciutat i aquest parc és molt gran fins al final.", "ca"),
    # round-7 widening to the full langdetect domain: 13 new Latin-script
    # stopword profiles plus Cyrillic → bg/mk/sr, Arabic → ur and
    # Devanagari → mr/ne within-script refinements
    (32, "Die kinders speel nie in die park nie maar hulle is baie bly om vir ons te help.", "af"),
    (33, "Mae y tywydd yn braf heddiw ac rydym wedi bod yn cerdded gyda ein gilydd hefyd.", "cy"),
    (34, "See on ilus päev ja me läheme parki aga ainult kui ei saja ning oma sõpradega.", "et"),
    (35, "Ovo nije dobar dan za njih ali samo zato jer su oni bili tu kako bi vidjeli ove stvari.", "hr"),
    (36, "Tai yra graži diena ir mes einame į parką bet tik jei nelyja kaip buvo sakyta apie tai.", "lt"),
    (37, "Šī ir skaista diena un mēs ejam uz parku bet tikai tad ja nelīst lai tam būtu jēga.", "lv"),
    (38, "Det er en fin dag og vi skal gå en tur i parken men ikke etter at han ble syk eller fra da.", "no"),
    (39, "Toto je pekný deň a my sa ideme prejsť do parku ale len ak nebude pršať pri tom aj bol som tam.", "sk"),
    (40, "To je lep dan in gremo na sprehod v park pa tudi če dežuje ali pa smo lahko med drevesi.", "sl"),
    (41, "Maanta waa maalin wanaagsan oo waxaan ku soo socdaa beerta iyo waxa kale ee lagu arko sida kuwa.", "so"),
    (42, "Kjo ditë është e bukur dhe ne po shkojmë në park por vetëm sipas motit duke ecur edhe me disa.", "sq"),
    (43, "Leo ni siku nzuri na tunakwenda katika bustani kwa sababu hali ya hewa ni nzuri sana pia.", "sw"),
    (44, "Ang panahon ay maganda ngayon at kami ay pupunta sa parke para sa mga bata hindi naman malayo.", "tl"),
    (45, "Днес времето е хубаво и ние отиваме към парка защото първият ден е съвсем добър за съня.", "bg"),
    (46, "Денес времето е убаво и ние одиме во паркот ѕвезда затоа што е првиот ден ќе биде добро ѓон.", "mk"),
    (47, "Данас је време лепо и ми идемо у парк јер је први дан ђак баш добар и ноћ ће бити тиха.", "sr"),
    (48, "آج موسم بہت اچھا ہے اور ہم پارک میں ٹہلنے جا رہے ہیں کیونکہ یہ دن بہت خوبصورت ہے۔", "ur"),
    (49, "आज हवामान चांगले आहे आणि आम्ही बागेत फिरायला जात आहोत कारण हा दिवस सुंदर आहे आणि बाळ खेळते.", "mr"),
    (50, "आज मौसम राम्रो छ र हामीहरू पार्कमा हिँड्न जाँदैछौं किनभने यो दिन राम्रो भएको छन् भनेका हरू।", "ne"),
]


def test_lang_id_fixtures(spark):
    df = spark.createDataFrame(FIXTURES, "doc_id long, text string, expected string")
    rows = with_lang_id(df).select("expected", "detected_lang").collect()
    for r in rows:
        assert r["detected_lang"] == r["expected"], r
    # again with whole-stage codegen on and its fallback off: the session
    # runs with codegen off, which hides a cascade that outgrows the 64 KB
    # method limit (the production session would silently fall back)
    keys = ("spark.sql.codegen.wholeStage", "spark.sql.codegen.fallback")
    saved = {k: spark.conf.get(k) for k in keys}
    try:
        spark.conf.set("spark.sql.codegen.wholeStage", "true")
        spark.conf.set("spark.sql.codegen.fallback", "false")
        rows = with_lang_id(df).select("expected", "detected_lang").collect()
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)
    for r in rows:
        assert r["detected_lang"] == r["expected"], r


def test_script_mix_fixtures(spark):
    from llm_training_data_pipeline_spark.operators.textstats import with_script_mix

    rows = [
        (1, "pure latin text only"),
        (2, "рукопись на кириллице"),
        (3, "Latin with Кириллица mixed half and half почти"),
        (4, "日本語のテキストです"),  # han + kana, kana-heavy
        (5, "1234 !!! ..."),  # no script chars at all
        (6, "english с одним words"),  # light mixing, both >=5%
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {r["doc_id"]: r for r in with_script_mix(df).collect()}
    assert got[1]["dominant_script"] == "latin" and not got[1]["script_mixed"]
    assert got[1]["dominant_permille"] == 1000 and got[1]["n_scripts"] == 1
    assert got[2]["dominant_script"] == "cyrillic" and not got[2]["script_mixed"]
    assert got[3]["script_mixed"] and got[3]["n_scripts"] == 2
    assert got[4]["n_scripts"] == 2  # han + kana
    assert got[5]["dominant_script"] == "none" and got[5]["n_scripts"] == 0
    assert got[5]["dominant_permille"] == 0
    # total=0 guard (ADVICE r7): without it every class passes
    # `c * 20 >= 0` and the doc is flagged mixed-script spam
    assert not got[5]["script_mixed"]
    assert got[6]["script_mixed"]


def test_token_counts(spark):
    df = spark.createDataFrame([(1, "Hello world, it's 42 degrees!")], "id long, text string")
    row = with_token_counts(df).collect()[0]
    assert row["n_tokens_ws"] == 5
    # hello | world | , | ' s? — contraction 's split; digits separate
    assert row["n_tokens_bpe_ish"] >= 6


def test_fingerprint_stable_under_case_and_spacing(spark):
    df = spark.createDataFrame(
        [(1, "The Quick  Brown   Fox"), (2, "the quick brown fox"), (3, "другой текст здесь")],
        "id long, text string",
    )
    rows = with_fingerprints(df).collect()
    assert rows[0]["fingerprint"] == rows[1]["fingerprint"]
    assert rows[0]["fingerprint"] != rows[2]["fingerprint"]
    assert len(rows[0]["sketch"]) >= 1


def test_sketch_overlap_for_near_dups(spark):
    df = spark.createDataFrame(
        [
            (1, "the quick brown fox jumps over the lazy dog near the river bank"),
            (2, "the quick brown fox jumps over the lazy cat near the river bank"),
            (3, "completely different content about orbital mechanics and rocketry"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: set(r["sketch"]) for r in with_fingerprints(df).collect()}
    assert len(rows[1] & rows[2]) > len(rows[1] & rows[3])


def test_quality_score_ranges(spark):
    df = spark.createDataFrame(
        [
            (1, "The development of reliable software systems requires careful attention "
                "to design principles and the testing of practices that the team follows."),
            (2, "@#$% ^&* !!! ???"),
        ],
        "id long, text string",
    )
    rows = {r["id"]: r["quality_score"] for r in with_quality_score(df).collect()}
    assert 0.0 <= rows[2] < rows[1] <= 1.0


def test_lang_histogram_matches_oracle(spark, ddb):
    from tests.conftest import SF_DIR, assert_df_matches_oracle
    from llm_training_data_pipeline_spark.plans.oracle import lang_id_histogram_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    out = with_lang_id(docs).groupBy("detected_lang").agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    assert_df_matches_oracle(out, ddb, lang_id_histogram_sql())


def test_fingerprint_matches_oracle(spark, ddb):
    from tests.conftest import SF_DIR, assert_df_matches_oracle
    from llm_training_data_pipeline_spark.plans.oracle import fingerprint_sql

    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    # same projection as the registered query: join the sketch array so the
    # comparison (and the driver's row-hash) sees a scalar cell
    out = with_fingerprints(docs).select(
        "doc_id", "fingerprint", F.array_join("sketch", ",").alias("sketch")
    )
    assert_df_matches_oracle(out, ddb, fingerprint_sql())


def test_readability_known_values(spark):
    """Hand-computed Flesch/FK on a fixed sentence; degenerate inputs
    stay finite (sentence floor 1, zero-word guard)."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        with_readability,
    )

    df = spark.createDataFrame(
        [
            (1, "The cat sat on the mat. It was happy there!"),
            (2, ""),  # no words, no sentences
            (3, "word"),  # one word, no terminal punctuation
        ],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_readability(df).collect()}
    r1 = rows[1]
    assert r1["n_words"] == 10 and r1["n_sentences"] == 2
    # vowel groups: the(1) cat(1) sat(1) on(1) the(1) mat(1) it(1) was(1)
    # ha-ppy(2: a, y) the-re(2: e, e) = 12
    assert r1["n_syllables"] == 12
    wps, spw = 10 / 2, 12 / 10
    import math

    assert abs(r1["flesch_ease"] - math.floor((206.835 - 1.015 * wps - 84.6 * spw) * 1e4) / 1e4) < 1e-9
    assert abs(r1["fk_grade"] - math.floor((0.39 * wps + 11.8 * spw - 15.59) * 1e4) / 1e4) < 1e-9
    assert rows[2]["n_words"] == 0 and rows[2]["n_sentences"] == 1
    assert rows[2]["flesch_ease"] is not None  # finite, no div-by-zero
    assert rows[3]["n_sentences"] == 1


def test_compression_ratio_orders_redundancy(spark):
    from llm_training_data_pipeline_spark.operators.textstats import (
        with_compression_ratio,
    )

    df = spark.createDataFrame(
        [
            (1, "spam " * 200),                       # highly repetitive
            (2, " ".join(f"w{i}x{i * 7}" for i in range(200))),  # varied
            (3, ""),                                   # empty → NULL
            (4, None),                                 # null → NULL
        ],
        "doc_id long, text string",
    )
    out = {r["doc_id"]: r["compression_ratio"] for r in with_compression_ratio(df).collect()}
    assert out[1] < out[2], "repetitive text must compress better"
    assert out[1] < 0.1
    assert out[3] is None and out[4] is None
    # exact pin: the UDF is deterministic byte arithmetic
    import zlib

    raw = ("spam " * 200).encode()
    want = ((len(zlib.compress(raw, 6)) * 20_000 + len(raw)) // (len(raw) * 2)) / 10_000.0
    assert out[1] == want


def test_segment_lang_table_flags_mixed_docs(spark):
    from llm_training_data_pipeline_spark.operators.textstats import (
        segment_lang_table,
    )

    en = "the cat and the dog are in the house and it is warm " * 4
    fr = "le chat et le chien est dans la maison pour une " * 4
    rows = [
        (1, en + " " + fr),  # mixed: first window en, second fr
        (2, en),             # pure
        (3, "   "),          # empty -> no segments
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    out = segment_lang_table(df, words_per_segment=52)
    got = {(r.doc_id, r.seg_idx): r.seg_lang for r in out.collect()}
    langs_doc1 = {v for (d, _i), v in got.items() if d == 1}
    assert {"en", "fr"} <= langs_doc1
    assert all(v == "en" for (d, _i), v in got.items() if d == 2)
    assert not any(d == 3 for (d, _i) in got)


def test_remove_wrong_lang_segments_surgical(spark):
    from llm_training_data_pipeline_spark.operators.textstats import (
        remove_wrong_lang_segments,
    )

    en = ("the cat and the dog are in the house and it is warm " * 4).split()
    fr = ("le chat et le chien est dans la maison pour une " * 4).split()
    mixed = " ".join(en[:40] + fr[:40] + en[:40])  # en, fr, en windows
    df = spark.createDataFrame([(1, mixed)], ["doc_id", "text"])
    out = remove_wrong_lang_segments(df).collect()[0]
    assert out.n_segments == 3 and out.n_kept == 2
    assert "le chat" not in out.text and out.text.startswith("the cat")


def test_char_entropy_known_values(spark):
    import math

    from llm_training_data_pipeline_spark.operators.textstats import with_char_entropy

    df = spark.createDataFrame(
        [
            (0, "aaaaaaaa"),          # one symbol → 0
            (1, "abababab"),          # two equiprobable → ln 2
            (2, "ABAB abab!!"),       # case folds, '!' dropped: a4 b4 ' '1
            (3, "ééé"),  # entirely outside alphabet → n=0 → 0
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r for r in with_char_entropy(df).collect()}
    assert got[0]["char_entropy"] == 0.0
    assert abs(got[1]["char_entropy"] - round(math.log(2), 6)) < 2e-6
    assert got[2]["alpha_chars"] == 9
    h = math.log(9) - (4 * math.log(4) * 2) / 9
    assert abs(got[2]["char_entropy"] - h) < 2e-6
    assert got[3]["alpha_chars"] == 0 and got[3]["char_entropy"] == 0.0


def test_char_entropy_orders_garbage_below_prose(spark):
    from llm_training_data_pipeline_spark.operators.textstats import with_char_entropy

    df = spark.createDataFrame(
        [
            (0, "the quick brown fox jumps over the lazy dog near rivers"),
            (1, "spam spam spam spam spam spam spam spam spam spam"),
            (2, "xxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxxx"),
        ],
        ["doc_id", "text"],
    )
    got = {r["doc_id"]: r["char_entropy"] for r in with_char_entropy(df).collect()}
    assert got[0] > got[1] > got[2] == 0.0


def test_char_entropy_matches_oracle(spark, ddb):
    from llm_training_data_pipeline_spark.operators.textstats import with_char_entropy
    from llm_training_data_pipeline_spark.plans import oracle
    from llm_training_data_pipeline_spark.schemas import load_table
    from tests.conftest import SF_DIR, assert_df_matches_oracle

    docs = load_table(spark, "documents", SF_DIR)
    got = with_char_entropy(docs).select("doc_id", "alpha_chars", "char_entropy")
    assert_df_matches_oracle(got, ddb, oracle.char_entropy_sql())


def test_script_class_languages_detected(spark):
    """One native-script sample per single-script language (fourth-wave
    widening toward langdetect's 55): each must label as its language."""
    from llm_training_data_pipeline_spark.operators.textstats import with_lang_id

    samples = {
        "bn": "বাংলা ভাষা একটি সুন্দর ভাষা",
        "ta": "தமிழ் ஒரு செம்மொழி ஆகும்",
        "te": "తెలుగు ఒక ద్రావిడ భాష",
        "ml": "മലയാളം കേരളത്തിലെ ഭാഷ",
        "kn": "ಕನ್ನಡ ಕರ್ನಾಟಕದ ಭಾಷೆ",
        "gu": "ગુજરાતી ભાષા સુંદર છે",
        "pa": "ਪੰਜਾਬੀ ਇੱਕ ਭਾਸ਼ਾ ਹੈ",
        "si": "සිංහල ශ්‍රී ලංකාවේ භාෂාවයි",
        "my": "မြန်မာဘာသာ စကားဖြစ်သည်",
        "km": "ភាសាខ្មែរ ជាភាសាកម្ពុជា",
        "lo": "ພາສາລາວ ເປັນພາສາຂອງລາວ",
        "ka": "ქართული ენა საქართველოში",
        "am": "አማርኛ የኢትዮጵያ ቋንቋ ነው",
        "hy": "հայերենը Հայաստանի լեզուն է",
    }
    df = spark.createDataFrame(list(samples.items()), "lang string, text string")
    got = {r["lang"]: r["detected_lang"] for r in with_lang_id(df).collect()}
    assert got == {k: k for k in samples}, got


def test_invisible_char_stats_catches_poisoned_docs(spark):
    from llm_training_data_pipeline_spark.operators.textstats import (
        invisible_char_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "clean prose", "en", "s1"),
            (1, "zero​width‌here", "en", "s1"),  # 2 zw chars
            (2, "bidi ‮attack‬ text", "en", "s1"),  # override+PDF
            (3, "normal", "en", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.source: r for r in invisible_char_stats(docs).collect()}
    s1 = rows["s1"]
    assert s1.zero_width_docs == 1 and s1.zero_width_chars == 2
    assert s1.bidi_docs == 1 and s1.bidi_chars == 2
    assert s1.flagged_ppm == 666666  # 2 of 3 docs carry either class
    s2 = rows["s2"]
    assert s2.flagged_ppm == 0 and s2.zero_width_chars == 0


def test_confusable_stats_flags_homoglyph_words(spark):
    from llm_training_data_pipeline_spark.operators.textstats import (
        confusable_stats,
    )

    docs = spark.createDataFrame(
        [
            (0, "pаypal login", "en", "s1"),  # Cyrillic а inside Latin word
            (1, "clean latin text", "en", "s1"),
            (2, "русский текст and english words", "en", "s1"),  # separated: fine
            (3, "ok", "en", "s2"),
        ],
        "doc_id long, text string, lang string, source string",
    )
    rows = {r.source: r for r in confusable_stats(docs).collect()}
    s1 = rows["s1"]
    assert s1.confusable_docs == 1  # only the homoglyph doc
    # non-overlapping matching: 'pаy' counts once ('pа' consumes
    # the shared char before 'аy' could match) — same in both engines
    assert s1.confusable_switches == 1
    assert s1.confusable_ppm == 333333
    assert rows["s2"].confusable_docs == 0


def test_code_signals_flag_code_not_prose(spark):
    """The two-of-three code vote: a Python snippet (keywords + indent
    + symbols) flags; plain prose and a bullet list do not; an
    empty-ish doc survives the greatest(1) guards."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        with_code_signals,
    )

    code = (
        "def main(argv):\n"
        "    import sys\n"
        "    for i in range(10):\n"
        "        if i % 2 == 0:\n"
        "            print(i)\n"
        "    return 0\n"
        "class Foo:\n"
        "    def bar(self):\n"
        "        return self.x\n"
    )
    prose = (
        "The quick brown fox jumps over the lazy dog. It was a bright "
        "cold day in April, and the clocks were striking thirteen. "
        "Nothing else happened that afternoon in the village."
    )
    bullets = "- one item\n- another item\n- a third item without code"
    df = spark.createDataFrame(
        [(0, code), (1, prose), (2, bullets), (3, "x")],
        "doc_id long, text string",
    )
    rows = {r["doc_id"]: r for r in with_code_signals(df).collect()}
    assert rows[0]["is_code"] is True
    assert rows[0]["code_keyword_hits"] >= 3
    assert rows[0]["code_indent_ppm"] > 500_000
    assert rows[1]["is_code"] is False
    assert rows[2]["is_code"] is False
    assert rows[3]["is_code"] is False
    # ppm fields are exact integers on [0, 1e6]
    for r in rows.values():
        assert 0 <= r["code_symbol_ppm"] <= 1_000_000
        assert 0 <= r["code_indent_ppm"] <= 1_000_000


def test_stopword_token_form_equals_regex_form(spark):
    # r15: the token-membership stopword battery must reproduce
    # regexp_count of the \b-alternation EXACTLY (oracle SQL keeps the
    # regex spelling). Battery: every fixture + adversarial boundary
    # cases (punctuation-glued words, digits/underscore as \w, non-ASCII
    # letters as boundaries, the non-ASCII residual word "für").
    from llm_training_data_pipeline_spark.operators.textstats import (
        LANG_ID_PREFIX_CHARS,
        LANG_PROFILES,
        LANG_PROFILE_WORDS,
        _WORD_RUN_SPLIT,
        _stopword_hits,
    )

    adversarial = [
        (100, "the,the.the;the the2 2the _the the_ theater -the- THE The", "x"),
        (101, "für fur für, xfür fürx für2 _für für.", "x"),
        (102, "und für der die das... und,für und2für ein eine einear", "x"),
        (103, "don't it's l'est d'une señor-the thé the", "x"),
        (104, "", "x"),
        (105, "   ", "x"),
        (106, "a" * 3000 + " the and of", "x"),  # truncation cuts mid-run
        (107, ("the " * 600)[:2500], "x"),  # word split AT the prefix edge
        (108, "ė i̇s the İstanbul İ the", "x"),
        (109, "ni\u00f1o na\u00efve \u00eds the\u00bdand \u2164the \u203fthe a\u00b7the \u0663the the\u30fc", "x"),
    ]
    # fuzz: profile words glued to chars from every probed \b category
    # (word chars: L/Lm/Lo/Mn/Nd/_; boundaries: Mc/Nl/No/Pc/Cf/P/space)
    # -- pins the engine's \b word-char set against _WORD_RUN_SPLIT
    import random

    rng = random.Random(1537)
    pool = list("ae _.,-'2") + [
        "\u00f1", "\u00fc", "\u0301", "\u30fc", "\u02b0", "\u3053",
        "\u216b", "\u00bd", "\u203f", "\u00b7", "\u200d", "\u0903",
        "\u0663", "\u0438", "\u0627",
    ]
    words = ["the", "und", "f\u00fcr", "le", "na", "ni", "og", "je"]
    for i in range(40):
        parts = [
            rng.choice(words) if rng.random() < 0.5 else rng.choice(pool)
            for _ in range(rng.randint(3, 30))
        ]
        adversarial.append((200 + i, "".join(parts), "x"))
    df = spark.createDataFrame(
        FIXTURES + adversarial, "doc_id long, text string, expected string"
    )
    pref = F.substring(F.col("text"), 1, LANG_ID_PREFIX_CHARS)
    low = F.lower(pref)
    toks = F.split(low, _WORD_RUN_SPLIT)
    cols = []
    for lang, pat in LANG_PROFILES.items():
        cols.append(F.regexp_count(low, F.lit(pat)).alias(f"re_{lang}"))
        cols.append(_stopword_hits(toks, lang, low).alias(f"tk_{lang}"))
    rows = df.select("doc_id", *cols).collect()
    for r in rows:
        for lang in LANG_PROFILE_WORDS:
            assert r[f"re_{lang}"] == r[f"tk_{lang}"], (
                r["doc_id"], lang, r[f"re_{lang}"], r[f"tk_{lang}"]
            )
