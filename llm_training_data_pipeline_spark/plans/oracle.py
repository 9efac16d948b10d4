"""DuckDB oracle SQL builders, kept in lock-step with the Spark operators.

Each function returns ANSI-ish SQL that DuckDB runs over the pre-registered
views (region nation customer supplier part orders lineitem events documents
embeddings), producing the SAME columns/values as the corresponding Spark
query in ``__spark_entry__.queries()``. Regex patterns are shared constants
from the operator modules so the two sides cannot drift.

DuckDB uses RE2; Spark uses Java regex. Patterns here are written in the
common subset (no lookaround, no class intersection) and escaped for SQL
single-quoted literals.
"""

from __future__ import annotations

from llm_training_data_pipeline_spark.operators.cleaning import (
    CITATION_PATTERN,
    CONTROL_CHARS,
    EMAIL_PATTERN,
    MULTIPLE_NEWLINES,
    MULTIPLE_SPACES,
    URL_PATTERN,
)
from llm_training_data_pipeline_spark.operators.quality import BOILERPLATE_REGEX, BULLET_LINE_REGEX

STRIP_WS = r"^\s+|\s+$"


def q(pattern: str) -> str:
    """Escape a regex for embedding in a single-quoted SQL literal."""
    return pattern.replace("'", "''")


def units(x: str, scale: int = 4) -> str:
    """Exact integer units for a double expression: floor(x * 10^scale).
    Both engines evaluate the identical IEEE multiply + floor, so the
    result is bit-identical — unlike a double->DECIMAL cast, where Spark
    half-up-rounds the double's shortest decimal repr while DuckDB
    rounds the scaled binary value (they disagree near scale-digit
    boundaries)."""
    # NB: a literal like 10000.0 parses as DECIMAL in both SQL dialects;
    # cast an integer literal to DOUBLE to keep the arithmetic in floats
    return f"CAST(floor(({x}) * CAST({10 ** scale} AS DOUBLE)) AS BIGINT)"


def dsum(x: str, nd: int = 2, scale: int = 4) -> str:
    """Order-independent money sum (mirrors ``queries._dsum``): truncate
    each value to exact 1e-{scale} integer units, sum exactly, then
    half-up round to ``nd`` decimals in integer arithmetic. Every step is
    deterministic regardless of partitioning, merge order, or engine;
    ``round(sum(double), nd)`` is not (float summation order), and
    DECIMAL casts of doubles are not portable (see ``units``). The text
    is valid in both DuckDB and Spark SQL."""
    f = 10 ** (scale - nd)
    return (
        f"(CAST(floor((sum({units(x, scale)}) * 2 + {f}) / CAST({2 * f} AS DOUBLE)) AS BIGINT)"
        f" / CAST({10 ** nd} AS DOUBLE))"
    )


def davg(x: str, nd: int = 4, scale: int = 4, cnt: str | None = None) -> str:
    """Order-independent average (mirrors ``queries._davg``): exact unit
    sum and non-null count, half-up rounded to ``nd`` decimals in integer
    arithmetic (u/n rounded = floor((2u + n*f) / (2nf)) at f units per
    output decimal). ``cnt`` overrides the divisor count expression (use
    'count(*)' when x is known non-null and verbose)."""
    f = 10 ** (scale - nd)
    n = cnt if cnt is not None else f"count({x})"
    return (
        f"(CAST(floor((sum({units(x, scale)}) * 2 + {n} * {f})"
        f" / ({n} * CAST({2 * f} AS DOUBLE))) AS BIGINT) / CAST({10 ** nd} AS DOUBLE))"
    )


def clean_text_sql_expr(col: str = "text") -> str:
    """The C3-C8 chain as one DuckDB expression (C1/C2 excluded — Python)."""
    e = col
    e = f"regexp_replace({e}, '{q(URL_PATTERN)}', ' ', 'g')"
    e = f"regexp_replace({e}, '{q(EMAIL_PATTERN)}', ' ', 'g')"
    e = f"regexp_replace({e}, '{q(CITATION_PATTERN)}', '', 'g')"
    e = f"regexp_replace({e}, '{q(CONTROL_CHARS)}', '', 'g')"
    e = f"regexp_replace({e}, '{q(MULTIPLE_SPACES)}', ' ', 'g')"
    e = f"regexp_replace({e}, '{q(MULTIPLE_NEWLINES)}', chr(10)||chr(10), 'g')"
    e = f"regexp_replace({e}, '{q(STRIP_WS)}', '', 'g')"
    return e


def clean_documents_sql(min_length_chars: int = 100) -> str:
    return f"""
        WITH cleaned AS (
          SELECT doc_id,
                 {clean_text_sql_expr('text')} AS cleaned_text,
                 length(text) AS original_length
          FROM documents
        )
        SELECT doc_id, cleaned_text,
               CAST(length(cleaned_text) AS BIGINT) AS cleaned_length,
               CAST(original_length - length(cleaned_text) AS BIGINT) AS chars_removed
        FROM cleaned
        WHERE length(cleaned_text) >= {min_length_chars}
    """


def cleaning_stats_sql(min_length_chars: int = 100) -> str:
    return f"""
        WITH cleaned AS (
          SELECT doc_id,
                 {clean_text_sql_expr('text')} AS cleaned_text,
                 length(text) AS original_length
          FROM documents
        ), kept AS (
          SELECT *, length(cleaned_text) AS cleaned_length,
                 original_length - length(cleaned_text) AS chars_removed
          FROM cleaned WHERE length(cleaned_text) >= {min_length_chars}
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(original_length) AS BIGINT) AS total_original_chars,
               CAST(sum(cleaned_length) AS BIGINT) AS total_cleaned_chars,
               CAST(sum(chars_removed) AS BIGINT) AS total_chars_removed,
               round(sum(chars_removed) * 100.0 / sum(original_length), 4) AS reduction_pct
        FROM kept
    """


def _quality_scores_cte(
    table: str = "documents", text_col: str = "text", id_cols: str = "doc_id"
) -> str:
    """CTE computing the Q1-Q8 score columns for each row."""
    return f"""
        base AS (
          SELECT {id_cols}, {text_col} AS text,
                 regexp_replace({text_col}, '{q(STRIP_WS)}', '', 'g') AS stext
          FROM {table}
        ), tok AS (
          SELECT *, CASE WHEN stext = '' THEN CAST([] AS VARCHAR[])
                         ELSE regexp_split_to_array(stext, '\\s+') END AS words,
                 string_split(text, chr(10)) AS lines
          FROM base
        ), lineagg AS (
          SELECT *, list_filter(list_transform(lines,
                        x -> regexp_replace(x, '{q(STRIP_WS)}', '', 'g')),
                        x -> x <> '') AS stripped_lines
          FROM tok
        ), scores AS (
          SELECT {id_cols}, text,
            CAST(len(words) AS BIGINT) AS word_count,
            CASE WHEN len(words) > 0
                 THEN CAST(list_sum(list_transform(words, w -> length(w))) AS DOUBLE) / len(words)
                 ELSE 0.0 END AS avg_word_length,
            CAST(length(regexp_replace(text, '[^\\p{{L}}]', '', 'g')) AS BIGINT) AS n_alpha,
            CAST(length(regexp_replace(text, '[^\\p{{Nd}}]', '', 'g')) AS BIGINT) AS n_digit,
            CAST(length(regexp_replace(text, '\\s', '', 'g')) AS BIGINT) AS n_nonspace,
            CAST(len(lines) AS BIGINT) AS n_lines,
            CASE WHEN len(stripped_lines) > 0
                 THEN CAST(list_max(list_transform(list_distinct(stripped_lines),
                        d -> len(list_filter(stripped_lines, x -> x = d)))) AS BIGINT)
                 ELSE 0 END AS most_common_line,
            CAST(len(list_filter(lines, x -> regexp_matches(x, '{q(BULLET_LINE_REGEX)}'))) AS BIGINT) AS bullet_lines,
            CAST(len(regexp_extract_all(text, '{q(BOILERPLATE_REGEX)}')) AS BIGINT) AS boilerplate_matches
          FROM lineagg
        ), ratios AS (
          SELECT {id_cols}, text, word_count, avg_word_length, n_lines, boilerplate_matches,
            CASE WHEN n_nonspace > 0 THEN n_alpha / CAST(n_nonspace AS DOUBLE) END AS alpha_ratio,
            CASE WHEN n_nonspace > 0 THEN n_digit / CAST(n_nonspace AS DOUBLE) END AS digit_ratio,
            CASE WHEN n_nonspace > 0 THEN (n_nonspace - n_alpha - n_digit) / CAST(n_nonspace AS DOUBLE) END AS symbol_ratio,
            CASE WHEN n_lines > 0 THEN most_common_line / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS repetition_ratio,
            CASE WHEN n_lines > 0 THEN bullet_lines / CAST(n_lines AS DOUBLE) ELSE 0.0 END AS bullet_ratio
          FROM scores
        )
    """


def quality_reason_case(
    min_words: int = 50,
    max_words: int = 100_000,
    min_avg_word_length: float = 3.0,
    max_avg_word_length: float = 15.0,
    min_alpha_ratio: float = 0.7,
    max_digit_ratio: float = 0.3,
    max_symbol_ratio: float = 0.2,
    max_repetition_ratio: float = 0.3,
    max_bullet_ratio: float = 0.5,
) -> str:
    return f"""CASE
            WHEN word_count < {min_words} THEN 'too_short'
            WHEN word_count > {max_words} THEN 'too_long'
            WHEN avg_word_length < {min_avg_word_length} THEN 'short_avg_word_length'
            WHEN avg_word_length > {max_avg_word_length} THEN 'long_avg_word_length'
            WHEN alpha_ratio < {min_alpha_ratio} THEN 'low_alpha_ratio'
            WHEN digit_ratio > {max_digit_ratio} THEN 'high_digit_ratio'
            WHEN symbol_ratio > {max_symbol_ratio} THEN 'high_symbol_ratio'
            WHEN n_lines > 1 AND repetition_ratio > {max_repetition_ratio} THEN 'high_repetition'
            WHEN bullet_ratio > {max_bullet_ratio} THEN 'mostly_bullet_list'
            WHEN boilerplate_matches > 3 THEN 'boilerplate_content'
            ELSE 'passed' END"""


def quality_oracle_sql(min_words: int = 50, **kw) -> str:
    return f"""
        WITH {_quality_scores_cte()}
        SELECT doc_id, word_count, avg_word_length, alpha_ratio, digit_ratio,
               symbol_ratio, repetition_ratio, bullet_ratio, boilerplate_matches,
               {quality_reason_case(min_words=min_words, **kw)} AS reason,
               ({quality_reason_case(min_words=min_words, **kw)}) = 'passed' AS passed
        FROM ratios
    """


def quality_histogram_sql(min_words: int = 50, **kw) -> str:
    return f"""
        WITH {_quality_scores_cte()}
        SELECT {quality_reason_case(min_words=min_words, **kw)} AS reason,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM ratios
        GROUP BY 1
    """


def pipeline_e2e_exact_sql(min_length_chars: int = 100, min_words: int = 20) -> str:
    """Full replay of ``plans.pipeline.build_pipeline`` with every stage
    SQL-expressible: regex cleaning (C3-C8; C1/C2 disabled by config) →
    min-length gate → exact dedup (min-id winner per normalized-text md5)
    → quality cascade over the CLEANED text. This is the reference's
    flagship ``LLMDataPipeline.run`` composition (main.py:80-150) as one
    oracle-checked query."""
    return f"""
        WITH cleaned AS (
          SELECT doc_id, {clean_text_sql_expr('text')} AS ctext
          FROM documents
        ), gated AS (
          SELECT doc_id, ctext FROM cleaned
          WHERE length(ctext) >= {min_length_chars}
        ), deduped AS (
          SELECT doc_id, ctext FROM (
            SELECT doc_id, ctext, row_number() OVER (
                     PARTITION BY md5(lower(regexp_replace(ctext, '{q(STRIP_WS)}', '', 'g')))
                     ORDER BY doc_id) AS rn
            FROM gated
          ) WHERE rn = 1
        ), {_quality_scores_cte(table="deduped", text_col="ctext", id_cols="doc_id")}
        SELECT doc_id, text AS final_text,
               CAST(length(text) AS BIGINT) AS final_length
        FROM ratios
        WHERE ({quality_reason_case(min_words=min_words)}) = 'passed'
    """


# --- dedup oracles --------------------------------------------------------


def exact_dedup_sql() -> str:
    """D8: min-id winner per md5(lower(strip(text))) digest."""
    return f"""
        SELECT doc_id, text, lang, source, n_chars FROM (
          SELECT *, row_number() OVER (
                   PARTITION BY md5(lower(regexp_replace(text, '{q(STRIP_WS)}', '', 'g')))
                   ORDER BY doc_id) AS rn
          FROM documents
        ) WHERE rn = 1
    """


def exact_dedup_stats_sql() -> str:
    return f"""
        WITH per_hash AS (
          SELECT md5(lower(regexp_replace(text, '{q(STRIP_WS)}', '', 'g'))) AS h,
                 count(*) AS n
          FROM documents GROUP BY 1
        )
        SELECT CAST(sum(n) AS BIGINT) AS total_documents,
               CAST(count(*) AS BIGINT) AS unique_documents,
               CAST(sum(n) - count(*) AS BIGINT) AS duplicate_documents,
               CAST(sum(CASE WHEN n > 1 THEN 1 ELSE 0 END) AS BIGINT) AS duplicate_clusters
        FROM per_hash
    """


def _word_ngrams_sql(text_expr: str, n: int) -> str:
    toks = (
        f"CASE WHEN regexp_replace(lower({text_expr}), '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(lower({text_expr}), '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    return f"""
        CASE WHEN len({toks}) < {n}
             THEN [array_to_string({toks}, ' ')]
             ELSE list_distinct(list_transform(
                    generate_series(1, len({toks}) - {n} + 1),
                    i -> array_to_string(({toks})[i:i+{n - 1}], ' ')))
        END
    """


def ngram_jaccard_sql(n: int = 2, threshold: float = 0.6, block_col: str = "source") -> str:
    return f"""
        WITH g AS (
          SELECT doc_id, {block_col} AS blk,
                 {_word_ngrams_sql('text', n)} AS grams
          FROM documents
        )
        SELECT a.blk AS {block_col}, a.doc_id AS id_a, b.doc_id AS id_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        FROM g a JOIN g b ON a.blk = b.blk AND a.doc_id < b.doc_id
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))) >= {threshold}
    """


def ngram_jaccard_lsh_sql(
    n: int = 2,
    threshold: float = 0.6,
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_size: int = 5,
) -> str:
    """Replay of dedup.ngram_jaccard_pairs_lsh with the md5 MinHash
    family: candidates = pairs sharing any LSH band (exact band-value
    equality, which the Spark md5 path also groups on), verification =
    exact word-n-gram Jaccard on candidates only."""
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)}, cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.band_sig = y.band_sig
               AND x.doc_id < y.doc_id
        ), g AS (
          SELECT doc_id, {_word_ngrams_sql('text', n)} AS grams
          FROM documents
        )
        SELECT c.id_a, c.id_b,
               CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))) AS jaccard
        FROM cand c
        JOIN g a ON a.doc_id = c.id_a
        JOIN g b ON b.doc_id = c.id_b
        WHERE CAST(len(list_intersect(a.grams, b.grams)) AS DOUBLE)
                 / len(list_distinct(list_concat(a.grams, b.grams))) >= {threshold}
    """


def _hyperplane_bucket_expr(num_planes: int, dim: int, seed: int, vec: str = "vec") -> str:
    """Sign-pattern bucket over the SAME plane literals the Spark plan
    bakes in (similarity._hyperplanes, shared seed)."""
    from llm_training_data_pipeline_spark.operators.similarity import _hyperplanes

    planes = _hyperplanes(dim, num_planes, seed)

    def dot(plane: list[float]) -> str:
        lit = "[" + ", ".join(repr(x) for x in plane) + "]"
        return f"list_sum(list_transform(list_zip({vec}, {lit}), p -> p[1] * p[2]))"

    return " + ".join(
        f"(CASE WHEN {dot(p)} > 0 THEN {1 << i} ELSE 0 END)"
        for i, p in enumerate(planes)
    )


def ann_lsh_topk_sql(
    k: int = 5,
    n_queries: int = 10,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
) -> str:
    """Replay of similarity.ann_lsh_topk: queries are the first
    ``n_queries`` vectors, candidates share the query's hyperplane
    bucket, rank by (cosine DESC, vec_id) within each query."""
    cos = """CASE WHEN q.nrm = 0 OR c.nrm = 0 THEN 0.0
             ELSE list_sum(list_transform(list_zip(q.vec, c.vec),
                    p -> p[1] * p[2])) / (q.nrm * c.nrm) END"""
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), bk AS (
          SELECT vec_id, vec, nrm,
                 {_hyperplane_bucket_expr(num_planes, dim, seed)} AS bucket
          FROM v
        ), scored AS (
          SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                 round({cos}, 6) AS cosine
          FROM bk q JOIN bk c ON q.bucket = c.bucket AND q.vec_id <> c.vec_id
          WHERE q.vec_id < {n_queries}
        ), ranked AS (
          SELECT q_id, vec_id, cosine,
                 CAST(row_number() OVER (PARTITION BY q_id
                        ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
          FROM scored
        )
        SELECT q_id, vec_id, cosine, rank FROM ranked WHERE rank <= {k}
    """


def _embedding_tables_cte(num_planes: int, dim: int, seed: int, num_tables: int) -> str:
    """Shared CTE prefix: normalized vectors + the per-table (t, bucket)
    membership table ``m`` (one row per vector per LSH table, the same
    exploded layout the Spark multi-table plan builds)."""
    from llm_training_data_pipeline_spark.operators.similarity import table_seed

    buckets = ", ".join(
        f"{_hyperplane_bucket_expr(num_planes, dim, table_seed(seed, t))} AS b{t}"
        for t in range(num_tables)
    )
    member = " UNION ALL ".join(
        f"SELECT vec_id, {t} AS t, b{t} AS b FROM bk" for t in range(num_tables)
    )
    return f"""
        v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), bk AS (
          SELECT vec_id, vec, nrm, {buckets} FROM v
        ), m AS (
          {member}
        )"""


def _embedding_capped_members(cap: int | None, name: str) -> str:
    """CTE: per-(table, bucket) membership after the deterministic
    min-id cap — row_number over (t, b) ordered by vec_id, the exact
    keep rule of dedup.embedding_near_dup_pairs(max_bucket_size=...)."""
    if cap is None:
        return f"{name} AS (SELECT vec_id, t, b FROM m)"
    return f"""{name} AS (
          SELECT vec_id, t, b FROM (
            SELECT vec_id, t, b,
                   row_number() OVER (PARTITION BY t, b ORDER BY vec_id) AS rn
            FROM m
          ) WHERE rn <= {cap}
        )"""


def embedding_ann_pairs_sql(
    threshold: float = 0.8,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    num_tables: int = 1,
    max_bucket_size: int | None = None,
) -> str:
    if max_bucket_size is not None:
        # capped form (r14, VERDICT r13 #6): per-(table, bucket) min-id
        # keep via row_number, pairs from the kept membership, DISTINCT
        # collapse across tables, exact-cosine verify — the same plan
        # shape the Spark side runs (WindowGroupLimit rank filter)
        return f"""
        WITH {_embedding_tables_cte(num_planes, dim, seed, num_tables)},
        {_embedding_capped_members(max_bucket_size, "k")},
        cand AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM k a JOIN k b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
        )
        SELECT c.id_a, c.id_b,
               round(CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
                     ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                            p -> p[1] * p[2])) / (a.nrm * b.nrm) END, 6) AS cosine
        FROM cand c
        JOIN v a ON a.vec_id = c.id_a
        JOIN v b ON b.vec_id = c.id_b
        WHERE round(CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
                    ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                           p -> p[1] * p[2])) / (a.nrm * b.nrm) END, 6) >= {threshold}
        """
    return _embedding_ann_pairs_uncapped_sql(
        threshold, num_planes, dim, seed, num_tables
    )


def _embedding_ann_pairs_uncapped_sql(
    threshold: float = 0.8,
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    num_tables: int = 1,
) -> str:
    """Replay of dedup.embedding_near_dup_pairs (bucketed default):
    candidates share a random-hyperplane LSH bucket (sign pattern of
    the seeded plane dots — the plane literals here are the exact
    doubles the Spark plan bakes in) in at least one of ``num_tables``
    tables (per-table seeds via ``similarity.table_seed``),
    verification = exact cosine; multi-table collisions collapse via
    DISTINCT exactly like the Spark DISTINCT on identical rounded rows.

    Caveat (accepted): the bucket bit compares a float dot product
    against 0 — both engines fold the 64 products left-to-right, and a
    sign flip would need a |dot| within float-noise of zero, which the
    O(1)-magnitude random planes make vanishingly unlikely."""
    from llm_training_data_pipeline_spark.operators.similarity import table_seed

    buckets = ", ".join(
        f"{_hyperplane_bucket_expr(num_planes, dim, table_seed(seed, t))} AS b{t}"
        for t in range(num_tables)
    )
    on = " OR ".join(f"a.b{t} = b.b{t}" for t in range(num_tables))
    distinct = "DISTINCT " if num_tables > 1 else ""
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), bk AS (
          SELECT vec_id, vec, nrm, {buckets} FROM v
        )
        SELECT {distinct}a.vec_id AS id_a, b.vec_id AS id_b,
               round(CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
                     ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                            p -> p[1] * p[2])) / (a.nrm * b.nrm) END, 6) AS cosine
        FROM bk a JOIN bk b ON ({on}) AND a.vec_id < b.vec_id
        WHERE round(CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
                    ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                           p -> p[1] * p[2])) / (a.nrm * b.nrm) END, 6) >= {threshold}
    """


def embedding_near_dup_sql(threshold: float = 0.95, block_col: str = "label") -> str:
    return f"""
        WITH v AS (
          SELECT vec_id, {block_col},
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        )
        SELECT a.{block_col} AS {block_col}, a.vec_id AS id_a, b.vec_id AS id_b,
               round(CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
                     ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                            p -> p[1] * p[2])) / (a.nrm * b.nrm) END, 6) AS cosine
        FROM v a JOIN v b ON a.{block_col} = b.{block_col} AND a.vec_id < b.vec_id
        WHERE round(CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
                    ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                           p -> p[1] * p[2])) / (a.nrm * b.nrm) END, 6) >= {threshold}
    """


def embedding_cap_recall_sql(
    threshold: float = 0.3,
    caps: tuple[int | None, ...] = (None, 32, 8),
    num_planes: int = 6,
    dim: int = 64,
    seed: int = 42,
    num_tables: int = 4,
) -> str:
    """Mirror of dedup.embedding_cap_recall: per (table, bucket) cap,
    candidate-pair volume + recall against ONE exact-cosine ground
    truth. The cap replays as row_number over (t, b) ordered by
    vec_id — the same deterministic min-id keep the Spark
    WindowGroupLimit rank filter applies."""
    cos = (
        "round(CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0 "
        "ELSE list_sum(list_transform(list_zip(a.vec, b.vec), "
        "p -> p[1] * p[2])) / (a.nrm * b.nrm) END, 6)"
    )
    parts = [f"WITH {_embedding_tables_cte(num_planes, dim, seed, num_tables)}"]
    parts.append(f""",
        truth AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE {cos} >= {threshold}
        )""")
    rows = []
    for i, cap in enumerate(caps):
        parts.append(",\n" + _embedding_capped_members(cap, f"k{i}"))
        parts.append(f""",
        cand{i} AS (
          SELECT DISTINCT a.vec_id AS id_a, b.vec_id AS id_b
          FROM k{i} a JOIN k{i} b ON a.t = b.t AND a.b = b.b AND a.vec_id < b.vec_id
        )""")
        method = "uncapped" if cap is None else f"cap{cap}"
        capval = -1 if cap is None else cap
        rows.append(f"""
        SELECT '{method}' AS method, CAST({capval} AS INTEGER) AS max_bucket_size,
               (SELECT COUNT(*) FROM cand{i}) AS n_candidate_pairs,
               (SELECT COUNT(*) FROM truth) AS n_true_pairs,
               (SELECT COUNT(*) FROM truth t
                  JOIN cand{i} c ON t.id_a = c.id_a AND t.id_b = c.id_b)
                 AS n_caught,
               CASE WHEN (SELECT COUNT(*) FROM truth) = 0 THEN NULL
                    ELSE round((SELECT COUNT(*) FROM truth t
                                 JOIN cand{i} c ON t.id_a = c.id_a AND t.id_b = c.id_b)
                               / CAST((SELECT COUNT(*) FROM truth) AS DOUBLE), 4)
               END AS recall""")
    return "".join(parts) + (" UNION ALL ".join(rows))


# --- textstats oracles ----------------------------------------------------


def _lang_score_exprs(text_col: str = "text") -> dict[str, str]:
    """Every evidence expression of the 62-language cascade, named —
    the SINGLE source the staged wrapper and cascade are built from.
    Expressions are verbatim the former inline forms (same regexes,
    same CASE/NULL semantics, same divisions), so staging them as
    columns changes SQL text but not one value."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        LANG_ID_PREFIX_CHARS,
        LANG_PROFILES,
        SCRIPT_CLASS_DUCKDB,
        SCRIPT_REFINEMENTS,
    )

    # evidence is scored over the same bounded prefix as the Spark side
    text_col = f"substring({text_col}, 1, {LANG_ID_PREFIX_CHARS})"
    wc = (
        f"CASE WHEN regexp_replace({text_col}, '{q(STRIP_WS)}', '', 'g') = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(regexp_replace({text_col}, '{q(STRIP_WS)}', '', 'g'), '\\s+')) END"
    )
    exprs: dict[str, str] = {}
    for lang, pat in LANG_PROFILES.items():
        exprs[f"_ls_{lang}"] = (
            f"CASE WHEN {wc} > 0 THEN len(regexp_extract_all(lower({text_col}), '{q(pat)}'))"
            f" / CAST({wc} AS DOUBLE) END"
        )
    for lang, cls in SCRIPT_CLASS_DUCKDB.items():
        exprs[f"_sc_{lang}"] = (
            f"CASE WHEN length({text_col}) > 0 THEN "
            f"length(regexp_replace({text_col}, '[^{q(cls)}]', '', 'g'))"
            f" / CAST(length({text_col}) AS DOUBLE) END"
        )
    for base, (base_pat, refinements) in SCRIPT_REFINEMENTS.items():
        exprs[f"_mc_{base}"] = (
            f"len(regexp_extract_all({text_col}, '{q(base_pat)}'))"
            if base_pat
            else "0"
        )
        for refined, pat in refinements:
            exprs[f"_mc_{refined}"] = (
                f"len(regexp_extract_all({text_col}, '{q(pat)}'))"
            )
    return exprs


def _lang_scored_wrap_sql(inner_sql: str, text_col: str = "text") -> str:
    """Wrap an inner SELECT so every cascade evidence expression is a
    STAGED column evaluated once per row (r15: the former fully-inlined
    CASE re-evaluated each regex once per cascade branch — the en score
    ~31x — which made the language oracles the slowest SQL in the
    driver's correctness pass and the pytest suite). ``_lsbest`` rides a
    second layer so the 30-way greatest is also staged."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        STOPWORD_ORDER,
    )

    cols = ", ".join(
        f"{expr} AS {name}" for name, expr in _lang_score_exprs(text_col).items()
    )
    best = "greatest(" + ", ".join(f"_ls_{lang}" for lang in STOPWORD_ORDER) + ")"
    return (
        f"SELECT *, {best} AS _lsbest FROM (SELECT *, {cols} FROM ({inner_sql}))"
    )


def _lang_id_case_staged_sql(min_score: float = 0.01) -> str:
    """The 62-language argmax cascade over the staged evidence columns
    (_lang_scored_wrap_sql) — branch logic identical to the former
    inline CASE and to textstats._lang_cascade."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        SCRIPT_MIN_RATIO,
        SCRIPT_ORDER,
        SCRIPT_REFINEMENTS,
        STOPWORD_ORDER,
    )

    case = "CASE"
    for lang in SCRIPT_ORDER:
        label = f"'{lang}'"
        if lang in SCRIPT_REFINEMENTS:
            _base_pat, refinements = SCRIPT_REFINEMENTS[lang]
            # refined wins iff > base marks AND >= every later refined
            # (earlier refined wins ties) — mirrors _lang_cascade exactly
            label = "(CASE"
            for i, (refined, _pat) in enumerate(refinements):
                cond = f"_mc_{refined} > _mc_{lang}"
                for other, _p in refinements[i + 1 :]:
                    cond += f" AND _mc_{refined} >= _mc_{other}"
                label += f" WHEN {cond} THEN '{refined}'"
            label += f" ELSE '{lang}' END)"
        case += f" WHEN (_sc_{lang}) >= {SCRIPT_MIN_RATIO} THEN {label}"
    for lang in STOPWORD_ORDER:
        case += (
            f" WHEN (_lsbest) >= {min_score} AND (_ls_{lang}) = (_lsbest) THEN '{lang}'"
        )
    case += " ELSE 'unknown' END"
    return case


def doc_lang_table_sql() -> str:
    """Per-document detected_lang via the full lang-id CASE — the
    sweep-shared source table (tools/driver_mimic.py materializes it once
    per sf_dir so the 62-language CASE runs once, not once per consuming
    query).  The CASE is still the single source of truth."""
    scored = _lang_scored_wrap_sql("SELECT doc_id, text FROM documents")
    return (
        f"SELECT doc_id, {_lang_id_case_staged_sql()} AS detected_lang "
        f"FROM ({scored})"
    )


def lang_id_histogram_sql(lang_table: str | None = None) -> str:
    src = (
        f"SELECT {_lang_id_case_staged_sql()} AS detected_lang FROM "
        f"({_lang_scored_wrap_sql('SELECT text FROM documents')})"
        if lang_table is None
        else f"SELECT detected_lang FROM {lang_table}"
    )
    return f"""
        SELECT detected_lang,
               CAST(count(*) AS BIGINT) AS n_docs
        FROM ({src}) GROUP BY 1
    """


def fingerprint_sql(n: int = 5, k: int = 8) -> str:
    norm_full = f"regexp_replace(lower(regexp_replace(text, '{q(STRIP_WS)}', '', 'g')), '\\s+', ' ', 'g')"
    norm_sh = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    return f"""
        WITH s AS (
          SELECT doc_id,
                 md5({norm_full}) AS fingerprint,
                 {norm_sh} AS ns
          FROM documents
        ), sh AS (
          SELECT doc_id, fingerprint,
                 CASE WHEN length(ns) < {n} THEN [ns]
                      ELSE list_distinct(list_transform(
                             generate_series(1, length(ns) - {n} + 1),
                             i -> substr(ns, i, {n}))) END AS shingles
          FROM s
        )
        SELECT doc_id, fingerprint,
               array_to_string((list_sort(list_transform(shingles, x -> md5(x))))[1:{k}], ',') AS sketch
        FROM sh
    """


def token_counts_sql() -> str:
    from llm_training_data_pipeline_spark.operators.textstats import BPE_ISH_TOKEN_REGEX

    wc = (
        f"CASE WHEN regexp_replace(text, '{q(STRIP_WS)}', '', 'g') = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(regexp_replace(text, '{q(STRIP_WS)}', '', 'g'), '\\s+')) END"
    )
    return f"""
        SELECT doc_id,
               CAST({wc} AS BIGINT) AS n_tokens_ws,
               CAST(len(regexp_extract_all(text, '{q(BPE_ISH_TOKEN_REGEX)}')) AS BIGINT) AS n_tokens_bpe_ish
        FROM documents
    """


def quality_score_sql() -> str:
    from llm_training_data_pipeline_spark.operators.textstats import LANG_PROFILES

    stext = f"regexp_replace(text, '{q(STRIP_WS)}', '', 'g')"
    wc = (
        f"CASE WHEN {stext} = '' THEN 0 "
        f"ELSE len(regexp_split_to_array({stext}, '\\s+')) END"
    )
    n_alpha = "length(regexp_replace(text, '[^\\p{L}]', '', 'g'))"
    n_nonspace = "length(regexp_replace(text, '\\s', '', 'g'))"
    stop_hits = f"len(regexp_extract_all(lower(text), '{q(LANG_PROFILES['en'])}'))"
    distinct_words = (
        f"CASE WHEN {stext} = '' THEN 0 "
        f"ELSE len(list_distinct(regexp_split_to_array(lower({stext}), '\\s+'))) END"
    )
    return f"""
        SELECT doc_id,
          round(
            0.4 * (CASE WHEN {n_nonspace} > 0 THEN {n_alpha} / CAST({n_nonspace} AS DOUBLE) ELSE 0.0 END)
          + 0.2 * least((CASE WHEN {wc} > 0 THEN {stop_hits} / CAST({wc} AS DOUBLE) ELSE 0.0 END) * 2, 1.0)
          + 0.2 * least(length(text) / 500.0, 1.0)
          + 0.2 * (CASE WHEN {wc} > 0 THEN {distinct_words} / CAST({wc} AS DOUBLE) ELSE 0.0 END)
          , 6) AS quality_score
        FROM documents
    """


def cosine_topk_sql(k: int = 5, n_queries: int = 10) -> str:
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), qs AS (
          SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm FROM v WHERE vec_id < {n_queries}
        ), scored AS (
          SELECT qs.q_id, v.vec_id,
                 round(CASE WHEN qs.q_nrm = 0 OR v.nrm = 0 THEN 0.0
                       ELSE list_sum(list_transform(list_zip(qs.q_vec, v.vec),
                              p -> p[1] * p[2])) / (qs.q_nrm * v.nrm) END, 6) AS cosine
          FROM qs JOIN v ON v.vec_id <> qs.q_id
        )
        SELECT q_id, vec_id, cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


# --- relational surface oracles ------------------------------------------


def q1_pricing_summary_sql() -> str:
    return f"""
        SELECT l_returnflag, l_linestatus,
               {dsum('l_quantity')} AS sum_qty,
               {dsum('l_extendedprice')} AS sum_base_price,
               {dsum('l_extendedprice * (1 - l_discount)')} AS sum_disc_price,
               {dsum('l_extendedprice * (1 - l_discount) * (1 + l_tax)')} AS sum_charge,
               {davg('l_quantity')} AS avg_qty,
               {davg('l_extendedprice')} AS avg_price,
               {davg('l_discount')} AS avg_disc,
               count(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-01 00:00:00'
        GROUP BY l_returnflag, l_linestatus
    """


def q3_top_unshipped_sql() -> str:
    return f"""
        SELECT o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
               o_orderpriority,
               {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        WHERE c_mktsegment = 'BUILDING'
          AND o_orderdate < TIMESTAMP '1995-03-15 00:00:00'
          AND l_shipdate > TIMESTAMP '1995-03-15 00:00:00'
        GROUP BY o_orderkey, o_orderdate, o_orderpriority
        ORDER BY revenue DESC, o_orderkey
        LIMIT 10
    """


def q5_region_revenue_sql() -> str:
    return f"""
        SELECT r_name, n_name,
               {dsum('l_extendedprice * (1 - l_discount)')} AS revenue
        FROM lineitem
        JOIN orders ON l_orderkey = o_orderkey
        JOIN customer ON o_custkey = c_custkey
        JOIN supplier ON l_suppkey = s_suppkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        WHERE c_nationkey = s_nationkey
        GROUP BY r_name, n_name
    """


def top3_customers_per_nation_sql() -> str:
    return f"""
        WITH spend AS (
          SELECT o_custkey, {dsum('o_totalprice')} AS total_spend
          FROM orders GROUP BY o_custkey
        )
        SELECT n_name, c_custkey, c_name, total_spend, rnk FROM (
          SELECT n_name, c_custkey, c_name, total_spend,
                 CAST(row_number() OVER (PARTITION BY n_name ORDER BY total_spend DESC, c_custkey) AS BIGINT) AS rnk
          FROM customer
          JOIN spend ON c_custkey = o_custkey
          JOIN nation ON c_nationkey = n_nationkey
        ) WHERE rnk <= 3
    """


def customer_running_totals_sql() -> str:
    return f"""
        SELECT o_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               (CAST(floor((sum({units('o_totalprice')}) OVER w_cum * 2 + 100)
                     / CAST(200 AS DOUBLE)) AS BIGINT) / CAST(100 AS DOUBLE)) AS running_spend,
               round(lag(o_totalprice, 1) OVER w_ord, 2) AS prev_price,
               (CAST(floor((sum({units('o_totalprice')}) OVER w_mov * 2 + count(*) OVER w_mov)
                     / (count(*) OVER w_mov * CAST(2 AS DOUBLE))) AS BIGINT)
                / CAST(10000 AS DOUBLE)) AS moving_avg3,
               CAST(row_number() OVER w_ord AS BIGINT) AS order_seq
        FROM orders
        WINDOW
          w_ord AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey),
          w_cum AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
          w_mov AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                    ROWS BETWEEN 2 PRECEDING AND CURRENT ROW)
    """


def rollup_order_stats_sql() -> str:
    return f"""
        SELECT coalesce(o_orderstatus, 'ALL') AS status,
               coalesce(o_orderpriority, 'ALL') AS priority,
               count(*) AS n_orders,
               {dsum('o_totalprice')} AS total_price
        FROM orders
        GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
    """


def cube_lineitem_stats_sql() -> str:
    return f"""
        SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
               coalesce(l_linestatus, 'ALL') AS linestatus,
               count(*) AS n_items,
               {davg('l_quantity')} AS avg_qty
        FROM lineitem
        GROUP BY CUBE (l_returnflag, l_linestatus)
    """


def set_ops_customers_sql() -> str:
    return """
        WITH building AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'),
             rich AS (SELECT c_custkey FROM customer WHERE c_acctbal > 5000)
        SELECT 'union' AS op, c_custkey FROM (SELECT c_custkey FROM building UNION SELECT c_custkey FROM rich)
        UNION ALL
        SELECT 'intersect' AS op, c_custkey FROM (SELECT c_custkey FROM building INTERSECT SELECT c_custkey FROM rich)
        UNION ALL
        SELECT 'except' AS op, c_custkey FROM (SELECT c_custkey FROM building EXCEPT SELECT c_custkey FROM rich)
    """


def semi_anti_customers_sql() -> str:
    return """
        SELECT 'with_orders' AS kind, c_custkey, c_name
        FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
        UNION ALL
        SELECT 'no_orders' AS kind, c_custkey, c_name
        FROM customer WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
    """


def string_functions_part_sql() -> str:
    return """
        SELECT p_partkey,
               upper(p_name) AS name_upper,
               substr(p_type, 1, 5) AS type_prefix,
               concat_ws('|', p_brand, p_type) AS brand_type,
               CAST(length(p_name) AS BIGINT) AS name_len,
               regexp_replace(p_name, '[aeiou]', '_', 'g') AS name_devoweled,
               array_to_string(string_split(p_type, ' '), ',') AS type_words
        FROM part
        WHERE p_name LIKE '%a%'
    """


def date_functions_orders_sql() -> str:
    return f"""
        SELECT CAST(year(o_orderdate) AS BIGINT) AS order_year,
               CAST(quarter(o_orderdate) AS BIGINT) AS order_quarter,
               CAST(month(o_orderdate) AS BIGINT) AS order_month,
               count(*) AS n_orders,
               {dsum('o_totalprice')} AS total_price,
               strftime(min(o_orderdate), '%Y-%m-%d') AS first_order
        FROM orders
        GROUP BY 1, 2, 3
    """


def math_functions_lineitem_sql() -> str:
    return """
        SELECT l_orderkey, l_linenumber,
               round(sqrt(l_extendedprice), 6) AS sqrt_price,
               round(ln(l_extendedprice + 1), 6) AS ln_price,
               round(pow(l_discount, 2), 6) AS disc_sq,
               CAST(ceil(l_quantity) AS BIGINT) AS qty_ceil,
               CAST(floor(l_quantity) AS BIGINT) AS qty_floor,
               round(abs(l_discount - 0.05), 6) AS disc_dev,
               CAST(l_orderkey % 7 AS BIGINT) AS key_mod7
        FROM lineitem WHERE l_orderkey <= 100
    """


def array_agg_per_order_sql() -> str:
    return """
        SELECT l_orderkey,
               array_to_string(list_transform(list_sort(list(l_linenumber)),
                                              x -> CAST(x AS VARCHAR)), ',') AS line_numbers,
               CAST(len(list(l_linenumber)) AS BIGINT) AS n_lines,
               array_to_string(list_sort(list_distinct(list(l_returnflag))), ',') AS flags,
               CAST(list_sum(list(l_linenumber)) AS BIGINT) AS line_sum
        FROM lineitem WHERE l_orderkey <= 200
        GROUP BY l_orderkey
    """


def json_events_sql() -> str:
    return f"""
        WITH j AS (
          SELECT event_type, value,
                 CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
          FROM events
        )
        SELECT event_type,
               count(*) AS n_events,
               round(CAST(sum(k) AS DOUBLE) / count(k), 4) AS avg_k,
               CAST(max(k) AS BIGINT) AS max_k,
               {dsum('value')} AS total_value
        FROM j
        GROUP BY event_type
    """


def event_sessionization_sql() -> str:
    return f"""
        WITH lagged AS (
          SELECT user_id, event_id, value, ts,
                 epoch_us(ts) - epoch_us(lag(ts, 1) OVER w) AS gap
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), flagged AS (
          SELECT *, CASE WHEN gap IS NULL OR gap > 1800000000 THEN 1 ELSE 0 END AS new_session
          FROM lagged
        ), sessioned AS (
          SELECT *, CAST(sum(new_session) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT) AS session_id
          FROM flagged
        )
        SELECT user_id, session_id, count(*) AS n_events,
               {dsum('value')} AS session_value
        FROM sessioned
        GROUP BY user_id, session_id
    """


def word_dropout_sql(rate: float = 0.1) -> str:
    """Mirror of corpus.word_dropout, md5+length projected: the same
    per-word arithmetic key lane over (doc_id·1009 + pos), replayed with
    DuckDB list lambdas (list_zip against a 1-based ordinal series;
    pos = ordinal − 1 matches Spark's 0-based posexplode)."""
    thr = int(rate * 1000)
    return f"""
        WITH s AS (
          SELECT doc_id, string_split(text, ' ') AS ws FROM documents
        ), z AS (
          SELECT doc_id,
                 list_filter(list_zip(ws, generate_series(1, len(ws))),
                   p -> (((doc_id * 1009 + (p[2] - 1)) % 1000003 + 1000003)
                         % 1000003 * 2654435761) % 1000 >= {thr}) AS kept,
                 len(ws) AS n_words
          FROM s
        )
        SELECT doc_id,
               CAST(n_words - len(kept) AS BIGINT) AS n_dropped,
               CAST(length(array_to_string(list_transform(kept, p -> p[1]), ' '))
                    AS BIGINT) AS out_len,
               md5(array_to_string(list_transform(kept, p -> p[1]), ' '))
                 AS out_md5
        FROM z
    """


def hard_negatives_sql(
    k: int = 5, n_queries: int = 10, dup_ceiling: float = 0.2
) -> str:
    """Mirror of similarity.hard_negatives: cosine_topk with the
    near-duplicate ceiling applied before ranking."""
    return f"""
        WITH v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                   x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), qs AS (
          SELECT vec_id AS q_id, vec AS q_vec, nrm AS q_nrm
          FROM v WHERE vec_id < {n_queries}
        ), scored AS (
          SELECT qs.q_id, v.vec_id,
                 round(CASE WHEN qs.q_nrm = 0 OR v.nrm = 0 THEN 0.0
                       ELSE list_sum(list_transform(list_zip(qs.q_vec, v.vec),
                              p -> p[1] * p[2])) / (qs.q_nrm * v.nrm) END, 6)
                   AS cosine
          FROM qs JOIN v ON v.vec_id <> qs.q_id
        )
        SELECT q_id, vec_id, cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (
                   PARTITION BY q_id ORDER BY cosine DESC, vec_id) AS BIGINT)
                 AS rank
          FROM scored WHERE cosine < {dup_ceiling}
        ) WHERE rank <= {k}
    """


def script_mix_sql() -> str:
    """Mirror of textstats.with_script_mix: per-class regexp counts in a
    CTE, integer argmax with the same tie order, floor-permille."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        SCRIPT_MIX_CLASSES,
        SCRIPT_MIX_MIN_SHARE,
        SCRIPT_MIX_ORDER,
    )

    cnt_exprs = ", ".join(
        f"len(regexp_extract_all(text, '[{q(duck)}]')) AS c_{name}"
        for name, (_spark, duck) in SCRIPT_MIX_CLASSES.items()
    )
    total = " + ".join(f"c_{n}" for n in SCRIPT_MIX_ORDER)
    n_scripts = " + ".join(
        f"(CASE WHEN c_{n} > 0 THEN 1 ELSE 0 END)" for n in SCRIPT_MIX_ORDER
    )
    best = "greatest(" + ", ".join(f"c_{n}" for n in SCRIPT_MIX_ORDER) + ")"
    dominant = "CASE"
    for n in SCRIPT_MIX_ORDER:
        dominant += f" WHEN ({best}) > 0 AND c_{n} = ({best}) THEN '{n}'"
    dominant += " ELSE 'none' END"
    n_big = " + ".join(
        f"(CASE WHEN c_{n} * {SCRIPT_MIX_MIN_SHARE} >= ({total}) THEN 1 ELSE 0 END)"
        for n in SCRIPT_MIX_ORDER
    )
    return f"""
        WITH c AS (SELECT doc_id, {cnt_exprs} FROM documents)
        SELECT doc_id,
               CAST({n_scripts} AS BIGINT) AS n_scripts,
               {dominant} AS dominant_script,
               CAST(CASE WHEN ({total}) > 0
                         THEN floor(({best}) * CAST(1000 AS DOUBLE) / ({total}))
                         ELSE 0 END AS BIGINT) AS dominant_permille,
               (({total}) > 0 AND ({n_big}) >= 2) AS script_mixed
        FROM c
    """


def shard_plan_sql(target_chars: int = 500_000) -> str:
    """Mirror of corpus.shard_plan_stats: the same (sample_key, id)
    layout as a window cumulative sum (the oracle may use the global
    window the distributed prefix-sum exists to avoid)."""
    return f"""
        WITH laid AS (
          SELECT doc_id, CAST(length(text) AS BIGINT) AS n_chars,
                 (((doc_id % 1000003 + 1000003) % 1000003) * 2654435761)
                   % 1000000 AS k
          FROM documents
        ), c AS (
          SELECT doc_id, n_chars,
                 coalesce(sum(n_chars) OVER (
                   ORDER BY k, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                 ), 0) AS chars_before
          FROM laid
        )
        SELECT CAST(floor(chars_before / CAST({target_chars} AS DOUBLE)) AS BIGINT)
                 AS shard_id,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM c GROUP BY 1
    """


def event_rate_gapfill_sql() -> str:
    """Minute-spine gap-filled event rate (day 1, sparse user slice):
    DuckDB generate_series mirrors Spark sequence()."""
    return """
        WITH ev AS (
          SELECT date_trunc('minute', ts) AS m FROM events
          WHERE ts < TIMESTAMP '2024-01-02 00:00:00' AND user_id < 30
        ), b AS (SELECT min(m) AS mn, max(m) AS mx FROM ev),
        spine AS (
          SELECT unnest(generate_series(mn, mx, INTERVAL 1 MINUTE)) AS minute
          FROM b
        ), c AS (SELECT m, count(*) AS n FROM ev GROUP BY 1)
        SELECT strftime(minute, '%Y-%m-%d %H:%M:%S') AS minute,
               CAST(coalesce(n, 0) AS BIGINT) AS n_events
        FROM spine LEFT JOIN c ON spine.minute = c.m
    """


def approx_quantiles_bound_sql() -> str:
    """Oracle for the approx_percentile rank-error contract — exact
    group counts with the bound booleans hard-coded TRUE (the same
    falsifiable-accuracy pattern as approx_distinct_bound_sql)."""
    return """
        SELECT event_type,
               CAST(count(*) AS BIGINT) AS n_events,
               TRUE AS p50_rank_ok,
               TRUE AS p90_rank_ok
        FROM events GROUP BY event_type
    """


def approx_distinct_bound_sql() -> str:
    """Oracle for the HLL++ error-bound contract: the exact per-group
    distinct counts with ``within_bound`` hard-coded TRUE. The Spark side
    computes the boolean from its own sketch — a sketch drifting outside
    5·rsd of exact flips the bit and fails the value hash, so the
    approximate path is hash-falsifiable without DuckDB replaying
    engine-specific HLL registers."""
    return """
        SELECT event_type,
               CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users,
               CAST(count(*) AS BIGINT) AS n_events,
               TRUE AS within_bound
        FROM events GROUP BY event_type
    """


def grouping_sets_revenue_sql() -> str:
    return f"""
        SELECT coalesce(r_name, 'ALL') AS region_name,
               coalesce(n_name, 'ALL') AS nation_name,
               count(*) AS n_orders,
               {dsum('o_totalprice')} AS total_price
        FROM orders
        JOIN customer ON o_custkey = c_custkey
        JOIN nation ON c_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY GROUPING SETS ((r_name, n_name), (r_name), ())
    """


def q6_revenue_delta_sql() -> str:
    return f"""
        SELECT {dsum('l_extendedprice * l_discount')} AS revenue_delta,
               count(*) AS n_items
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1995-01-01 00:00:00'
          AND l_shipdate < TIMESTAMP '1996-01-01 00:00:00'
          AND l_discount BETWEEN 0.03 AND 0.07
          AND l_quantity < 24
    """


def having_big_orders_sql() -> str:
    return f"""
        SELECT o_custkey, count(*) AS n_orders, {dsum('o_totalprice')} AS total_spend
        FROM orders
        GROUP BY o_custkey
        HAVING count(*) >= 12
    """


def distinct_stats_sql() -> str:
    return """
        SELECT l_returnflag,
               CAST(count(DISTINCT l_partkey) AS BIGINT) AS n_parts,
               CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_supps,
               count(*) AS n_rows
        FROM lineitem
        GROUP BY l_returnflag
    """


def theta_join_price_bands_sql() -> str:
    return f"""
        WITH bands(band_name, lo, hi) AS (
          VALUES ('budget', 0.0, 500.0),
                 ('mid', 500.0, 1200.0),
                 ('premium', 1200.0, 100000.0)
        )
        SELECT band_name, CAST(count(*) AS BIGINT) AS n_parts,
               {davg('p_retailprice')} AS avg_price
        FROM part JOIN bands
          ON p_retailprice >= lo AND p_retailprice < hi
        GROUP BY band_name
    """


def pivot_status_priority_sql() -> str:
    return """
        SELECT o_orderstatus,
               CAST(count(*) FILTER (o_orderpriority = '1-URGENT') AS BIGINT) AS urgent,
               CAST(count(*) FILTER (o_orderpriority = '2-HIGH') AS BIGINT) AS high,
               CAST(count(*) FILTER (o_orderpriority = '3-MEDIUM') AS BIGINT) AS medium,
               CAST(count(*) FILTER (o_orderpriority NOT IN ('1-URGENT','2-HIGH','3-MEDIUM')) AS BIGINT) AS other
        FROM orders GROUP BY o_orderstatus
    """


def minmax_by_nation_sql() -> str:
    # struct extrema = deterministic name tie-break (mirrors the Spark
    # struct max/min; bare arg_max is order-dependent on balance ties)
    return """
        SELECT c_nationkey,
               (max({'b': c_acctbal, 'n': c_name})).n AS richest_customer,
               (min({'b': c_acctbal, 'n': c_name})).n AS poorest_customer,
               round(max(c_acctbal), 2) AS max_bal,
               round(min(c_acctbal), 2) AS min_bal,
               round(median(c_acctbal), 4) AS median_bal
        FROM customer
        GROUP BY c_nationkey
    """


def map_functions_events_sql() -> str:
    return f"""
        SELECT event_type,
               CAST(map(['n','total'], [CAST(count(*) AS DOUBLE), {dsum('value')}])['n'][1] AS BIGINT) AS n_from_map,
               round(map(['n','total'], [CAST(count(*) AS DOUBLE), {dsum('value')}])['total'][1], 2) AS total_from_map
        FROM events GROUP BY event_type
    """


def exists_subquery_sql() -> str:
    return """
        SELECT c_custkey, c_name
        FROM customer c
        WHERE EXISTS (SELECT 1 FROM orders o
                      WHERE o.o_custkey = c.c_custkey AND o.o_totalprice > 400000)
    """


def tumbling_window_events_sql() -> str:
    return f"""
        SELECT strftime(time_bucket(INTERVAL '1 hour', ts), '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               {dsum('value')} AS total_value
        FROM events
        GROUP BY 1, 2
    """


def asof_join_events_sql() -> str:
    return """
        SELECT l.event_id, l.user_id,
               strftime(l.ts, '%Y-%m-%d %H:%M:%S.%f') AS click_ts,
               r.value AS last_purchase_value
        FROM (SELECT * FROM events WHERE event_type = 'click') l
        ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'purchase') r
          ON l.user_id = r.user_id AND l.ts >= r.ts
    """


def stats_moments_sql() -> str:
    """Mirror of the exact-unit moment assembly (see queries
    q_stats_moments): Σu/Σu²/Σuv in HUGEINT, finished in double."""
    ux = units("l_extendedprice")
    uq = units("l_quantity")
    return f"""
        WITH m AS (
          SELECT l_returnflag,
                 count(*) AS n,
                 sum(CAST({ux} AS HUGEINT)) AS sx,
                 sum(CAST({uq} AS HUGEINT)) AS sq,
                 sum(CAST({ux} AS HUGEINT) * {ux}) AS sxx,
                 sum(CAST({uq} AS HUGEINT) * {uq}) AS sqq,
                 sum(CAST({ux} AS HUGEINT) * {uq}) AS sxq
          FROM lineitem GROUP BY l_returnflag
        )
        SELECT l_returnflag,
               round(sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                          / CAST(n * (n - 1) AS DOUBLE)) / CAST(10000 AS DOUBLE),
                     4) AS price_stddev,
               round(CAST(n * sqq - sq * sq AS DOUBLE)
                     / CAST(n * (n - 1) AS DOUBLE) / CAST(100000000 AS DOUBLE),
                     4) AS qty_var,
               round(CAST(n * sxq - sx * sq AS DOUBLE)
                     / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                            * CAST(n * sqq - sq * sq AS DOUBLE)),
                     6) AS price_qty_corr,
               round(CAST(n * sxq - sx * sq AS DOUBLE)
                     / CAST(n * (n - 1) AS DOUBLE) / CAST(100000000 AS DOUBLE),
                     4) AS price_qty_covar
        FROM m
    """


def percentiles_sql() -> str:
    return """
        SELECT l_returnflag,
               round(quantile_cont(l_extendedprice, 0.5), 4) AS p50_price,
               round(quantile_cont(l_extendedprice, 0.9), 4) AS p90_price,
               round(quantile_cont(l_quantity, 0.25), 4) AS p25_qty,
               round(quantile_cont(l_quantity, 0.75), 4) AS p75_qty
        FROM lineitem
        GROUP BY l_returnflag
    """


def sliding_window_events_sql() -> str:
    # Spark's window(ts, '1 hour', '30 minutes'): each event falls into the
    # two 1h windows starting at the 30-minute grid points in
    # (ts - 1h, ts]. Emulated with two bucket offsets.
    return f"""
        WITH w AS (
          SELECT time_bucket(INTERVAL '30 minutes', ts) AS g, event_type, value FROM events
        ), exploded AS (
          SELECT g AS window_start, event_type, value FROM w
          UNION ALL
          SELECT g - INTERVAL '30 minutes' AS window_start, event_type, value FROM w
        )
        SELECT strftime(window_start, '%Y-%m-%d %H:%M:%S') AS window_start,
               event_type,
               count(*) AS n_events,
               {dsum('value')} AS total_value
        FROM exploded
        GROUP BY 1, 2
    """


def quality_with_language_sql(
    min_words: int = 20, allowed: tuple = ("en",), lang_table: str | None = None
) -> str:
    allowed_list = ", ".join(f"'{a}'" for a in allowed)
    base_case = quality_reason_case(min_words=min_words)
    if lang_table is None:
        # stage the detected label once next to the quality ratios
        # (r15: the inline CASE evaluated the full 62-language battery
        # twice — once per lang_expr occurrence below)
        scored = _lang_scored_wrap_sql("SELECT * FROM ratios")
        src = (
            f"(SELECT *, {_lang_id_case_staged_sql()} AS _dl FROM ({scored}))"
            " ratios"
        )
        lang_expr = "ratios._dl"
        join = ""
    else:
        src = "ratios"
        lang_expr = "dl.detected_lang"
        join = f" JOIN {lang_table} dl ON dl.doc_id = ratios.doc_id"
    # language check has LOWEST precedence (reference checks it last)
    wrapped = f"""CASE WHEN ({base_case}) <> 'passed' THEN ({base_case})
            WHEN {lang_expr} <> 'unknown' AND {lang_expr} NOT IN ({allowed_list})
            THEN 'wrong_language' ELSE 'passed' END"""
    return f"""
        WITH {_quality_scores_cte()}
        SELECT ratios.doc_id AS doc_id, {wrapped} AS reason, ({wrapped}) = 'passed' AS passed
        FROM {src}{join}
    """


def range_frame_orders_sql() -> str:
    return f"""
        SELECT o_orderkey, o_custkey,
               CAST(count(*) OVER w AS BIGINT) - 1 AS prior_30d_orders,
               (CAST(floor(((sum({units('o_totalprice')}) OVER w - {units('o_totalprice')}) * 2 + 100)
                     / CAST(200 AS DOUBLE)) AS BIGINT) / CAST(100 AS DOUBLE)) AS prior_30d_spend,
               round(first_value(o_totalprice) OVER w2, 2) AS first_price,
               round(nth_value(o_totalprice, 2) OVER w2, 2) AS second_price
        FROM orders
        WINDOW
          w AS (PARTITION BY o_custkey ORDER BY epoch(o_orderdate) // 86400
                RANGE BETWEEN 30 PRECEDING AND CURRENT ROW),
          w2 AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """


def exact_dedup_against_sql(split_id: int = 250) -> str:
    h = f"md5(lower(regexp_replace(text, '{q(STRIP_WS)}', '', 'g')))"
    return f"""
        WITH corpus AS (SELECT DISTINCT {h} AS h FROM documents WHERE doc_id < {split_id}),
        fresh AS (
          SELECT d.* FROM documents d
          WHERE d.doc_id >= {split_id}
            AND {h.replace('text', 'd.text')} NOT IN (SELECT h FROM corpus)
        )
        SELECT doc_id, text, lang, source, n_chars FROM (
          SELECT *, row_number() OVER (PARTITION BY {h} ORDER BY doc_id) AS rn FROM fresh
        ) WHERE rn = 1
    """


def null_handling_sql() -> str:
    return """
        SELECT c_custkey,
               coalesce(nullif(c_mktsegment, 'BUILDING'), 'OTHER') AS segment_masked,
               CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END AS pos_balance,
               coalesce(CASE WHEN c_acctbal < 0 THEN NULL ELSE round(c_acctbal, 2) END, 0.0) AS balance_or_zero,
               (c_acctbal IS NULL) AS bal_is_null,
               ifnull(NULL, c_custkey) AS id_roundtrip
        FROM customer
    """


def regex_extract_parts_sql() -> str:
    return """
        SELECT p_partkey,
               regexp_extract(p_type, '^(\\w+)', 1) AS type_head,
               regexp_extract(p_type, '(\\w+)$', 1) AS type_tail,
               regexp_extract(p_brand, '#(\\d+)', 1) AS brand_num,
               CAST(regexp_matches(p_name, 'a.*e') AS BOOLEAN) AS has_a_then_e
        FROM part
    """


# ---------------------------------------------------------------------
# Corpus-scale operators (operators/corpus.py)
# ---------------------------------------------------------------------


def _lower_toks(text_expr: str = "text") -> str:
    """Whitespace tokens of lower(text), Python str.split() semantics."""
    stripped = f"regexp_replace(lower({text_expr}), '{q(STRIP_WS)}', '', 'g')"
    return (
        f"CASE WHEN {stripped} = '' THEN CAST([] AS VARCHAR[]) "
        f"ELSE regexp_split_to_array({stripped}, '\\s+') END"
    )


def unigram_surprisal_sql() -> str:
    """Mirror of corpus.unigram_surprisal: add-one smoothed unigram LM,
    avg surprisal folded to ln(N+V) - avg(ln(c_w+1))."""
    return f"""
        WITH w AS (
          SELECT doc_id, unnest({_lower_toks()}) AS word FROM documents
        ), vocab AS (
          SELECT word, count(*) AS n FROM w GROUP BY word
        ), tot AS (
          SELECT sum(n) AS total, count(*) AS v FROM vocab
        )
        SELECT w.doc_id,
               CAST(count(*) AS BIGINT) AS n_words,
               round(ln(tot.total + tot.v)
                     - CAST(sum(CAST(floor(ln(vocab.n + 1) * CAST(100000000 AS DOUBLE))
                                AS BIGINT)) AS DOUBLE)
                       / CAST(100000000 AS DOUBLE) / count(*), 6) AS avg_surprisal
        FROM w JOIN vocab USING (word) CROSS JOIN tot
        GROUP BY w.doc_id, tot.total, tot.v
    """


def contamination_sql(n: int = 8, min_shared: int = 1, bench_mod: int = 97) -> str:
    """Mirror of corpus.contamination_pairs with benchmark = docs whose
    id ≡ 0 (mod bench_mod)."""
    return f"""
        WITH g AS (
          SELECT doc_id, {_word_ngrams_sql('text', n)} AS grams FROM documents
        ), cg AS (
          SELECT doc_id AS corpus_id, unnest(grams) AS gram FROM g
          WHERE doc_id % {bench_mod} <> 0
        ), bg AS (
          SELECT doc_id AS benchmark_id, unnest(grams) AS gram FROM g
          WHERE doc_id % {bench_mod} = 0
        )
        SELECT corpus_id, benchmark_id, CAST(count(*) AS BIGINT) AS n_shared
        FROM cg JOIN bg USING (gram)
        GROUP BY corpus_id, benchmark_id
        HAVING count(*) >= {min_shared}
    """


def stratified_sample_sql(rates: dict[str, float], default_rate: float = 0.0) -> str:
    """Mirror of corpus.stratified_sample over documents.lang — the same
    arithmetic sample key, bit-for-bit (pmod spelled out: DuckDB's %
    keeps the dividend's sign like Spark's)."""
    whens = " ".join(
        f"WHEN '{s}' THEN {float(r)}" for s, r in sorted(rates.items())
    )
    return f"""
        SELECT doc_id, lang, source
        FROM documents
        WHERE (((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000 <
              (CASE lang {whens} ELSE {float(default_rate)} END) * 1000
    """


def pack_stats_sql(budget: int = 2048) -> str:
    wc = (
        f"CASE WHEN regexp_replace(text, '{q(STRIP_WS)}', '', 'g') = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(regexp_replace(text, '{q(STRIP_WS)}', '', 'g'), '\\s+')) END"
    )
    return f"""
        WITH t AS (
          SELECT source, doc_id, CAST({wc} AS BIGINT) AS n_tokens FROM documents
        ), p AS (
          SELECT source, n_tokens,
                 CAST(floor((sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                     ROWS UNBOUNDED PRECEDING) - n_tokens) / {budget}) AS BIGINT) AS pack_id
          FROM t
        )
        SELECT source, pack_id, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_tokens) AS BIGINT) AS pack_tokens
        FROM p GROUP BY source, pack_id
    """


def corpus_mix_sql() -> str:
    wc = (
        f"CASE WHEN regexp_replace(text, '{q(STRIP_WS)}', '', 'g') = '' THEN 0 "
        f"ELSE len(regexp_split_to_array(regexp_replace(text, '{q(STRIP_WS)}', '', 'g'), '\\s+')) END"
    )
    return f"""
        WITH per AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum({wc}) AS BIGINT) AS n_words
          FROM documents GROUP BY lang
        ), tot AS (SELECT sum(n_docs) AS td, sum(n_words) AS tw FROM per)
        SELECT lang, n_docs, n_words,
               round(n_docs / td, 6) AS doc_share,
               round(n_words / tw, 6) AS word_share
        FROM per CROSS JOIN tot
    """


def lag_lead_orders_sql() -> str:
    return """
        SELECT o_custkey, o_orderkey,
               strftime(o_orderdate, '%Y-%m-%d') AS order_date,
               lag(o_totalprice) OVER w AS prev_price,
               lead(o_totalprice) OVER w AS next_price,
               ntile(4) OVER w AS quartile,
               round(percent_rank() OVER w, 6) AS pr,
               round(cume_dist() OVER w, 6) AS cd
        FROM orders
        WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey)
    """


def dedup_clusters_sql(pairs_sql: str | None = None, n: int = 2, threshold: float = 0.1, block_col: str = "source") -> str:
    """Recursive-CTE mirror of dedup.dedup_clusters: cluster_id = min
    reachable doc id over the given pair graph (any SELECT producing
    ``id_a, id_b`` — MinHash md5 band pairs for the registered query;
    defaults to the n-gram Jaccard graph)."""
    src = pairs_sql if pairs_sql is not None else ngram_jaccard_sql(n, threshold, block_col)
    return f"""
        WITH RECURSIVE pairs AS (
          SELECT id_a, id_b FROM ({src})
        ), edges AS (
          SELECT id_a AS src, id_b AS dst FROM pairs
          UNION
          SELECT id_b AS src, id_a AS dst FROM pairs
        ), nodes AS (
          SELECT DISTINCT src AS node FROM edges
        ), reach(node, r) AS (
          SELECT node, node FROM nodes
          UNION
          SELECT e.dst, reach.r FROM reach JOIN edges e ON e.src = reach.node
        )
        SELECT node AS doc_id, CAST(min(r) AS BIGINT) AS cluster_id
        FROM reach GROUP BY node
    """


def corpus_shuffle_keys_sql(seed: int = 42) -> str:
    """Mirror of corpus.corpus_shuffle's key assignment: md5 of
    ``id:seed`` — the seeded permutation both engines derive
    identically (the range-partitioned ordering itself is Spark
    plumbing; the KEY is the semantics)."""
    return f"""
        SELECT doc_id,
               md5(CAST(doc_id AS VARCHAR) || ':' || '{seed}') AS shuffle_key
        FROM documents
    """


def boilerplate_ngrams_sql(n: int = 2, min_count: int = 5, k: int = 25) -> str:
    """Mirror of corpus.boilerplate_ngrams: per-doc-distinct word
    n-grams → document frequency → gate → deterministic top-k."""
    return f"""
        WITH g AS (
          SELECT doc_id, {_word_ngrams_sql('text', n)} AS grams
          FROM documents
        ), e AS (
          SELECT doc_id, unnest(grams) AS gram FROM g
        ), c AS (
          SELECT gram, CAST(count(*) AS BIGINT) AS doc_freq
          FROM e GROUP BY gram HAVING count(*) >= {min_count}
        )
        SELECT gram, doc_freq FROM c
        ORDER BY doc_freq DESC, gram
        LIMIT {k}
    """


def remove_common_lines_sql(min_freq: int = 3) -> str:
    return f"""
        WITH lines AS (
          SELECT doc_id,
                 generate_subscripts(string_split(text, chr(10)), 1) AS pos,
                 unnest(string_split(text, chr(10))) AS line
          FROM documents
        ), common AS (
          SELECT line FROM lines WHERE trim(line) <> ''
          GROUP BY line HAVING count(*) >= {min_freq}
        ), kept AS (
          SELECT doc_id, pos, line FROM lines
          WHERE line NOT IN (SELECT line FROM common)
        ), rebuilt AS (
          SELECT doc_id,
                 string_agg(line, chr(10) ORDER BY pos) AS cleaned_text,
                 count(*) AS n_kept
          FROM kept GROUP BY doc_id
        )
        SELECT d.doc_id,
               coalesce(r.cleaned_text, '') AS cleaned_text,
               CAST(len(string_split(d.text, chr(10))) - coalesce(r.n_kept, 0) AS BIGINT)
                 AS n_lines_removed
        FROM documents d LEFT JOIN rebuilt r USING (doc_id)
    """


def _minhash_bands_prefix_sql(
    num_perm: int, num_bands: int, shingle_size: int
) -> str:
    """Shared CTE prefix (normalize → shingles → md5 hashes → signature →
    bands) for the md5-family MinHash replays. Returned text is the body
    after ``WITH `` up to and including the ``bands`` CTE."""
    from llm_training_data_pipeline_spark.functions.hashing import (
        MERSENNE_31,
        _perm_params,
    )

    a, b = _perm_params(num_perm, seed=42)
    rows = num_perm // num_bands
    n = shingle_size
    norm = "regexp_replace(lower(text), '\\s+', ' ', 'g')"
    sig_items = ", ".join(
        f"list_min(list_transform(hs, h -> (CAST({a[i]} AS BIGINT) * h + {b[i]}) % {MERSENNE_31}))"
        for i in range(num_perm)
    )
    return f"""s AS (
          SELECT doc_id, {norm} AS ns FROM documents
        ), sh AS (
          SELECT doc_id,
                 CASE WHEN length(ns) < {n} THEN [ns]
                      ELSE list_transform(
                             generate_series(1, length(ns) - {n} + 1),
                             i -> substr(ns, i, {n})) END AS shingles
          FROM s
        ), hs AS (
          SELECT doc_id,
                 list_transform(shingles,
                   sgl -> CAST(md5_number_lower(sgl) % {MERSENNE_31} AS BIGINT)) AS hs
          FROM sh
        ), sig AS (
          SELECT doc_id, [{sig_items}] AS sig FROM hs
        ), bands AS (
          SELECT doc_id, j.band_id, sig[j.band_id * {rows} + 1 : (j.band_id + 1) * {rows}] AS band_sig
          FROM sig, (SELECT unnest(range(0, {num_bands})) AS band_id) j
        )"""


def minhash_pairs_md5_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    shingle_size: int = 5,
    max_bucket_size: int | None = None,
) -> str:
    """Bit-for-bit replay of dedup.minhash_candidate_pairs with the md5
    hash family: same normalization, same multiset shingles, the same
    (a*h+b) mod M31 permutation constants (shared RNG seed), banding via
    band-array equality (Spark buckets by hashing the band — identical
    pairs modulo 64-bit hash collisions). ``max_bucket_size`` replays
    the band-bucket cap (min-id keep via row_number per bucket)."""
    eq_terms = " + ".join(
        f"CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(num_perm)
    )
    src = (
        "bands"
        if max_bucket_size is None
        else f"""(
            SELECT doc_id, band_id, band_sig FROM (
              SELECT *, row_number() OVER (PARTITION BY band_id, band_sig
                          ORDER BY doc_id) AS rn
              FROM bands
            ) WHERE rn <= {max_bucket_size}
          )"""
    )
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)}, cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM {src} x JOIN {src} y
            ON x.band_id = y.band_id AND x.band_sig = y.band_sig
               AND x.doc_id < y.doc_id
        )
        SELECT c.id_a, c.id_b,
               round(({eq_terms}) / CAST({num_perm} AS DOUBLE), 6) AS est_jaccard
        FROM cand c
        JOIN sig sa ON sa.doc_id = c.id_a
        JOIN sig sb ON sb.doc_id = c.id_b
        WHERE ({eq_terms}) / CAST({num_perm} AS DOUBLE) >= {threshold}
    """


def minhash_dedup_md5_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    shingle_size: int = 5,
) -> str:
    """End-to-end replay of dedup.minhash_dedup (D5) with the md5
    family: band candidates → est-Jaccard verify → drop every id_b
    (min-id winner keeps the smaller id) → surviving documents."""
    eq_terms = " + ".join(
        f"CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(num_perm)
    )
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)}, cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.band_sig = y.band_sig
               AND x.doc_id < y.doc_id
        ), losers AS (
          SELECT DISTINCT c.id_b
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b
          WHERE ({eq_terms}) / CAST({num_perm} AS DOUBLE) >= {threshold}
        )
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT id_b FROM losers)
    """


def minhash_stars_md5_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_size: int = 5,
) -> str:
    """Replay of dedup.minhash_bucket_stars: one star per LSH bucket
    (bucket-min → member), connectivity-equivalent to the bucket clique
    with O(k) edges per bucket. No est-Jaccard verification by design —
    banding is the similarity test for cluster extraction."""
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)}, roots AS (
          SELECT band_id, band_sig, min(doc_id) AS root
          FROM bands GROUP BY band_id, band_sig
        )
        SELECT DISTINCT r.root AS id_a, b.doc_id AS id_b
        FROM bands b
        JOIN roots r ON b.band_id = r.band_id AND b.band_sig = r.band_sig
        WHERE b.doc_id <> r.root
    """


def simhash_pairs_md5_sql(max_hamming: int = 3, num_bands: int = 4) -> str:
    """Bit-for-bit replay of dedup.simhash_near_dup_pairs with the md5
    hash family. The fingerprint is assembled as UBIGINT (addition of
    disjoint powers of two == bitwise OR), so band chunking via
    unsigned shift matches Spark's shiftrightunsigned on the same bit
    pattern, and hamming via bit_count(xor) is sign-free."""
    toks = (
        f"CASE WHEN regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    vote_items = ", ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS b{b}"
        for b in range(64)
    )
    assemble = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN CAST({1 << b} AS UBIGINT) ELSE CAST(0 AS UBIGINT) END)"
        for b in range(64)
    )
    bits_per = 64 // num_bands
    mask = (1 << bits_per) - 1
    return f"""
        WITH tok AS (
          SELECT doc_id, unnest({toks}) AS t FROM documents
        ), h AS (
          SELECT doc_id, md5_number_lower(t) AS h FROM tok
        ), votes AS (
          SELECT doc_id, {vote_items} FROM h GROUP BY doc_id
        ), sim AS (
          SELECT doc_id, {assemble} AS simhash FROM votes
        ), bands AS (
          SELECT doc_id, simhash, j.band_id,
                 (simhash >> (j.band_id * {bits_per})) & {mask} AS chunk
          FROM sim, (SELECT unnest(range(0, {num_bands})) AS band_id) j
        ), cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b,
                 CAST(bit_count(xor(x.simhash, y.simhash)) AS BIGINT) AS hamming
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.chunk = y.chunk AND x.doc_id < y.doc_id
        )
        SELECT id_a, id_b, hamming FROM cand WHERE hamming <= {max_hamming}
    """


def simhash_dedup_md5_sql(max_hamming: int = 3, num_bands: int = 4) -> str:
    """End-to-end replay of dedup.simhash_dedup with the md5 bit family:
    banded candidates → hamming verify → drop every id_b → survivors."""
    pairs = simhash_pairs_md5_sql(max_hamming, num_bands)
    return f"""
        WITH p AS ({pairs})
        SELECT d.doc_id, d.text, d.lang, d.source, d.n_chars
        FROM documents d
        WHERE d.doc_id NOT IN (SELECT DISTINCT id_b FROM p)
    """


def session_window_events_sql(gap_minutes: int = 30) -> str:
    """Replay of F.session_window semantics: a new session starts when
    the gap from the previous event is >= the window gap (the window end
    is exclusive, so an event landing exactly at prev+gap opens a new
    session); session_end = last event + gap."""
    gap_us = gap_minutes * 60_000_000
    return f"""
        WITH s AS (
          SELECT user_id, ts, event_id, value,
                 CASE WHEN lag(ts) OVER w IS NULL
                        OR epoch_us(ts) - epoch_us(lag(ts) OVER w) >= {gap_us}
                      THEN 1 ELSE 0 END AS ns
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ), s2 AS (
          SELECT *, sum(ns) OVER (PARTITION BY user_id ORDER BY ts, event_id
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM s
        )
        SELECT user_id,
               strftime(min(ts), '%Y-%m-%d %H:%M:%S') AS session_start,
               strftime(max(ts) + INTERVAL {gap_minutes} MINUTE, '%Y-%m-%d %H:%M:%S') AS session_end,
               CAST(count(*) AS BIGINT) AS n_events,
               {dsum('value')} AS session_value
        FROM s2 GROUP BY user_id, sid
    """


def gopher_quality_sql() -> str:
    """Mirror of quality.with_gopher_quality over documents."""
    from llm_training_data_pipeline_spark.operators.quality import (
        BULLET_LINE_REGEX,
        GOPHER_STOPWORDS,
        GopherConfig,
    )

    cfg = GopherConfig()
    toks = (
        f"CASE WHEN regexp_replace(text, '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(text, '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    stops = " + ".join(
        f"CASE WHEN regexp_matches(lower(text), '\\b{s}\\b') THEN 1 ELSE 0 END"
        for s in GOPHER_STOPWORDS
    )
    return f"""
        WITH t AS (
          SELECT doc_id, text, {toks} AS w, string_split(text, chr(10)) AS lines
          FROM documents
        ), m AS (
          SELECT doc_id,
                 len(w) AS nw,
                 coalesce(list_sum(list_transform(w, x -> length(x))), 0)
                   / CAST(greatest(len(w), 1) AS DOUBLE) AS mwl,
                 (len(regexp_extract_all(text, '#'))
                    + len(regexp_extract_all(text, '(\\.\\.\\.|…)')))
                   / CAST(greatest(len(w), 1) AS DOUBLE) AS swr,
                 len(list_filter(lines, l -> regexp_matches(l, '{q(BULLET_LINE_REGEX)}')))
                   / CAST(greatest(len(lines), 1) AS DOUBLE) AS blf,
                 len(list_filter(lines, l -> regexp_matches(l, '(\\.\\.\\.|…)\\s*$')))
                   / CAST(greatest(len(lines), 1) AS DOUBLE) AS elf,
                 len(list_filter(w, x -> regexp_matches(x, '\\p{{L}}')))
                   / CAST(greatest(len(w), 1) AS DOUBLE) AS awf,
                 {stops} AS stops
          FROM t
        )
        SELECT doc_id,
               (nw >= {cfg.min_words} AND nw <= {cfg.max_words}) AS ok_word_count,
               (mwl >= {cfg.min_mean_word_len} AND mwl <= {cfg.max_mean_word_len}) AS ok_mean_word_len,
               (swr <= {cfg.max_symbol_word_ratio}) AS ok_symbol_ratio,
               (blf <= {cfg.max_bullet_line_frac}) AS ok_bullet_lines,
               (elf <= {cfg.max_ellipsis_line_frac}) AS ok_ellipsis_lines,
               (awf >= {cfg.min_alpha_word_frac}) AS ok_alpha_words,
               (stops >= {cfg.min_stopwords_present}) AS ok_stopwords,
               ((nw >= {cfg.min_words} AND nw <= {cfg.max_words})
                AND (mwl >= {cfg.min_mean_word_len} AND mwl <= {cfg.max_mean_word_len})
                AND (swr <= {cfg.max_symbol_word_ratio})
                AND (blf <= {cfg.max_bullet_line_frac})
                AND (elf <= {cfg.max_ellipsis_line_frac})
                AND (awf >= {cfg.min_alpha_word_frac})
                AND (stops >= {cfg.min_stopwords_present})) AS gopher_pass
        FROM m
    """


def c4_quality_sql() -> str:
    from llm_training_data_pipeline_spark.operators.quality import (
        C4Config,
        TERMINAL_PUNCT_REGEX,
    )

    cfg = C4Config()
    ntp = (
        f"len(list_filter(string_split(text, chr(10)), "
        f"l -> NOT regexp_matches(l, '{q(TERMINAL_PUNCT_REGEX)}')))"
        f" / CAST(greatest(len(string_split(text, chr(10))), 1) AS DOUBLE)"
    )
    return f"""
        SELECT doc_id,
               ({ntp}) <= {cfg.max_no_terminal_punct_frac} AS ok_terminal_punct,
               NOT contains(lower(text), 'lorem ipsum') AS ok_no_lorem,
               NOT contains(text, '{{') AS ok_no_braces,
               len(regexp_extract_all(text, '[.!?]')) >= {cfg.min_sentences} AS ok_sentences,
               (({ntp}) <= {cfg.max_no_terminal_punct_frac}
                AND NOT contains(lower(text), 'lorem ipsum')
                AND NOT contains(text, '{{')
                AND len(regexp_extract_all(text, '[.!?]')) >= {cfg.min_sentences}) AS c4_pass
        FROM documents
    """


def repetition_stats_sql() -> str:
    """Mirror of quality.with_repetition_stats (rounded to 6dp on both
    sides by the registered query)."""
    sl = (
        f"list_filter(list_transform(string_split(text, chr(10)), "
        f"x -> regexp_replace(x, '{q(STRIP_WS)}', '', 'g')), x -> x <> '')"
    )
    toks = (
        f"CASE WHEN regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    return f"""
        WITH t AS (
          SELECT doc_id, text, {sl} AS sl, {toks} AS w FROM documents
        ), g AS (
          SELECT *, CASE WHEN len(w) < 2 THEN CAST([] AS VARCHAR[])
                         ELSE list_transform(generate_series(1, len(w) - 1),
                                i -> w[i] || ' ' || w[i + 1]) END AS grams
          FROM t
        ), m AS (
          SELECT doc_id, text, sl, grams,
                 len(sl) AS nl, len(list_distinct(sl)) AS nd,
                 coalesce(list_sum(list_transform(sl, x -> length(x))), 0) AS tc,
                 coalesce(list_sum(list_transform(list_distinct(sl), x -> length(x))), 0) AS dc,
                 CASE WHEN len(grams) > 0
                      THEN list_max(list_transform(list_distinct(grams),
                             x -> len(list_filter(grams, y -> y = x)) * length(x)))
                      ELSE 0 END AS best_cover
          FROM g
        )
        SELECT doc_id,
               round(CASE WHEN nl > 0 THEN (nl - nd) / CAST(nl AS DOUBLE) ELSE 0.0 END, 6) AS dup_line_frac,
               round(CASE WHEN tc > 0 THEN (tc - dc) / CAST(tc AS DOUBLE) ELSE 0.0 END, 6) AS dup_line_char_frac,
               round(CASE WHEN length(text) > 0 THEN best_cover / CAST(length(text) AS DOUBLE) ELSE 0.0 END, 6) AS top_2gram_char_frac
        FROM m
    """


def salted_join_revenue_sql() -> str:
    return f"""
        SELECT c_mktsegment,
               CAST(count(*) AS BIGINT) AS n_orders,
               {dsum('o_totalprice')} AS revenue
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """


def set_ops_all_sql() -> str:
    return """
        WITH a AS (SELECT c_mktsegment AS seg FROM customer WHERE c_acctbal > 0),
             b AS (SELECT c_mktsegment AS seg FROM customer WHERE c_nationkey < 10)
        SELECT 'union_all' AS op, CAST(count(*) AS BIGINT) AS n
        FROM (SELECT seg FROM a UNION ALL SELECT seg FROM b)
        UNION ALL
        SELECT 'intersect_all', CAST(count(*) AS BIGINT)
        FROM (SELECT seg FROM a INTERSECT ALL SELECT seg FROM b)
        UNION ALL
        SELECT 'except_all', CAST(count(*) AS BIGINT)
        FROM (SELECT seg FROM a EXCEPT ALL SELECT seg FROM b)
    """


def scalar_subquery_sql(table: str = "orders") -> str:
    # unrounded exact mean as the divisor (identical integer->double on
    # both engines), then an order-independent davg of the ratios at
    # scale 8 / 6dp output
    mean = (
        f"(SELECT CAST(sum({units('o_totalprice')}) AS DOUBLE)"
        f" / CAST(10000 AS DOUBLE) / count(*) FROM {table})"
    )
    return f"""
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n,
               {davg(f'o_totalprice / {mean}', nd=6, scale=8, cnt='count(*)')} AS avg_price_ratio
        FROM {table}
        GROUP BY o_orderpriority
    """


def posexplode_sql() -> str:
    return """
        WITH w AS (
          SELECT generate_subscripts(string_split(p_name, ' '), 1) - 1 AS pos,
                 unnest(string_split(p_name, ' ')) AS word
          FROM part
        )
        SELECT pos, CAST(count(*) AS BIGINT) AS n_words,
               min(word) AS first_word
        FROM w GROUP BY pos
    """


def null_safe_eq_sql() -> str:
    return """
        SELECT c_mktsegment,
               CAST(count(*) FILTER (WHERE nullif(c_mktsegment, 'BUILDING')
                     IS NOT DISTINCT FROM NULL) AS BIGINT) AS masked,
               CAST(count(*) AS BIGINT) AS total
        FROM customer GROUP BY c_mktsegment
    """


def cosine_topk_int8_sql(k: int = 5, n_queries: int = 10) -> str:
    """Mirror of similarity.cosine_topk_int8: same floor-quantization
    expression (identical double op order), integer dot/norms."""
    return f"""
        WITH dv AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS v,
                 list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) AS ma
          FROM embeddings
        ), qz AS (
          SELECT vec_id,
                 CASE WHEN ma = 0 THEN list_transform(v, x -> 0)
                      ELSE list_transform(v, x -> CAST(floor(x / ma * 127) AS INT)) END AS qvec
          FROM dv
        ), nz AS (
          SELECT vec_id, qvec,
                 sqrt(CAST(list_sum(list_transform(qvec, x -> CAST(x AS BIGINT) * x)) AS DOUBLE)) AS nrm
          FROM qz
        ), qs AS (
          SELECT vec_id AS q_id, qvec AS q_vec, nrm AS q_nrm FROM nz WHERE vec_id < {n_queries}
        ), scored AS (
          SELECT qs.q_id, nz.vec_id,
                 round(CASE WHEN qs.q_nrm = 0 OR nz.nrm = 0 THEN 0.0
                       ELSE CAST(list_sum(list_transform(list_zip(qs.q_vec, nz.qvec),
                              p -> CAST(p[1] AS BIGINT) * p[2])) AS DOUBLE)
                            / (qs.q_nrm * nz.nrm) END, 6) AS q_cosine
          FROM qs JOIN nz ON nz.vec_id <> qs.q_id
        )
        SELECT q_id, vec_id, q_cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id ORDER BY q_cosine DESC, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def q10_returned_items_sql(k: int = 20) -> str:
    return f"""
        SELECT c.c_custkey, c.c_name, n.n_name,
               {dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation n ON c.c_nationkey = n.n_nationkey
        WHERE l.l_returnflag = 'R'
        GROUP BY c.c_custkey, c.c_name, n.n_name
        ORDER BY revenue DESC, c.c_custkey
        LIMIT {k}
    """


def q14_promo_revenue_sql() -> str:
    return f"""
        SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
               round(CAST(100 AS DOUBLE) * CAST(sum({units("CASE WHEN p_type LIKE 'PROMO%' THEN l_extendedprice * (1 - l_discount) ELSE 0.0 END")}) AS DOUBLE)
                     / CAST(sum({units('l_extendedprice * (1 - l_discount)')}) AS DOUBLE), 6) AS promo_pct
        FROM lineitem JOIN part ON l_partkey = p_partkey
        GROUP BY 1
    """


def q4_late_shipments_sql(days: int = 90) -> str:
    return f"""
        SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS n_orders
        FROM orders o
        WHERE EXISTS (
          SELECT 1 FROM lineitem l
          WHERE l.l_orderkey = o.o_orderkey
            AND l.l_shipdate > o.o_orderdate + INTERVAL {days} DAY
        )
        GROUP BY o_orderpriority
    """


def q2_min_cost_supplier_sql(max_size: int = 10, region: str = "EUROPE", k: int = 100) -> str:
    """TPC-H Q2 adapted to the slim schema (no partsupp): per-part unit
    cost derived from lineitem (avg extendedprice/quantity per
    part-supplier), cheapest supplier per part via row_number. Unit cost
    is rounded to 4dp BEFORE ranking so float summation-order noise
    between engines cannot flip the chosen supplier."""
    return f"""
        WITH cost AS (
          SELECT l_partkey, l_suppkey,
                 {davg('l_extendedprice / l_quantity')} AS unit_cost
          FROM lineitem GROUP BY l_partkey, l_suppkey
        ), best AS (
          SELECT l_partkey, l_suppkey, unit_cost,
                 row_number() OVER (PARTITION BY l_partkey
                                    ORDER BY unit_cost, l_suppkey) AS rk
          FROM cost
        )
        SELECT p.p_partkey, p.p_name, s.s_name, n.n_name, b.unit_cost
        FROM best b
        JOIN part p ON b.l_partkey = p.p_partkey AND p.p_size <= {max_size}
        JOIN supplier s ON b.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN region r ON n.n_regionkey = r.r_regionkey AND r.r_name = '{region}'
        WHERE b.rk = 1
        ORDER BY b.unit_cost, p.p_partkey
        LIMIT {k}
    """


def q7_volume_shipping_sql(y1: int = 1996, y2: int = 1997) -> str:
    """TPC-H Q7 shape: cross-border revenue per (supplier nation,
    customer nation, ship year) for two ship years."""
    return f"""
        SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
               CAST(year(l.l_shipdate) AS BIGINT) AS ship_year,
               {dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue
        FROM lineitem l
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        WHERE year(l.l_shipdate) IN ({y1}, {y2})
          AND sn.n_name <> cn.n_name
        GROUP BY 1, 2, 3
    """


def q8_market_share_sql(
    supp_nation: str = "NATION_7", region: str = "ASIA", p_type: str = "PROMO"
) -> str:
    """TPC-H Q8 shape: the given supplier nation's share of revenue for
    one part type among customers of one region, per order year."""
    return f"""
        SELECT CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
               round(CAST(sum({units(f"CASE WHEN sn.n_name = '{supp_nation}' THEN l.l_extendedprice * (1 - l.l_discount) ELSE 0.0 END")}) AS DOUBLE)
                     / CAST(sum({units('l.l_extendedprice * (1 - l.l_discount)')}) AS DOUBLE), 6) AS mkt_share
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_type = '{p_type}'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation sn ON s.s_nationkey = sn.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN nation cn ON c.c_nationkey = cn.n_nationkey
        JOIN region r ON cn.n_regionkey = r.r_regionkey AND r.r_name = '{region}'
        GROUP BY 1
    """


# --- PII oracles ----------------------------------------------------------


def _pii_corpus_sql() -> str:
    """Token-for-token mirror of ``operators.pii.synthetic_pii_corpus``:
    the same c_custkey arithmetic, lpad widths, and conditional segments,
    so both engines construct the identical PII-bearing corpus from the
    customer table."""

    def pad(expr: str, n: int) -> str:
        return f"lpad(CAST({expr} AS VARCHAR), {n}, '0')"

    return f"""
        SELECT c_custkey AS doc_id,
               'Contact ' || c_name || ' at user' || CAST(c_custkey AS VARCHAR)
               || '@example.com or call 555-'
               || {pad('(c_custkey * 13) % 900 + 100', 3)} || '-'
               || {pad('(c_custkey * 31) % 10000', 4)} || '.'
               || CASE WHEN c_custkey % 5 = 0 THEN
                    ' SSN ' || {pad('(c_custkey * 7) % 1000', 3)} || '-'
                    || {pad('c_custkey % 100', 2)} || '-'
                    || {pad('(c_custkey * 3) % 10000', 4)} || '.'
                  ELSE '' END
               || CASE WHEN c_custkey % 7 = 0 THEN
                    ' Card ' || {pad('(c_custkey * 11) % 10000', 4)} || ' '
                    || {pad('(c_custkey * 17) % 10000', 4)} || ' '
                    || {pad('(c_custkey * 23) % 10000', 4)} || ' '
                    || {pad('(c_custkey * 29) % 10000', 4)} || '.'
                  ELSE '' END
               || CASE WHEN c_custkey % 3 = 0 THEN
                    ' Login from 10.' || CAST(c_custkey % 256 AS VARCHAR) || '.'
                    || CAST((c_custkey * 3) % 256 AS VARCHAR) || '.'
                    || CAST((c_custkey * 5) % 256 AS VARCHAR) || '.'
                  ELSE '' END
               AS text
        FROM customer
    """


def pii_stats_sql() -> str:
    """Mirror of ``operators.pii.pii_stats`` over the synthetic corpus.
    Counts use ``len(regexp_extract_all(...))`` — RE2 leftmost,
    non-overlapping, same as Spark's ``regexp_count``; the patterns are
    shared constants from the operator module."""
    from llm_training_data_pipeline_spark.operators.pii import PII_PATTERNS

    counts = ",\n                 ".join(
        f"len(regexp_extract_all(text, '{q(pat)}')) AS n_{name}"
        for name, pat, _tok in PII_PATTERNS
    )
    total = " + ".join(f"n_{name}" for name, _p, _t in PII_PATTERNS)
    sums = ",\n               ".join(
        f"CAST(sum(n_{name}) AS BIGINT) AS total_{name}"
        for name, _p, _t in PII_PATTERNS
    )
    return f"""
        WITH corpus AS ({_pii_corpus_sql()}),
        counted AS (
          SELECT {counts}
          FROM corpus
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN {total} > 0 THEN 1 ELSE 0 END) AS BIGINT) AS docs_with_pii,
               {sums}
        FROM counted
    """


def redact_pii_sql() -> str:
    """Mirror of ``operators.pii.redact_pii`` over the synthetic corpus:
    the same chained global regexp_replace in PII_PATTERNS order."""
    from llm_training_data_pipeline_spark.operators.pii import PII_PATTERNS

    expr = "text"
    for _name, pat, token in PII_PATTERNS:
        expr = f"regexp_replace({expr}, '{q(pat)}', '{token}', 'g')"
    return f"""
        WITH corpus AS ({_pii_corpus_sql()})
        SELECT doc_id, {expr} AS redacted
        FROM corpus
    """


def q9_product_profit_sql(name_like: str = "red") -> str:
    """TPC-H Q9 shape adapted to the slim schema (no partsupp): profit =
    revenue - estimated supply cost (60% of retail price x quantity) per
    (supplier nation, order year) over parts whose name contains a word."""
    profit = (
        "l.l_extendedprice * (1 - l.l_discount)"
        " - 0.6 * p.p_retailprice * l.l_quantity"
    )
    return f"""
        SELECT n.n_name AS nation,
               CAST(year(o.o_orderdate) AS BIGINT) AS order_year,
               {dsum(profit)} AS profit
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_name LIKE '%{name_like}%'
        JOIN supplier s ON l.l_suppkey = s.s_suppkey
        JOIN nation n ON s.s_nationkey = n.n_nationkey
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        GROUP BY 1, 2
    """


def q12_shipmode_priority_sql(days: int = 60) -> str:
    """TPC-H Q12 shape adapted to the slim schema (no l_shipmode /
    l_receiptdate): per line status, urgent-vs-other order counts among
    lineitems shipped more than ``days`` after the order date."""
    return f"""
        SELECT l.l_linestatus,
               CAST(count(*) FILTER (o.o_orderpriority IN ('1-URGENT', '2-HIGH'))
                    AS BIGINT) AS high_line_count,
               CAST(count(*) FILTER (o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH'))
                    AS BIGINT) AS low_line_count
        FROM lineitem l
        JOIN orders o ON l.l_orderkey = o.o_orderkey
        WHERE l.l_shipdate > o.o_orderdate + INTERVAL {days} DAY
        GROUP BY 1
    """


def q18_large_volume_customers_sql(qty_threshold: int = 300, k: int = 100) -> str:
    """TPC-H Q18 shape: customers with any order whose total lineitem
    quantity exceeds the threshold; top-k by order value."""
    return f"""
        WITH big AS (
          SELECT l_orderkey FROM lineitem
          GROUP BY l_orderkey HAVING {dsum('l_quantity')} > {qty_threshold}
        )
        SELECT c.c_name, c.c_custkey, o.o_orderkey,
               strftime(o.o_orderdate, '%Y-%m-%d') AS o_orderdate,
               round(o.o_totalprice, 2) AS o_totalprice,
               {dsum('l.l_quantity')} AS total_qty
        FROM orders o
        JOIN big ON o.o_orderkey = big.l_orderkey
        JOIN customer c ON o.o_custkey = c.c_custkey
        JOIN lineitem l ON l.l_orderkey = o.o_orderkey
        GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
        ORDER BY o.o_totalprice DESC, o.o_orderkey
        LIMIT {k}
    """


def q13_order_count_distribution_sql() -> str:
    """TPC-H Q13 shape: distribution of per-customer order counts (left
    join keeps zero-order customers)."""
    return """
        SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
        FROM (
          SELECT c.c_custkey, CAST(count(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
          GROUP BY c.c_custkey
        )
        GROUP BY c_count
    """


def q15_top_supplier_sql(d1: str = "1996-01-01", d2: str = "1996-04-01") -> str:
    """TPC-H Q15 shape: supplier(s) with the maximum quarterly revenue.
    The revenue aggregate is the exact-unit dsum, so the max comparison
    cannot be split by float noise between engines."""
    rev = dsum("l_extendedprice * (1 - l_discount)")
    return f"""
        WITH revenue AS (
          SELECT l_suppkey, {rev} AS total_revenue
          FROM lineitem
          WHERE l_shipdate >= TIMESTAMP '{d1} 00:00:00'
            AND l_shipdate < TIMESTAMP '{d2} 00:00:00'
          GROUP BY l_suppkey
        )
        SELECT s.s_suppkey, s.s_name, r.total_revenue
        FROM supplier s JOIN revenue r ON s.s_suppkey = r.l_suppkey
        WHERE r.total_revenue = (SELECT max(total_revenue) FROM revenue)
    """


def q17_small_quantity_revenue_sql(brand: str = "Brand#23", frac: float = 0.5) -> str:
    """TPC-H Q17 shape (no p_container): yearly revenue from orders whose
    quantity is below ``frac`` x the part's average quantity. The per-part
    average is the deterministic davg, so the threshold comparison is
    engine-stable."""
    return f"""
        WITH pa AS (
          SELECT l_partkey, {davg('l_quantity')} AS avg_qty
          FROM lineitem GROUP BY l_partkey
        )
        SELECT round(CAST(sum({units('l.l_extendedprice')}) AS DOUBLE)
                     / CAST(10000 AS DOUBLE) / CAST(7 AS DOUBLE), 2) AS avg_yearly,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem l
        JOIN part p ON l.l_partkey = p.p_partkey AND p.p_brand = '{brand}'
        JOIN pa ON pa.l_partkey = l.l_partkey
        WHERE l.l_quantity < {frac} * pa.avg_qty
    """


def q19_disjunctive_revenue_sql() -> str:
    """TPC-H Q19 shape: disjunction of brand x quantity x size bands
    (tests predicate handling across OR branches on a broadcast join)."""
    return f"""
        SELECT {dsum('l.l_extendedprice * (1 - l.l_discount)')} AS revenue,
               CAST(count(*) AS BIGINT) AS n_items
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey
        WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11 AND p.p_size BETWEEN 1 AND 5)
           OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20 AND p.p_size BETWEEN 1 AND 10)
           OR (p.p_brand = 'Brand#34' AND l.l_quantity BETWEEN 20 AND 30 AND p.p_size BETWEEN 1 AND 15)
    """


def q22_global_sales_opportunity_sql(cutoff: str = "2000-01-01") -> str:
    """TPC-H Q22 shape (no phone column: nation key stands in for the
    country code; every synthetic customer has SOME order, so 'no orders'
    becomes 'no orders since cutoff' — lapsed customers): above-average-
    balance lapsed customers per nation. The average threshold is an
    exact-unit mean (unrounded), identical on both engines."""
    mean = (
        f"(SELECT CAST(sum({units('c_acctbal')}) AS DOUBLE)"
        f" / CAST(10000 AS DOUBLE) / count(*) FROM customer WHERE c_acctbal > 0)"
    )
    return f"""
        SELECT c.c_nationkey AS cntrycode,
               CAST(count(*) AS BIGINT) AS numcust,
               {dsum('c.c_acctbal')} AS totacctbal
        FROM customer c
        WHERE c.c_acctbal > {mean}
          AND NOT EXISTS (SELECT 1 FROM orders o
                          WHERE o.o_custkey = c.c_custkey
                            AND o.o_orderdate >= TIMESTAMP '{cutoff} 00:00:00')
        GROUP BY 1
    """


def temperature_mix_weights_sql(strata_col: str = "lang", alpha: float = 0.5) -> str:
    """Mirror of corpus.temperature_mix_weights over documents.

    alpha=0.5 renders as sqrt / 1/sqrt — IEEE-correctly-rounded on both
    engines, unlike pow (JVM Math.pow drifts 1 ulp from libm on a few
    percent of inputs; the Spark side uses the same construction)."""
    if alpha == 0.5:
        pa = "sqrt(CAST(n_docs AS DOUBLE) / N)"
        pr = "1.0 / sqrt(CAST(n_docs AS DOUBLE) / N)"
    else:
        pa = f"pow(CAST(n_docs AS DOUBLE) / N, {alpha})"
        pr = f"pow(CAST(n_docs AS DOUBLE) / N, {alpha - 1.0})"
    return f"""
        WITH s AS (
          SELECT {strata_col} AS stratum, count(*) AS n_docs FROM documents GROUP BY 1
        ), t AS (
          SELECT sum(n_docs) AS N FROM s
        ), w AS (
          SELECT stratum, n_docs,
                 CAST(n_docs AS DOUBLE) / N AS p,
                 {pa} AS pa,
                 {pr} AS pr
          FROM s CROSS JOIN t
        ), nrm AS (
          SELECT sum(pa) AS sum_pa, max(pr) AS max_pr FROM w
        )
        SELECT stratum, CAST(n_docs AS BIGINT) AS n_docs,
               round(p, 6) AS p,
               round(pa / nrm.sum_pa, 6) AS mix_weight,
               round(pr / nrm.max_pr, 6) AS sample_rate
        FROM w CROSS JOIN nrm
    """


def chunk_documents_sql(chunk_chars: int = 2000, overlap_chars: int = 200) -> str:
    """Mirror of corpus.chunk_documents over documents."""
    stride = chunk_chars - overlap_chars
    return f"""
        WITH n AS (
          SELECT doc_id, text,
                 CAST(1 + ceil(greatest(length(text) - {chunk_chars}, 0)
                               / CAST({stride} AS DOUBLE)) AS BIGINT) AS n_chunks
          FROM documents
        ), e AS (
          SELECT doc_id, n_chunks, unnest(range(0, n_chunks)) AS chunk_id, text
          FROM n
        )
        SELECT doc_id,
               CAST(chunk_id AS BIGINT) AS chunk_id,
               n_chunks,
               substring(text, CAST(chunk_id * {stride} + 1 AS INT), {chunk_chars}) AS chunk_text,
               CAST(length(substring(text, CAST(chunk_id * {stride} + 1 AS INT), {chunk_chars})) AS BIGINT) AS chunk_len
        FROM e
    """


def dedup_keep_best_sql() -> str:
    """Mirror of dedup.dedup_keep_best over documents with n_chars as the
    quality score: connected components of the md5-family star graph,
    then keep the longest member per cluster (ties → min id)."""
    clusters = dedup_clusters_sql(
        pairs_sql=minhash_stars_md5_sql(num_perm=16, num_bands=4)
    )
    return f"""
        WITH labels AS ({clusters}), labeled AS (
          SELECT d.doc_id, d.n_chars, coalesce(l.cluster_id, d.doc_id) AS c
          FROM documents d LEFT JOIN labels l USING (doc_id)
        )
        SELECT doc_id, CAST(n_chars AS BIGINT) AS n_chars
        FROM (
          SELECT doc_id, n_chars,
                 row_number() OVER (PARTITION BY c ORDER BY n_chars DESC, doc_id) AS rk
          FROM labeled
        )
        WHERE rk = 1
    """


def _wiki_sql_repl(repl: str) -> str:
    """Render a Java-regex replacement string as a DuckDB replacement
    expression: ``$1`` → RE2 ``\\1``, literal newlines via chr(10) (RE2
    replacement strings do not process ``\\n`` escapes)."""
    out = repl.replace("$1", "\\1")
    segs = ["'" + s.replace("'", "''") + "'" for s in out.split("\n")]
    return "||chr(10)||".join(segs)


def wikitext_fixture_sql_expr() -> str:
    """DuckDB mirror of ``wiki.wikitext_fixture_col`` — byte-identical
    wikitext rendered from a ``documents`` row."""
    from llm_training_data_pipeline_spark.sources.wiki import WIKITEXT_FIXTURE

    parts: list[str] = []
    for kind, val in WIKITEXT_FIXTURE:
        if kind == "lit":
            segs = str(val).split("\n")
            parts.append(
                "||chr(10)||".join("'" + s.replace("'", "''") + "'" for s in segs)
            )
        elif kind == "col":
            parts.append(f"CAST({val} AS VARCHAR)")
        else:
            parts.append(f"substr(text, 1, {int(val)})")
    return "(" + " || ".join(parts) + ")"


def wiki_markup_strip_expr(e: str) -> str:
    """The C13+C14 chain (``wiki.strip_wiki_markup``) as one DuckDB
    expression, built from the SAME rewrite/sentinel tables so the two
    sides cannot drift. Reference: wiki_parser.py:249-293. r8: the
    template stage is the balanced depth-counter fold (token-for-token
    mirror of ``wiki.strip_templates_balanced``), exact at any nesting
    depth."""
    from llm_training_data_pipeline_spark.sources.wiki import (
        _MARKUP_REWRITES,
        _POST_CLEAN,
        _T_CLOSE,
        _T_OPEN,
        _T_SEP,
    )

    sep, op, cl = (f"chr({ord(c)})" for c in (_T_SEP, _T_OPEN, _T_CLOSE))
    toks = (
        f"string_split(replace(replace({e}, '{{{{', {sep}||{op}||{sep}), "
        f"'}}}}', {sep}||{cl}||{sep}), {sep})"
    )
    e = f"""(list_reduce(
        list_prepend(struct_pack(d := 0, a := ''),
          list_transform({toks}, t -> struct_pack(d := 0, a := t))),
        (acc, x) -> CASE
          WHEN x.a = {op} THEN struct_pack(d := acc.d + 1, a := acc.a)
          WHEN x.a = {cl} THEN CASE
            WHEN acc.d > 0 THEN struct_pack(d := acc.d - 1, a := acc.a)
            ELSE struct_pack(d := 0, a := acc.a || '}}}}') END
          ELSE CASE
            WHEN acc.d = 0 THEN struct_pack(d := acc.d, a := acc.a || x.a)
            ELSE acc END
        END)).a"""
    for pat, repl in list(_MARKUP_REWRITES) + list(_POST_CLEAN):
        e = f"regexp_replace({e}, '{q(pat)}', {_wiki_sql_repl(repl)}, 'g')"
    return f"regexp_replace({e}, '{q(STRIP_WS)}', '', 'g')"


def wiki_markup_strip_sql() -> str:
    return f"""
        WITH wt AS (
          SELECT doc_id, {wikitext_fixture_sql_expr()} AS wikitext
          FROM documents
        ), stripped AS (
          SELECT doc_id, {wiki_markup_strip_expr('wikitext')} AS wiki_clean
          FROM wt
        )
        SELECT doc_id, wiki_clean,
               CAST(length(wiki_clean) AS BIGINT) AS clean_chars
        FROM stripped
    """


def ann_recall_report_sql(
    k: int = 10, n_queries: int = 10, dim: int = 64, seed: int = 42
) -> str:
    """Replay of the full ANN recall report: exact cosine top-k ground
    truth, then per-method multi-table hyperplane-LSH top-k and the
    hits/expected/recall aggregate (``similarity.ann_recall``). Methods
    come from ``similarity.RECALL_REPORT_METHODS``; per-table seeds from
    ``similarity.table_seed`` — one source of truth for both engines."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        RECALL_REPORT_METHODS,
        table_seed,
    )

    cos = """CASE WHEN q.nrm = 0 OR c.nrm = 0 THEN 0.0
             ELSE list_sum(list_transform(list_zip(q.vec, c.vec),
                    p -> p[1] * p[2])) / (q.nrm * c.nrm) END"""
    recall = (
        "CAST(floor((hits * 20000 + expected) / (expected * 2.0)) AS BIGINT)"
        " / 10000.0"
    )
    ctes = [
        f"""v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        )""",
        f"""exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round({cos}, 6) DESC, c.vec_id) AS rank
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {n_queries}
          ) WHERE rank <= {k}
        )""",
        f"exp_cnt AS (SELECT count(*) AS expected FROM exact)",
    ]
    selects = []
    for method, num_planes, num_tables in RECALL_REPORT_METHODS:
        buckets = ", ".join(
            f"{_hyperplane_bucket_expr(num_planes, dim, table_seed(seed, t))} AS b{t}"
            for t in range(num_tables)
        )
        on = " OR ".join(f"q.b{t} = c.b{t}" for t in range(num_tables))
        ctes.append(
            f"""bk_{method} AS (
              SELECT vec_id, vec, nrm, {buckets} FROM v
            )"""
        )
        ctes.append(
            f"""approx_{method} AS (
              SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                         ORDER BY cosine DESC, vec_id) AS rank
                FROM (
                  SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id,
                         round({cos}, 6) AS cosine
                  FROM bk_{method} q JOIN bk_{method} c
                    ON ({on}) AND q.vec_id <> c.vec_id
                  WHERE q.vec_id < {n_queries}
                )
              ) WHERE rank <= {k}
            )"""
        )
        ctes.append(
            f"""hit_{method} AS (
              SELECT count(*) AS hits
              FROM approx_{method} a JOIN exact e USING (q_id, vec_id)
            )"""
        )
        selects.append(
            f"""SELECT '{method}' AS method,
                   CAST(hits AS BIGINT) AS hits,
                   CAST(expected AS BIGINT) AS expected,
                   {recall} AS recall
            FROM hit_{method} CROSS JOIN exp_cnt"""
        )
    body = "\n        UNION ALL\n        ".join(selects)
    return "WITH " + ",\n        ".join(ctes) + "\n        " + body


def ann_recall_unified_sql(
    k: int = 10,
    n_queries: int = 10,
    n_clusters: int = 16,
    n_probe: int = 3,
    m: int = 8,
    ks: int = 16,
    dim: int = 64,
    seed: int = 42,
    num_planes: int = 4,
    num_tables: int = 8,
) -> str:
    """Replay of the unified ANN recall table (VERDICT r9 #7): every
    index family — brute (sanity 1.0), OR-amplified LSH, seeded IVF,
    PQ/ADC, Lloyd-refined PQ, IVF+PQ and its residual variant — against
    ONE exact ground truth, each family's ranking rebuilt by its own
    existing oracle SQL inlined as a subquery (single source of truth
    per family; the budget strings are shared literals with the Spark
    side)."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        table_seed,
    )

    cos = """CASE WHEN q.nrm = 0 OR c.nrm = 0 THEN 0.0
             ELSE list_sum(list_transform(list_zip(q.vec, c.vec),
                    p -> p[1] * p[2])) / (q.nrm * c.nrm) END"""
    recall = (
        "CAST(floor((hits * 20000 + expected) / (expected * 2.0)) AS BIGINT)"
        " / 10000.0"
    )
    buckets = ", ".join(
        f"{_hyperplane_bucket_expr(num_planes, dim, table_seed(seed, t))} AS b{t}"
        for t in range(num_tables)
    )
    on = " OR ".join(f"q.b{t} = c.b{t}" for t in range(num_tables))
    lsh = f"""
        WITH lv AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), bk AS (SELECT vec_id, vec, nrm, {buckets} FROM lv)
        SELECT q_id, vec_id FROM (
          SELECT q_id, vec_id,
                 row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS rank
          FROM (
            SELECT DISTINCT q.vec_id AS q_id, c.vec_id AS vec_id,
                   round({cos}, 6) AS cosine
            FROM bk q JOIN bk c ON ({on}) AND q.vec_id <> c.vec_id
            WHERE q.vec_id < {n_queries}
          )
        ) WHERE rank <= {k}
    """
    legs = [
        ("brute", "full scan", "SELECT q_id, vec_id FROM exact"),
        (f"lsh_p{num_planes}_t{num_tables}",
         f"{num_tables} tables / 2^{num_planes} buckets", lsh),
        (f"ivf_c{n_clusters}_p{n_probe}", f"{n_probe}/{n_clusters} lists",
         ivf_topk_seeded_sql(k, n_clusters, n_probe, n_queries)),
        (f"pq_m{m}_ks{ks}", "full scan, m-byte codes",
         pq_topk_sql(k, m, ks, n_queries)),
        (f"pq_refined_m{m}_ks{ks}", "full scan, m-byte codes",
         pq_topk_refined_sql(k, m, ks, n_queries)),
        # the shipped-default family (r11): m=dim/4, ks=256, exact
        # rerank of the 5*k ADC shortlist — budget string in lockstep
        # with queries.q_ann_recall_unified
        ("pq_rr_m16_ks256", "full scan, m-byte codes + 50-vec rerank",
         _pq_rank_sql(k, 16, 256, n_queries, iters=0, rerank=5 * k)),
        (f"ivfpq_c{n_clusters}_p{n_probe}",
         f"{n_probe}/{n_clusters} lists, m-byte codes",
         ivfpq_topk_sql(k, n_clusters, n_probe, m, ks, n_queries)),
        (f"ivfpq_resid_c{n_clusters}_p{n_probe}",
         f"{n_probe}/{n_clusters} lists, m-byte codes",
         ivfpq_topk_sql(k, n_clusters, n_probe, m, ks, n_queries,
                        by_residual=True)),
    ]
    selects = []
    for name, budget, sql in legs:
        selects.append(f"""
        SELECT '{name}' AS method, '{budget}' AS budget,
               CAST(hits AS BIGINT) AS hits,
               CAST(expected AS BIGINT) AS expected,
               {recall} AS recall
        FROM (
          SELECT count(*) AS hits
          FROM (SELECT q_id, vec_id FROM ({sql}) _a) a
          JOIN exact e USING (q_id, vec_id)
        ) CROSS JOIN exp_cnt""")
    body = "\n        UNION ALL\n        ".join(selects)
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round({cos}, 6) DESC, c.vec_id) AS rank
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {n_queries}
          ) WHERE rank <= {k}
        ), exp_cnt AS (SELECT count(*) AS expected FROM exact)
        {body}
    """


def duplicated_span_stats_sql(window: int = 8) -> str:
    """Mirror of corpus.duplicated_span_stats: per-doc fraction of
    ``window``-token spans appearing verbatim in >= 2 distinct docs.
    Same tokenization as ``_lower_toks`` (proven bit-stable via
    unigram_surprisal); dup_fraction uses the exact-integer half-up
    rounding shared with the Spark side."""
    w = window
    return f"""
        WITH t AS (
          SELECT doc_id, {_lower_toks()} AS toks FROM documents
        ), nwin AS (
          SELECT doc_id, toks,
                 greatest(len(toks) - {w - 1}, 0) AS nw
          FROM t
        ), pos AS (
          SELECT doc_id, toks, unnest(range(1, nw + 1)) AS i
          FROM nwin WHERE nw >= 1
        ), h AS (
          SELECT doc_id,
                 md5(array_to_string(toks[i : i + {w - 1}], ' ')) AS wh
          FROM pos
        ), dup AS (
          SELECT wh, 1 AS isdup FROM h GROUP BY wh
          HAVING count(DISTINCT doc_id) >= 2
        ), per AS (
          SELECT h.doc_id,
                 count(*) AS n_windows,
                 sum(coalesce(dup.isdup, 0)) AS n_dup
          FROM h LEFT JOIN dup USING (wh)
          GROUP BY h.doc_id
        )
        SELECT d.doc_id,
               CAST(coalesce(per.n_windows, 0) AS BIGINT) AS n_windows,
               CAST(coalesce(per.n_dup, 0) AS BIGINT) AS dup_windows,
               CASE WHEN coalesce(per.n_windows, 0) > 0 THEN
                 CAST(floor((coalesce(per.n_dup, 0) * 2000000 + per.n_windows)
                            / (per.n_windows * 2.0)) AS BIGINT) / 1000000.0
               ELSE 0.0 END AS dup_fraction
        FROM documents d LEFT JOIN per USING (doc_id)
    """


def remove_duplicated_spans_sql(window: int = 8) -> str:
    """Mirror of corpus.remove_duplicated_spans (keep_first_doc=True):
    tokens covered by a cross-document duplicated window are deleted
    everywhere except in the smallest doc id; rebuild is order-stable
    (list(... ORDER BY pos) ↔ sort_array(collect_list(struct)))."""
    w = window
    return f"""
        WITH t AS (
          SELECT doc_id, {_lower_toks()} AS toks FROM documents
        ), nwin AS (
          SELECT doc_id, toks, greatest(len(toks) - {w - 1}, 0) AS nw FROM t
        ), pos AS (
          SELECT doc_id, toks, unnest(range(1, nw + 1)) AS i
          FROM nwin WHERE nw >= 1
        ), h AS (
          SELECT doc_id, i,
                 md5(array_to_string(toks[i : i + {w - 1}], ' ')) AS wh
          FROM pos
        ), dup AS (
          SELECT wh, min(doc_id) AS keeper FROM h GROUP BY wh
          HAVING count(DISTINCT doc_id) >= 2
        ), flagged AS (
          SELECT h.doc_id, h.i FROM h JOIN dup USING (wh)
          WHERE h.doc_id <> dup.keeper
        ), covered AS (
          SELECT DISTINCT doc_id, unnest(range(i, i + {w})) AS p
          FROM flagged
        ), toks AS (
          SELECT doc_id, unnest(range(1, len(toks) + 1)) AS p, toks
          FROM t WHERE len(toks) > 0
        ), kept AS (
          SELECT tk.doc_id, tk.p, tk.toks[tk.p] AS tok
          FROM toks tk LEFT JOIN covered c
            ON tk.doc_id = c.doc_id AND tk.p = c.p
          WHERE c.doc_id IS NULL
        ), rebuilt AS (
          SELECT doc_id,
                 array_to_string(list(tok ORDER BY p), ' ') AS clean_text,
                 count(*) AS kept_n
          FROM kept GROUP BY doc_id
        )
        SELECT t.doc_id,
               coalesce(rebuilt.clean_text, '') AS clean_text,
               CAST(coalesce(rebuilt.kept_n, 0) AS BIGINT) AS kept_tokens,
               CAST(len(t.toks) - coalesce(rebuilt.kept_n, 0) AS BIGINT)
                 AS removed_tokens
        FROM t LEFT JOIN rebuilt USING (doc_id)
    """


def readability_sql() -> str:
    """Mirror of textstats.with_readability over documents: identical
    counts, identical double expression order, floor-scaled 4dp."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        SENTENCE_RUN_REGEX,
        VOWEL_GROUP_REGEX,
    )

    stripped = f"regexp_replace(text, '{q(STRIP_WS)}', '', 'g')"
    wc = (
        f"CASE WHEN {stripped} = '' THEN 0 "
        f"ELSE len(regexp_split_to_array({stripped}, '\\s+')) END"
    )
    ns = f"greatest(len(regexp_extract_all(text, '{q(SENTENCE_RUN_REGEX)}')), 1)"
    sy = f"len(regexp_extract_all(lower(text), '{q(VOWEL_GROUP_REGEX)}'))"
    wps = f"(CAST({wc} AS DOUBLE) / CAST({ns} AS DOUBLE))"
    spw = f"(CASE WHEN {wc} > 0 THEN CAST({sy} AS DOUBLE) / CAST({wc} AS DOUBLE) ELSE 0.0 END)"
    ease = f"(206.835 - 1.015 * {wps} - 84.6 * {spw})"
    grade = f"(0.39 * {wps} + 11.8 * {spw} - 15.59)"
    return f"""
        SELECT doc_id,
               CAST({wc} AS BIGINT) AS n_words,
               CAST({ns} AS BIGINT) AS n_sentences,
               CAST({sy} AS BIGINT) AS n_syllables,
               CAST(floor({ease} * CAST(10000 AS DOUBLE)) AS BIGINT)
                 / CAST(10000 AS DOUBLE) AS flesch_ease,
               CAST(floor({grade} * CAST(10000 AS DOUBLE)) AS BIGINT)
                 / CAST(10000 AS DOUBLE) AS fk_grade
        FROM documents
    """


def vocab_stats_sql() -> str:
    """Mirror of corpus.vocab_stats over documents (same tokenization as
    ``_lower_toks``; exact integer 6dp rounding)."""
    r6 = (
        lambda num, den: f"CASE WHEN {den} > 0 THEN "
        f"CAST(floor(({num} * 2000000 + {den}) / ({den} * 2.0)) AS BIGINT)"
        f" / 1000000.0 ELSE 0.0 END"
    )
    return f"""
        WITH w AS (
          SELECT unnest({_lower_toks()}) AS word FROM documents
        ), per_type AS (
          SELECT word, count(*) AS n FROM w GROUP BY word
        ), agg AS (
          SELECT CAST(sum(n) AS BIGINT) AS total_tokens,
                 CAST(count(*) AS BIGINT) AS distinct_types,
                 CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS hapax_types,
                 CAST(max(n) AS BIGINT) AS top_type_freq
          FROM per_type
        )
        SELECT total_tokens, distinct_types, hapax_types, top_type_freq,
               {r6('distinct_types', 'total_tokens')} AS type_token_ratio,
               {r6('hapax_types', 'distinct_types')} AS hapax_share
        FROM agg
    """


def bigram_surprisal_sql() -> str:
    """Mirror of corpus.bigram_surprisal: interpolated bigram LM
    (0.75·c12/c1 + 0.25·(c2+1)/(N+V), dyadic weights), per-pair -ln in
    exact 1e-8 units. DuckDB builds the adjacent pairs by 1-based list
    indexing over the same whitespace token array."""
    return f"""
        WITH toks AS (
          SELECT doc_id, {_lower_toks()} AS toks FROM documents
        ), bgidx AS (
          SELECT doc_id, toks, unnest(range(1, len(toks))) AS i FROM toks
        ), bg AS (
          SELECT doc_id, toks[CAST(i AS INT)] AS w1,
                 toks[CAST(i AS INT) + 1] AS w2
          FROM bgidx
        ), uni AS (
          SELECT word, count(*) AS n
          FROM (SELECT unnest(toks) AS word FROM toks) GROUP BY word
        ), bmodel AS (
          SELECT w1, w2, count(*) AS n12 FROM bg GROUP BY w1, w2
        ), tot AS (
          SELECT sum(n) AS total, count(*) AS v FROM uni
        ), scored AS (
          SELECT bg.doc_id,
                 0.75 * (CAST(bmodel.n12 AS DOUBLE) / CAST(u1.n AS DOUBLE))
                 + 0.25 * (CAST(u2.n + 1 AS DOUBLE)
                           / CAST(tot.total + tot.v AS DOUBLE)) AS p
          FROM bg
          JOIN bmodel USING (w1, w2)
          JOIN uni u1 ON u1.word = bg.w1
          JOIN uni u2 ON u2.word = bg.w2
          CROSS JOIN tot
        )
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
               round(CAST(sum(CAST(floor(-ln(p) * CAST(100000000 AS DOUBLE))
                              AS BIGINT)) AS DOUBLE)
                     / CAST(100000000 AS DOUBLE) / count(*), 6)
                 AS avg_bigram_surprisal
        FROM scored
        GROUP BY doc_id
    """


def token_budget_sql(budget_tokens: int = 600) -> str:
    """Mirror of corpus.select_token_budget's definitional form: ONE
    per-stratum window over (type-token-ratio units DESC, doc_id), keep
    the prefix with cumulative tokens within budget. The Spark side's
    bucket-pruned path is bit-identical by construction (pinned in
    tests), so this replays both."""
    return f"""
        WITH toks AS (
          SELECT source AS strata, doc_id, {_lower_toks()} AS toks
          FROM documents
        ), scored AS (
          SELECT strata, doc_id,
                 CAST(len(toks) AS BIGINT) AS n_tokens,
                 CAST((len(list_distinct(toks)) * 1000000) // len(toks)
                      AS BIGINT) AS score_units
          FROM toks WHERE len(toks) > 0
        ), cum AS (
          SELECT *, sum(n_tokens) OVER (
                   PARTITION BY strata
                   ORDER BY score_units DESC, doc_id
                   ROWS UNBOUNDED PRECEDING) AS cum_tokens
          FROM scored
        )
        SELECT strata, doc_id, score_units, n_tokens,
               CAST(cum_tokens AS BIGINT) AS cum_tokens
        FROM cum WHERE cum_tokens <= {budget_tokens}
    """


def html_fixture_sql_expr() -> str:
    """DuckDB mirror of ``html.html_fixture_col`` — byte-identical HTML
    rendered from a ``documents`` row."""
    from llm_training_data_pipeline_spark.sources.html import HTML_FIXTURE

    parts: list[str] = []
    for kind, val in HTML_FIXTURE:
        if kind == "lit":
            segs = str(val).split("\n")
            parts.append(
                "||chr(10)||".join("'" + s.replace("'", "''") + "'" for s in segs)
            )
        elif kind == "col":
            parts.append(f"CAST({val} AS VARCHAR)")
        else:
            parts.append(f"substr(text, 1, {int(val)})")
    return "(" + " || ".join(parts) + ")"


def html_to_text_expr(e: str) -> str:
    """The HTML→text chain (``html.html_to_text``) as one DuckDB
    expression, built from the SAME rewrite/entity tables so the two
    engines cannot drift."""
    from llm_training_data_pipeline_spark.sources.html import (
        _HTML_BLOCK_REWRITES,
        _HTML_ENTITIES,
        _HTML_POST_CLEAN,
        _HTML_TAG_REWRITES,
    )

    for pat, repl in list(_HTML_BLOCK_REWRITES) + list(_HTML_TAG_REWRITES):
        e = f"regexp_replace({e}, '{q(pat)}', {_wiki_sql_repl(repl)}, 'g')"
    for ent, ch in _HTML_ENTITIES:
        e = f"replace({e}, '{ent.replace(chr(39), chr(39) * 2)}', '{ch.replace(chr(39), chr(39) * 2)}')"
    for pat, repl in _HTML_POST_CLEAN:
        e = f"regexp_replace({e}, '{q(pat)}', {_wiki_sql_repl(repl)}, 'g')"
    return f"regexp_replace({e}, '{q(STRIP_WS)}', '', 'g')"


def html_to_text_sql() -> str:
    return f"""
        WITH h AS (
          SELECT doc_id, {html_fixture_sql_expr()} AS raw_html
          FROM documents
        ), stripped AS (
          SELECT doc_id, {html_to_text_expr('raw_html')} AS extracted
          FROM h
        )
        SELECT doc_id, extracted,
               CAST(length(extracted) AS BIGINT) AS extracted_chars
        FROM stripped
    """


def key_skew_profile_sql(table: str = "events", key: str = "user_id", top_k: int = 5) -> str:
    """Mirror of scale.key_skew_profile: per-key counts, corpus totals,
    top-k by (count desc, key-string asc), exact 6dp half-up units."""

    def u6(num: str, den: str) -> str:
        return (
            f"CASE WHEN {den} > 0 THEN "
            f"CAST(floor(({num} * 2000000 + {den}) / ({den} * 2.0)) AS BIGINT)"
            f" / 1000000.0 ELSE 0.0 END"
        )

    return f"""
        WITH per_key AS (
          SELECT CAST({key} AS VARCHAR) AS key, count(*) AS n_rows
          FROM {table} GROUP BY 1
        ), tot AS (
          SELECT sum(n_rows) AS total, count(*) AS n_keys, max(n_rows) AS max_n
          FROM per_key
        ), ranked AS (
          SELECT key, n_rows, tot.total, tot.n_keys, tot.max_n,
                 row_number() OVER (ORDER BY n_rows DESC, key) AS rank
          FROM per_key CROSS JOIN tot
        )
        SELECT CAST(rank AS BIGINT) AS rank, key,
               CAST(n_rows AS BIGINT) AS n_rows,
               CAST(n_keys AS BIGINT) AS n_keys,
               {u6('n_rows', 'total')} AS row_share,
               {u6('max_n * n_keys', 'total')} AS skew_factor
        FROM ranked WHERE rank <= {top_k}
    """


def tfidf_top_terms_sql(k: int = 3) -> str:
    """Mirror of corpus.tfidf_top_terms: idf in exact 1e-8 units per
    term, exact long tf·idf products, per-doc top-k by (score desc,
    term asc)."""
    return f"""
        WITH w AS (
          SELECT doc_id, unnest({_lower_toks()}) AS word FROM documents
        ), tf AS (
          SELECT doc_id, word, count(*) AS tf FROM w GROUP BY doc_id, word
        ), docfreq AS (
          SELECT word, count(*) AS df_docs FROM tf GROUP BY word
        ), nd AS (
          SELECT count(DISTINCT doc_id) AS d FROM tf
        ), scored AS (
          SELECT tf.doc_id, tf.word, tf.tf,
                 tf.tf * CAST(floor(ln(CAST(nd.d AS DOUBLE)
                              / CAST(docfreq.df_docs AS DOUBLE))
                              * CAST(100000000 AS DOUBLE)) AS BIGINT)
                   AS score_units
          FROM tf JOIN docfreq USING (word) CROSS JOIN nd
        ), ranked AS (
          SELECT *, row_number() OVER (
                   PARTITION BY doc_id
                   ORDER BY score_units DESC, word) AS rank
          FROM scored
        )
        SELECT doc_id, CAST(rank AS BIGINT) AS rank, word AS term,
               CAST(tf AS BIGINT) AS tf,
               round(CAST(score_units AS DOUBLE)
                     / CAST(100000000 AS DOUBLE), 6) AS tfidf
        FROM ranked WHERE rank <= {k}
    """


def bloom_incremental_sql(split_id: int = 250) -> str:
    """Oracle for the Bloom-prefiltered incremental dedup: the filter
    composition is provably bit-identical to the plain digest anti-join
    (no false negatives), so the mirror IS the anti-join."""
    h = f"md5(lower(regexp_replace(text, '{q(STRIP_WS)}', '', 'g')))"
    return f"""
        WITH corpus AS (
          SELECT DISTINCT {h} AS digest FROM documents WHERE doc_id < {split_id}
        )
        SELECT doc_id, source, CAST(n_chars AS BIGINT) AS n_chars
        FROM documents d
        WHERE d.doc_id >= {split_id}
          AND {h.replace('text', 'd.text')} NOT IN (SELECT digest FROM corpus)
    """


def _weight_units_case_sql(weights: dict[str, float], default_weight: float) -> str:
    whens = "".join(
        f"WHEN source = '{name}' THEN {int(round(wt * 1000))} "
        for name, wt in sorted(weights.items())
    )
    return f"CASE {whens}ELSE {int(round(default_weight * 1000))} END"


def _mixture_plan_cte(
    weights: dict[str, float], budget_tokens: int, default_weight: float = 1.0
) -> str:
    """Shared CTE chain mirroring corpus.mixture_epoch_plan's exact
    integer arithmetic (1e-3 weight units, 1e-4 epoch units)."""
    return f"""
        per AS (
          SELECT source,
                 CAST(sum(len({_lower_toks()})) AS BIGINT) AS available_tokens,
                 {_weight_units_case_sql(weights, default_weight)} AS w_units
          FROM documents GROUP BY source
        ), tot AS (
          SELECT sum(w_units) AS tot_w FROM per
        ), plan AS (
          SELECT source, available_tokens,
                 CAST(({budget_tokens} * w_units) // tot.tot_w AS BIGINT)
                   AS target_tokens,
                 CASE WHEN available_tokens > 0
                      THEN CAST(((({budget_tokens} * w_units) // tot.tot_w)
                                 * 10000) // available_tokens AS BIGINT)
                      ELSE 0 END AS epochs_units
          FROM per CROSS JOIN tot
        )
    """


def mixture_epoch_plan_sql(
    weights: dict[str, float], budget_tokens: int, default_weight: float = 1.0
) -> str:
    return f"""
        WITH {_mixture_plan_cte(weights, budget_tokens, default_weight)}
        SELECT source, available_tokens, target_tokens,
               CAST(epochs_units AS DOUBLE) / 10000.0 AS epochs
        FROM plan
    """


def mixture_apply_sql(
    weights: dict[str, float], budget_tokens: int, default_weight: float = 1.0
) -> str:
    key = "(((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 10000"
    return f"""
        WITH {_mixture_plan_cte(weights, budget_tokens, default_weight)}
        SELECT d.doc_id, d.source,
               CAST(p.epochs_units // 10000
                    + CASE WHEN {key} < p.epochs_units % 10000
                           THEN 1 ELSE 0 END AS BIGINT) AS n_copies
        FROM documents d JOIN plan p USING (source)
        WHERE p.epochs_units // 10000
              + CASE WHEN {key} < p.epochs_units % 10000 THEN 1 ELSE 0 END > 0
    """


def eval_holdout_stats_sql(per_source: int = 10) -> str:
    """Mirror of corpus.eval_holdout aggregated per source: quota
    candidates by the arithmetic sample key (fine-grained: buckets =
    the hash modulus), exact-digest decontamination (candidate rejected
    iff its md5(lower(trim(text))) digest appears outside the candidate
    set), per-source counts."""
    key = "(((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000003"
    dg = (
        "coalesce(md5(lower(regexp_replace(text, "
        f"'{q(STRIP_WS)}', '', 'g'))), '(null-text)')"
    )
    return f"""
        WITH staged AS (
          SELECT doc_id, source, {key} AS hk, {dg} AS dg FROM documents
        ), cand AS (
          SELECT *, (row_number() OVER (PARTITION BY source
                       ORDER BY hk, doc_id)) <= {per_source} AS is_cand
          FROM staged
        ), dstats AS (
          SELECT dg, count(*) AS nt,
                 sum(CASE WHEN is_cand THEN 1 ELSE 0 END) AS nc
          FROM cand GROUP BY dg
        ), tagged AS (
          SELECT c.source,
                 CASE WHEN c.is_cand AND d.nt = d.nc THEN 'eval'
                      ELSE 'train' END AS split,
                 CASE WHEN c.is_cand AND d.nt > d.nc THEN 1 ELSE 0 END AS rej
          FROM cand c JOIN dstats d USING (dg)
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN split = 'eval' THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_eval,
               CAST(sum(rej) AS BIGINT) AS n_rejected
        FROM tagged GROUP BY source ORDER BY source
    """


def dataset_split_sql(val_permille: int = 50, test_permille: int = 50) -> str:
    """Mirror of corpus.dataset_split aggregated per (source, split)."""
    key = "(((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000"
    return f"""
        SELECT source,
               CASE WHEN {key} < {val_permille} THEN 'val'
                    WHEN {key} < {val_permille + test_permille} THEN 'test'
                    ELSE 'train' END AS split,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(doc_id) AS BIGINT) AS min_id,
               CAST(max(doc_id) AS BIGINT) AS max_id
        FROM documents
        GROUP BY 1, 2
    """


def blocklist_sql(terms: list[str]) -> str:
    """Mirror of corpus.with_blocklist_hits aggregated per source: the
    SAME alternation pattern via the shared builder."""
    from llm_training_data_pipeline_spark.operators.corpus import blocklist_pattern

    pat = q(blocklist_pattern(terms))
    return f"""
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(len(regexp_extract_all(text, '{pat}'))) AS BIGINT)
                 AS total_hits,
               CAST(sum(CASE WHEN len(regexp_extract_all(text, '{pat}')) > 0
                             THEN 1 ELSE 0 END) AS BIGINT) AS blocked_docs
        FROM documents
        GROUP BY source
    """


def embedding_centroids_sql() -> str:
    """Mirror of the per-(label, dim) centroid aggregate: exact 1e-6
    integer unit sums, half-up 6dp means."""
    return """
        WITH ei AS (
          SELECT label, embedding,
                 unnest(range(1, len(embedding) + 1)) AS i
          FROM embeddings
        ), e AS (
          SELECT label, CAST(i - 1 AS BIGINT) AS dim,
                 CAST(floor(CAST(embedding[CAST(i AS INT)] AS DOUBLE) * 1000000)
                      AS BIGINT) AS vu
          FROM ei
        )
        SELECT CAST(label AS BIGINT) AS label, CAST(dim AS BIGINT) AS dim,
               CAST(count(*) AS BIGINT) AS n_vecs,
               CAST(floor((sum(vu) * 2 + count(*)) / (count(*) * 2.0)) AS BIGINT)
                 / 1000000.0 AS centroid
        FROM e
        GROUP BY label, dim
    """


def event_funnel_sql() -> str:
    """Mirror of the view→click→purchase funnel: per-user first-view
    time, first click strictly after it, first purchase strictly after
    that; exact 4dp half-up conversion rates."""

    def u4(num: str, den: str) -> str:
        return (
            f"CASE WHEN {den} > 0 THEN "
            f"CAST(floor(({num} * 20000 + {den}) / ({den} * 2.0)) AS BIGINT)"
            f" / 10000.0 ELSE 0.0 END"
        )

    return f"""
        WITH s1 AS (
          SELECT user_id, min(CASE WHEN event_type = 'view' THEN ts END) AS t1
          FROM events GROUP BY user_id
        ), s2 AS (
          SELECT e.user_id, s1.t1,
                 min(CASE WHEN e.event_type = 'click' AND e.ts > s1.t1
                          THEN e.ts END) AS t2
          FROM events e JOIN s1 USING (user_id)
          GROUP BY e.user_id, s1.t1
        ), s3 AS (
          SELECT e.user_id, s2.t1, s2.t2,
                 min(CASE WHEN e.event_type = 'purchase' AND e.ts > s2.t2
                          THEN e.ts END) AS t3
          FROM events e JOIN s2 USING (user_id)
          GROUP BY e.user_id, s2.t1, s2.t2
        )
        SELECT CAST(count(*) AS BIGINT) AS n_users,
               CAST(sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_view,
               CAST(sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_click,
               CAST(sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS reached_purchase,
               {u4("sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)", "sum(CASE WHEN t1 IS NOT NULL THEN 1 ELSE 0 END)")} AS view_to_click,
               {u4("sum(CASE WHEN t3 IS NOT NULL THEN 1 ELSE 0 END)", "sum(CASE WHEN t2 IS NOT NULL THEN 1 ELSE 0 END)")} AS click_to_purchase
        FROM s3
    """


def source_vocab_overlap_sql() -> str:
    """Mirror of corpus.source_vocab_overlap: distinct (source, word)
    self-join, exact 1e-6 half-up Jaccard."""
    return f"""
        WITH sv AS (
          SELECT DISTINCT source AS src, word
          FROM (SELECT source, unnest({_lower_toks()}) AS word FROM documents)
        ), sizes AS (
          SELECT src, count(*) AS vocab FROM sv GROUP BY src
        ), inter AS (
          SELECT a.src AS src_a, b.src AS src_b, count(*) AS n_shared
          FROM sv a JOIN sv b ON a.word = b.word AND a.src < b.src
          GROUP BY a.src, b.src
        )
        SELECT src_a, src_b, CAST(n_shared AS BIGINT) AS n_shared,
               CAST(sa.vocab AS BIGINT) AS vocab_a,
               CAST(sb.vocab AS BIGINT) AS vocab_b,
               CAST(floor((n_shared * 2000000 + (sa.vocab + sb.vocab - n_shared))
                          / ((sa.vocab + sb.vocab - n_shared) * 2.0)) AS BIGINT)
                 / 1000000.0 AS jaccard
        FROM inter
        JOIN sizes sa ON sa.src = inter.src_a
        JOIN sizes sb ON sb.src = inter.src_b
    """


def unpivot_order_metrics_sql() -> str:
    """Mirror of the stack()-based unpivot: per-priority order metrics
    rotated to (priority, metric, value) rows."""
    return """
        WITH agg AS (
          SELECT o_orderpriority AS priority,
                 CAST(count(*) AS DOUBLE) AS n_orders,
                 CAST(sum(CAST(floor(o_totalprice * 10000 + 0.5) AS BIGINT)) AS DOUBLE)
                   / 10000.0 AS total_price,
                 CAST(max(o_custkey) AS DOUBLE) AS max_cust
          FROM orders GROUP BY 1
        )
        SELECT priority, metric, value FROM agg
        UNPIVOT (value FOR metric IN (n_orders, total_price, max_cust))
    """


def try_arithmetic_sql() -> str:
    """Mirror of the try_* error-safe surface: division by zero and bad
    casts yield NULL instead of failing the job (ANSI mode is on —
    plain '/' would throw)."""
    return """
        SELECT o_orderkey,
               CAST(o_totalprice / nullif(CAST(o_custkey % 5 AS DOUBLE), 0) AS DOUBLE)
                 AS safe_ratio,
               TRY_CAST(o_orderpriority AS INTEGER) AS bad_cast,
               TRY_CAST(substr(o_orderpriority, 1, 1) AS INTEGER) AS prio_digit
        FROM orders
        WHERE o_orderkey < 500
    """


def nb_classify_sql(label: str = "source", test_mod: int = 5) -> str:
    """Mirror of classify.nb_classify: multinomial Naive Bayes trained on
    doc_id % test_mod != 0, scoring the held-out rest. Same delta
    decomposition (prior + n_d·miss + Σ n_w·Δ), every log truncated to
    exact 1e-8 units and summed as BIGINT; exact half-up 6dp output."""
    u6 = lambda e: (  # noqa: E731
        f"CAST(floor((({e}) * 2 + 100) / 200.0) AS BIGINT) / 1000000.0"
    )
    return f"""
        WITH train AS (
          SELECT * FROM documents WHERE doc_id % {test_mod} != 0
        ), test AS (
          SELECT * FROM documents WHERE doc_id % {test_mod} = 0
        ), tw AS (
          SELECT {label} AS label, unnest({_lower_toks()}) AS word FROM train
        ), wc AS (
          SELECT word, label, count(*) AS nwc FROM tw GROUP BY word, label
        ), tc AS (
          SELECT label, sum(nwc) AS tc FROM wc GROUP BY label
        ), v AS (
          SELECT count(DISTINCT word) AS v FROM wc
        ), n AS (
          SELECT count(*) AS n FROM train
        ), classes AS (
          -- LEFT join + coalesce mirrors the operator: a zero-token
          -- class keeps its prior and the ln(1/V) floor
          SELECT c.label, COALESCE(tc.tc, 0) AS tc, greatest(v.v, 1) AS v,
                 CAST(floor(ln(CAST(c.nc AS DOUBLE) / CAST(n.n AS DOUBLE))
                            * 100000000) AS BIGINT) AS prior_u,
                 CAST(floor(ln(1.0 / CAST(COALESCE(tc.tc, 0)
                                          + greatest(v.v, 1) AS DOUBLE))
                            * 100000000) AS BIGINT) AS miss_u
          FROM (SELECT {label} AS label, count(*) AS nc FROM train GROUP BY 1) c
          LEFT JOIN tc USING (label) CROSS JOIN v CROSS JOIN n
        ), model AS (
          SELECT wc.word, wc.label,
                 CAST(floor(ln(CAST(wc.nwc + 1 AS DOUBLE)
                               / CAST(classes.tc + classes.v AS DOUBLE))
                            * 100000000) AS BIGINT) - classes.miss_u AS delta_u
          FROM wc JOIN classes USING (label)
        ), words AS (
          SELECT doc_id, word, count(*) AS nw
          FROM (SELECT doc_id, unnest({_lower_toks()}) AS word FROM test)
          GROUP BY doc_id, word
        ), doc_totals AS (
          SELECT doc_id, sum(nw) AS total FROM words GROUP BY doc_id
        ), deltas AS (
          SELECT w.doc_id, m.label, sum(w.nw * m.delta_u) AS dsum
          FROM words w JOIN model m USING (word) GROUP BY w.doc_id, m.label
        ), scores AS (
          SELECT dt.doc_id, c.label,
                 c.prior_u + dt.total * c.miss_u + COALESCE(d.dsum, 0) AS score_u
          FROM doc_totals dt CROSS JOIN classes c
          LEFT JOIN deltas d ON d.doc_id = dt.doc_id AND d.label = c.label
        ), ranked AS (
          SELECT doc_id, label, score_u,
                 row_number() OVER w AS rk,
                 lead(score_u, 1) OVER w AS next_u
          FROM scores
          WINDOW w AS (PARTITION BY doc_id ORDER BY score_u DESC, label ASC)
        )
        SELECT doc_id, label AS pred_label,
               {u6('score_u')} AS score,
               {u6('score_u - COALESCE(next_u, score_u)')} AS margin
        FROM ranked WHERE rk = 1
    """


def interval_overlap_sql(mult_us: int = 600_000_000) -> str:
    """Mirror of the binned interval join's per-user summary, in its
    definitional quadratic-per-user form: intervals [ts, ts+value·600s)
    as exact BIGINT microseconds, half-open overlap, a_id < b_id."""
    return f"""
        WITH iv AS (
          SELECT event_id, user_id, epoch_us(ts) AS s,
                 epoch_us(ts) + CAST(floor(value * {mult_us}) AS BIGINT) AS e
          FROM events WHERE ts IS NOT NULL AND value IS NOT NULL
            AND epoch_us(ts) + CAST(floor(value * {mult_us}) AS BIGINT)
                > epoch_us(ts)  -- empty/negative intervals drop (= operator)
        ), p AS (
          SELECT a.user_id,
                 least(a.e, b.e) - greatest(a.s, b.s) AS ov
          FROM iv a JOIN iv b
            ON a.user_id = b.user_id AND a.event_id < b.event_id
           AND a.s < b.e AND b.s < a.e
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(ov) AS DOUBLE) / 1000000.0 AS total_overlap_s,
               CAST(max(ov) AS DOUBLE) / 1000000.0 AS max_overlap_s
        FROM p GROUP BY user_id
    """


def orders_profile_sql() -> str:
    """Mirror of profile_table over the derived orders projection: one
    UNION ALL branch per column (the definitional form of the Spark
    side's single stacked aggregate)."""
    base = """
        SELECT o_orderkey, o_custkey, o_orderstatus, o_orderpriority,
               CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) AS price_cents,
               strftime(o_orderdate, '%Y-%m-%d') AS order_day
        FROM orders
    """
    cols = [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_orderpriority",
        "price_cents",
        "order_day",
    ]
    branches = " UNION ALL ".join(
        f"""
        SELECT '{c}' AS column, CAST(count(*) AS BIGINT) AS n_rows,
               CAST(count({c}) AS BIGINT) AS n_nonnull,
               CAST(count(DISTINCT {c}) AS BIGINT) AS n_distinct,
               CAST(min({c}) AS VARCHAR) AS min_value,
               CAST(max({c}) AS VARCHAR) AS max_value
        FROM base
        """
        for c in cols
    )
    return f"WITH base AS ({base}) {branches}"


def length_histogram_sql(lo: int = 0, hi: int = 600, nb: int = 24) -> str:
    """Mirror of numeric_histogram over documents.n_chars: clamped
    equal-width buckets, exact half-up 6dp share."""
    width = (hi - lo) // nb
    return f"""
        WITH c AS (
          SELECT least({nb - 1}, greatest(0, (n_chars - {lo}) // {width}))
                   AS bucket,
                 count(*) AS n
          FROM documents WHERE n_chars IS NOT NULL GROUP BY 1
        ), t AS (SELECT sum(n) AS total FROM c)
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST({lo} + bucket * {width} AS BIGINT) AS lo_edge,
               CAST({lo} + (bucket + 1) * {width} AS BIGINT) AS hi_edge,
               CAST(n AS BIGINT) AS n,
               CAST(floor((n * 2000000 + t.total) / (t.total * 2.0)) AS BIGINT)
                 / 1000000.0 AS share
        FROM c CROSS JOIN t
    """


def curriculum_phases_sql(n_phases: int = 4) -> str:
    """Mirror of corpus.curriculum_phases over word count: global rank
    by (wc, doc_id), phase = (rank-1)·k // N; per-phase summary."""
    return f"""
        WITH wc AS (
          SELECT doc_id, len({_lower_toks()}) AS words FROM documents
        ), ranked AS (
          SELECT doc_id, words,
                 row_number() OVER (ORDER BY words, doc_id) - 1 AS rn,
                 count(*) OVER () AS total
          FROM wc
        ), phased AS (
          SELECT doc_id, words, (rn * {n_phases}) // total AS phase FROM ranked
        )
        SELECT CAST(phase AS BIGINT) AS phase,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(min(words) AS BIGINT) AS min_words,
               CAST(max(words) AS BIGINT) AS max_words
        FROM phased GROUP BY phase
    """


def embedding_norm_outliers_sql() -> str:
    """Mirror of the norm-outlier flag: exact interpolated p99 of the
    L2 norms (quantile_cont == Spark percentile), rows above it."""
    nrm = (
        "sqrt(list_sum(list_transform(embedding, "
        "x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))))"
    )
    return f"""
        WITH n AS (
          SELECT vec_id, {nrm} AS nrm FROM embeddings
          WHERE embedding IS NOT NULL
        ), t AS (
          SELECT quantile_cont(nrm, 0.99) AS p99 FROM n
        )
        SELECT vec_id,
               CAST(floor(nrm * 1000000) AS BIGINT) / 1000000.0 AS norm,
               round(p99, 4) AS p99_norm
        FROM n CROSS JOIN t WHERE nrm > p99
    """


def corpus_diff_sql() -> str:
    """Mirror of corpus.corpus_diff on the simulated snapshots: old =
    doc_id % 7 != 0 (original text), new = doc_id % 5 != 0 with doc_id
    % 11 == 0 rows edited; per-status counts."""
    return """
        WITH old AS (
          SELECT doc_id, md5(text) AS d, TRUE AS in_old
          FROM documents WHERE doc_id % 7 != 0
        ), new AS (
          SELECT doc_id,
                 md5(CASE WHEN doc_id % 11 = 0 THEN text || ' [edited]'
                          ELSE text END) AS d,
                 TRUE AS in_new
          FROM documents WHERE doc_id % 5 != 0
        ), j AS (
          SELECT COALESCE(old.doc_id, new.doc_id) AS doc_id,
                 CASE WHEN old.in_old IS NULL THEN 'added'
                      WHEN new.in_new IS NULL THEN 'removed'
                      WHEN old.d IS DISTINCT FROM new.d THEN 'changed'
                      ELSE 'unchanged' END AS status
          FROM old FULL OUTER JOIN new ON old.doc_id = new.doc_id
        )
        SELECT status, CAST(count(*) AS BIGINT) AS n_docs
        FROM j GROUP BY status
    """


def click_attribution_sql(window_minutes: int = 30) -> str:
    """Mirror of streaming.join_stream.attribution_join run in batch:
    purchases within [click_ts, click_ts + window] per user; per-user
    pair count + exact 2dp attributed value."""
    return f"""
        WITH c AS (
          SELECT user_id, event_id AS click_id, ts AS click_ts
          FROM events WHERE event_type = 'click'
        ), p AS (
          SELECT user_id, event_id AS purchase_id, ts AS purchase_ts, value
          FROM events WHERE event_type = 'purchase'
        ), j AS (
          SELECT c.user_id, p.value
          FROM c JOIN p ON c.user_id = p.user_id
           AND p.purchase_ts >= c.click_ts
           AND p.purchase_ts <= c.click_ts + INTERVAL {window_minutes} MINUTE
        )
        SELECT user_id, CAST(count(*) AS BIGINT) AS n_attributed,
               CAST(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) AS DOUBLE)
                 / 100.0 AS attributed_value
        FROM j GROUP BY user_id
    """


def event_anomalies_sql() -> str:
    """Mirror of the hourly-count anomaly flag. The 3-sigma test runs in
    EXACT integer arithmetic — c > mean + 3·sigma rewritten as
    (n·c − S)²·(n−1) > 9·n·(n·Q − S²) with S=Σc, Q=Σc² over the type's
    hourly counts — no float mean/stddev/sqrt anywhere, so both engines
    agree bit-for-bit and partitioning cannot flip a boundary case."""
    return """
        WITH hc AS (
          SELECT event_type, date_trunc('hour', ts) AS hour_start,
                 count(*) AS c
          FROM events GROUP BY 1, 2
        ), st AS (
          SELECT event_type, count(*) AS n, sum(c) AS s, sum(c * c) AS q
          FROM hc GROUP BY event_type
        )
        SELECT hc.event_type,
               strftime(hc.hour_start, '%Y-%m-%d %H:%M:%S') AS hour_start,
               CAST(hc.c AS BIGINT) AS n_events,
               CAST(floor((st.s * 2000000 + st.n) / (st.n * 2.0)) AS BIGINT)
                 / 1000000.0 AS mean_hourly
        FROM hc JOIN st USING (event_type)
        WHERE st.n > 1
          AND hc.c * st.n > st.s
          AND (CAST(hc.c AS HUGEINT) * st.n - st.s)
              * (CAST(hc.c AS HUGEINT) * st.n - st.s) * (st.n - 1)
              > 9 * CAST(st.n AS HUGEINT)
                  * (CAST(st.n AS HUGEINT) * st.q
                     - CAST(st.s AS HUGEINT) * st.s)
    """


def lang_confusion_sql(lang_table: str | None = None) -> str:
    """Mirror of the labeled-vs-detected language cross-tab (reuses the
    full lang-id CASE mirror; exact half-up 6dp row-share)."""
    d_src = (
        f"SELECT lang, {_lang_id_case_staged_sql()} AS detected_lang FROM "
        f"({_lang_scored_wrap_sql('SELECT lang, text FROM documents')})"
        if lang_table is None
        else f"SELECT lang, detected_lang FROM documents JOIN {lang_table} USING (doc_id)"
    )
    return f"""
        WITH d AS (
          {d_src}
        ), c AS (
          SELECT lang, detected_lang, count(*) AS n FROM d GROUP BY 1, 2
        ), t AS (
          SELECT lang, sum(n) AS tot FROM c GROUP BY lang
        )
        SELECT c.lang, c.detected_lang, CAST(c.n AS BIGINT) AS n_docs,
               CAST(floor((c.n * 2000000 + t.tot) / (t.tot * 2.0)) AS BIGINT)
                 / 1000000.0 AS row_share
        FROM c JOIN t USING (lang)
    """


def equidepth_histogram_sql(num_buckets: int = 10) -> str:
    """Mirror of profile.equidepth_histogram over documents.n_chars:
    quantile_cont boundary list (== Spark percentile array), range
    bands, last band inclusive."""
    ps = ", ".join(str(i / num_buckets) for i in range(num_buckets + 1))
    return f"""
        WITH v AS (
          SELECT n_chars AS x FROM documents WHERE n_chars IS NOT NULL
        ), b AS (
          SELECT quantile_cont(x, [{ps}]) AS bs FROM v
        ), idx AS (
          SELECT unnest(range(1, len(bs))) AS i, bs FROM b
        ), bands AS (
          SELECT CAST(i - 1 AS BIGINT) AS bucket,
                 bs[CAST(i AS INT)] AS lo_edge,
                 bs[CAST(i AS INT) + 1] AS hi_edge
          FROM idx
        )
        SELECT bucket, lo_edge, hi_edge, CAST(count(*) AS BIGINT) AS n
        FROM v JOIN bands
          ON x >= lo_edge
         AND (x < hi_edge OR (bucket = {num_buckets - 1} AND x <= hi_edge))
        GROUP BY bucket, lo_edge, hi_edge
    """


def _morton_sql(ux: str, hx: str, bits: int = 8) -> str:
    """Bit-interleave SQL expression (mirror of scale.morton_key)."""
    parts = [
        f"((({ux} >> {i}) & 1) << {2 * i}) | ((({hx} >> {i}) & 1) << {2 * i + 1})"
        for i in range(bits)
    ]
    return "(" + " | ".join(f"({p})" for p in parts) + ")"


def zorder_locality_sql(bits: int = 8, bucket_bits: int = 4) -> str:
    """Mirror of the Z-order locality demo over events: normalize
    (user_id, hour) to 2^bits grids, Morton-interleave, bucket by the
    top bits, report per-bucket spans of BOTH dimensions."""
    norm = (
        lambda v, lo, hi: f"CAST(floor(CAST(({v} - {lo}) * {1 << bits} AS DOUBLE)"
        f" / CAST({hi} - {lo} + 1 AS DOUBLE)) AS BIGINT)"
    )
    shift = 2 * bits - bucket_bits
    return f"""
        WITH e AS (
          SELECT user_id, epoch_us(ts) // 3600000000 AS hour FROM events
        ), r AS (
          SELECT min(user_id) AS ulo, max(user_id) AS uhi,
                 min(hour) AS hlo, max(hour) AS hhi
          FROM e
        ), g AS (
          SELECT e.user_id, e.hour,
                 {norm('e.user_id', 'r.ulo', 'r.uhi')} AS ux,
                 {norm('e.hour', 'r.hlo', 'r.hhi')} AS hx
          FROM e CROSS JOIN r
        ), z AS (
          SELECT user_id, hour, {_morton_sql('ux', 'hx')} >> {shift} AS bucket
          FROM g
        )
        SELECT CAST(bucket AS BIGINT) AS bucket,
               CAST(count(*) AS BIGINT) AS n_events,
               CAST(max(user_id) - min(user_id) AS BIGINT) AS user_span,
               CAST(max(hour) - min(hour) AS BIGINT) AS hour_span
        FROM z GROUP BY bucket
    """


def event_paths_sql(steps: int = 5, top_k: int = 10) -> str:
    """Mirror of the top-k first-N event-type paths: per-user ordered
    type list (ts, event_id tie-break), first ``steps`` joined with
    '>', frequency top-k (count DESC, path ASC)."""
    return f"""
        WITH p AS (
          SELECT user_id,
                 array_to_string(
                   list_slice(list(event_type ORDER BY ts, event_id),
                              1, {steps}), '>') AS path
          FROM events GROUP BY user_id
        ), c AS (
          SELECT path, count(*) AS n_users FROM p GROUP BY path
        )
        SELECT path, CAST(n_users AS BIGINT) AS n_users
        FROM c ORDER BY n_users DESC, path ASC LIMIT {top_k}
    """


def weighted_sample_sql(base_rate: float = 0.5) -> str:
    """Mirror of corpus.weighted_sample with weight = n_chars/600 capped
    at 1 (longer docs kept more often); per-source survivor counts."""
    key = "(((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000000"
    w = "least(CAST(n_chars AS DOUBLE) / 600.0, 1.0)"
    return f"""
        WITH kept AS (
          SELECT * FROM documents
          WHERE {key} < least(1000000.0, {w} * {base_rate} * 1000000)
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM kept GROUP BY source
    """


def _seg_lid_ctes(w: int, lid_table: str | None = None) -> str:
    """CTE chain ending in lid(doc_id, seg_idx, seg, seg_lang): fixed
    word-window segments of the lowered token stream with the full lang-id
    CASE per segment.  lid_table short-circuits to a pre-materialized
    table holding the SAME chain's output (see seg_lang_table_sql) so a
    sweep evaluates the 62-language CASE once, not once per consumer."""
    if lid_table is not None:
        return f"lid AS (SELECT * FROM {lid_table})"
    return f"""toks AS (
          SELECT doc_id, {_lower_toks()} AS toks FROM documents
        ), nz AS (
          SELECT * FROM toks WHERE len(toks) > 0
        ), idx AS (
          SELECT doc_id, toks,
                 unnest(range(0, CAST(floor((len(toks) - 1) / {w}) AS BIGINT)
                                 + 1)) AS i
          FROM nz
        ), segs AS (
          SELECT doc_id, CAST(i AS BIGINT) AS seg_idx,
                 array_to_string(list_slice(toks, CAST(i * {w} + 1 AS INT),
                                            CAST(i * {w} + {w} AS INT)),
                                 ' ') AS seg
          FROM idx
        ), scored AS (
          {_lang_scored_wrap_sql("SELECT doc_id, seg_idx, seg FROM segs", text_col="seg")}
        ), lid AS (
          SELECT doc_id, seg_idx, seg,
                 {_lang_id_case_staged_sql()} AS seg_lang
          FROM scored
        )"""


def seg_lang_table_sql(words_per_segment: int = 40) -> str:
    """Materialization source for the shared per-segment LID table."""
    return f"WITH {_seg_lid_ctes(words_per_segment)} SELECT * FROM lid"


def lang_materialized_overrides() -> dict[str, str]:
    """Sweep-time rewrites of the language-family oracles against the
    pre-materialized ``_doc_lang`` / ``_seg_lang40`` temp tables (built
    from doc_lang_table_sql / seg_lang_table_sql — the same CASE, run
    once per sf_dir).  The shipped/driver oracles remain the inline
    versions; these exist so tools/driver_mimic.py doesn't replay the
    62-language CASE 7+ times per sweep (~2 min at sf0.01)."""
    return {
        "lang_id_histogram": lang_id_histogram_sql(lang_table="_doc_lang"),
        "lang_confusion_matrix": lang_confusion_sql(lang_table="_doc_lang"),
        "quality_with_language": quality_with_language_sql(
            min_words=20, allowed=("en",), lang_table="_doc_lang"
        ),
        "segment_lang_mix": segment_lang_mix_sql(lid_table="_seg_lang40"),
        "remove_wrong_lang": remove_wrong_lang_sql(lid_table="_seg_lang40"),
    }


def segment_lang_mix_sql(
    words_per_segment: int = 40, lid_table: str | None = None
) -> str:
    """Mirror of textstats.segment_lang_table + the per-doc mix rollup:
    fixed word-window segments of the lowered token stream, the full
    lang-id CASE per segment, dominant language by (count DESC, lang
    ASC)."""
    return f"""
        WITH {_seg_lid_ctes(words_per_segment, lid_table)}, c AS (
          SELECT doc_id, seg_lang, count(*) AS n FROM lid GROUP BY 1, 2
        ), r AS (
          SELECT doc_id, seg_lang, n,
                 row_number() OVER (PARTITION BY doc_id
                                    ORDER BY n DESC, seg_lang ASC) AS rk,
                 sum(n) OVER (PARTITION BY doc_id) AS total,
                 count(*) OVER (PARTITION BY doc_id) AS n_langs
          FROM c
        )
        SELECT doc_id, CAST(total AS BIGINT) AS n_segments,
               CAST(n_langs AS BIGINT) AS n_langs,
               seg_lang AS dominant_lang
        FROM r WHERE rk = 1
    """


def remove_wrong_lang_sql(
    words_per_segment: int = 40, lid_table: str | None = None
) -> str:
    """Mirror of textstats.remove_wrong_lang_segments: per-segment LID,
    dominant language by (count DESC, lang ASC), minority segments
    dropped, text rebuilt in segment order from the lowered windows."""
    return f"""
        WITH {_seg_lid_ctes(words_per_segment, lid_table)}, c AS (
          SELECT doc_id, seg_lang, count(*) AS n FROM lid GROUP BY 1, 2
        ), dom AS (
          SELECT doc_id, seg_lang FROM (
            SELECT doc_id, seg_lang,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY n DESC, seg_lang ASC) AS rk
            FROM c
          ) WHERE rk = 1
        ), tot AS (
          SELECT doc_id, count(*) AS total FROM lid GROUP BY doc_id
        )
        SELECT lid.doc_id,
               string_agg(lid.seg, ' ' ORDER BY lid.seg_idx) AS text,
               CAST(max(tot.total) AS BIGINT) AS n_segments,
               CAST(count(*) AS BIGINT) AS n_kept
        FROM lid
        JOIN dom ON dom.doc_id = lid.doc_id AND dom.seg_lang = lid.seg_lang
        JOIN tot ON tot.doc_id = lid.doc_id
        GROUP BY lid.doc_id
    """


def fim_sample_sql(rate: float = 0.5) -> str:
    """Mirror of corpus.fim_transform: same arithmetic-key selection and
    cut points, PSM rebuild, md5+length projection."""
    key = (
        lambda e, b: f"((({e}) % 1000003 + 1000003) % 1000003 * 2654435761) % {b}"
    )
    return f"""
        WITH s AS (
          SELECT doc_id, text, length(text) AS l,
                 ({key('doc_id', 1000)}) < {rate * 1000} AND length(text) >= 3
                   AS apply_fim,
                 1 + ({key('doc_id * 2 + 1', 1000000)})
                     % greatest(length(text) - 1, 1) AS p1,
                 1 + ({key('doc_id * 3 + 2', 1000000)})
                     % greatest(length(text) - 1, 1) AS p2
          FROM documents
        ), cut AS (
          SELECT doc_id, text, l, apply_fim,
                 least(p1, p2) AS lo, greatest(p1, p2) AS hi
          FROM s
        ), o AS (
          SELECT doc_id, apply_fim,
                 CASE WHEN apply_fim THEN
                   '<fim_prefix>' || substr(text, 1, CAST(lo AS INT))
                   || '<fim_suffix>' || substr(text, CAST(hi + 1 AS INT), CAST(l AS INT))
                   || '<fim_middle>' || substr(text, CAST(lo + 1 AS INT), CAST(hi - lo AS INT))
                 ELSE text END AS out
          FROM cut
        )
        SELECT doc_id, apply_fim AS fim_applied,
               CAST(length(out) AS BIGINT) AS out_len,
               md5(out) AS out_md5
        FROM o
    """


def _semdedup_k(n_clusters: int | str, where: str = "") -> str:
    """SQL expression for the cluster count: ``"auto"`` mirrors
    ``semdedup.scaled_k`` (max(16, n // 128)) as a scalar subquery over
    the same rows the Spark side counts; an int passes through."""
    if n_clusters == "auto":
        return f"(SELECT greatest(16, count(*) // 128) FROM embeddings{where})"
    return str(n_clusters)


def semdedup_pairs_scaled_sql(
    threshold: float = 0.35, per_cluster: int = 128, floor: int = 16
) -> str:
    """semdedup_pairs with k scaled to corpus size — the 100-TB knob
    (k = max(floor, n // per_cluster)) exercised end-to-end: the oracle
    computes the same k as a scalar-subquery LIMIT."""
    k = f"(SELECT greatest({floor}, count(*) // {per_cluster}) FROM embeddings)"
    return f"""
        WITH {_semdedup_pairs_cte(k)}
        SELECT cluster, a_id, b_id, cosine
        FROM pairs WHERE cosine >= {threshold}
    """


def _semdedup_assign_cte(n_clusters: int | str) -> str:
    """CTE chain replaying semdedup.seed_centroids + assign_clusters:
    seed centroids = first k vectors by id, nearest centroid by
    (cosine desc, cluster asc)."""
    cos_c = """CASE WHEN v.nrm = 0 OR c.cnrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(v.vec, c.cvec),
                      p -> p[1] * p[2])) / (v.nrm * c.cnrm) END"""
    return f"""
        v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), c AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                 vec AS cvec, nrm AS cnrm
          FROM (SELECT * FROM v ORDER BY vec_id LIMIT {n_clusters})
        ), assigned AS (
          SELECT v.vec_id, v.vec, v.nrm, c.cluster,
                 {cos_c} AS cs
          FROM v CROSS JOIN c
          QUALIFY row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY cs DESC, c.cluster) = 1
        )"""


def _semdedup_pairs_cte(n_clusters: int | str) -> str:
    """Shared CTE chain replaying semdedup.assign_clusters +
    semdedup_pairs: the assignment chain plus within-cluster pairs."""
    cos_p = """CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                      p -> p[1] * p[2])) / (a.nrm * b.nrm) END"""
    return f"""{_semdedup_assign_cte(n_clusters)}, pairs AS (
          SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id,
                 round({cos_p}, 6) AS cosine
          FROM assigned a JOIN assigned b
            ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        )"""


def semdedup_pairs_sql(
    threshold: float = 0.35, n_clusters: int | str = "auto"
) -> str:
    """Mirror of semdedup.semdedup_pairs over the embeddings table."""
    return f"""
        WITH {_semdedup_pairs_cte(_semdedup_k(n_clusters))}
        SELECT cluster, a_id, b_id, cosine
        FROM pairs WHERE cosine >= {threshold}
    """


def semdedup_stats_sql(
    threshold: float = 0.35, n_clusters: int | str = "auto"
) -> str:
    """Mirror of semdedup.semdedup_stats: min-id-winner retention."""
    return f"""
        WITH {_semdedup_pairs_cte(_semdedup_k(n_clusters))},
        flt AS (SELECT * FROM pairs WHERE cosine >= {threshold}),
        tot AS (SELECT CAST(count(*) AS BIGINT) AS n_vectors FROM embeddings),
        d AS (SELECT CAST(count(*) AS BIGINT) AS n_dup_pairs,
                     CAST(count(DISTINCT b_id) AS BIGINT) AS n_dropped
              FROM flt)
        SELECT n_vectors, n_dup_pairs, n_dropped,
               CASE WHEN n_vectors = 0 THEN NULL
                    ELSE round((n_vectors - n_dropped)
                               / CAST(n_vectors AS DOUBLE), 4) END
                 AS retention
        FROM tot CROSS JOIN d
    """


def pmi_collocations_sql(k: int = 50, min_count: int = 5) -> str:
    """Mirror of corpus.pmi_collocations: exact-count lift ratio in one
    fixed-order double expression, truncated to 1e-6 units pre-rank."""
    return f"""
        WITH toks AS (
          SELECT {_lower_toks()} AS ws FROM documents
        ), uc AS (
          SELECT w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT unnest(ws) AS w FROM toks) GROUP BY w
        ), nu AS (
          SELECT CAST(sum(c) AS BIGINT) AS nu FROM uc
        ), bc AS (
          SELECT w1, w2, CAST(count(*) AS BIGINT) AS c_ab
          FROM (
            SELECT p[1] AS w1, p[2] AS w2
            FROM (SELECT unnest(list_zip(ws, ws[2:])) AS p FROM toks)
            WHERE p[2] IS NOT NULL
          ) GROUP BY w1, w2
        ), nb AS (
          SELECT CAST(sum(c_ab) AS BIGINT) AS nb FROM bc
        ), scored AS (
          SELECT bc.w1, bc.w2, bc.c_ab,
                 CAST(floor(ln(CAST(bc.c_ab AS DOUBLE) * nu.nu * nu.nu
                        / (CAST(a.c AS DOUBLE) * b.c * nb.nb))
                        * CAST(1000000 AS DOUBLE)) AS BIGINT) AS pmi_units
          FROM bc
          JOIN uc a ON bc.w1 = a.w
          JOIN uc b ON bc.w2 = b.w
          CROSS JOIN nu CROSS JOIN nb
          WHERE bc.c_ab >= {min_count}
        )
        SELECT CAST(rank AS BIGINT) AS rank, w1, w2,
               c_ab AS pair_count,
               round(CAST(pmi_units AS DOUBLE)
                     / CAST(1000000 AS DOUBLE), 6) AS pmi
        FROM (SELECT *, row_number() OVER (
                ORDER BY pmi_units DESC, w1, w2) AS rank FROM scored)
        WHERE rank <= {k}
    """


def char_entropy_sql() -> str:
    """Mirror of textstats.char_entropy over documents: per-symbol
    counts via length-difference of literal replace, inner sum in exact
    1e-8 units in fixed alphabet order."""
    from llm_training_data_pipeline_spark.operators.textstats import ENTROPY_ALPHABET

    t = "lower(regexp_replace(text, '[^A-Za-z0-9 ]', '', 'g'))"
    terms = []
    for ch in ENTROPY_ALPHABET:
        lit = ch.replace("'", "''")
        cnt = f"(length(t) - length(replace(t, '{lit}', '')))"
        terms.append(
            f"CASE WHEN {cnt} > 0 THEN {cnt} * CAST(floor(ln(CAST({cnt} AS DOUBLE))"
            f" * CAST(100000000 AS DOUBLE)) AS BIGINT) ELSE 0 END"
        )
    s_units = " + ".join(terms)
    return f"""
        WITH p AS (
          SELECT doc_id, {t} AS t FROM documents
        ), c AS (
          SELECT doc_id, CAST(length(t) AS BIGINT) AS alpha_chars,
                 CAST({s_units} AS BIGINT) AS s_units
          FROM p
        )
        SELECT doc_id, alpha_chars,
               CASE WHEN alpha_chars <= 1 THEN 0.0
                    ELSE round(ln(CAST(alpha_chars AS DOUBLE))
                         - CAST(s_units AS DOUBLE) / CAST(100000000 AS DOUBLE)
                           / CAST(alpha_chars AS DOUBLE), 6) END AS char_entropy
        FROM c
    """


def cap_per_stratum_sql(cap: int = 10) -> str:
    """Mirror of corpus.cap_per_stratum over documents: cap lowest
    (sample_key, doc_id) rows per source."""
    key = "(((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000000"
    return f"""
        SELECT doc_id, source FROM (
          SELECT doc_id, source,
                 row_number() OVER (PARTITION BY source
                     ORDER BY {key} ASC, doc_id ASC) AS rn
          FROM documents
        ) WHERE rn <= {cap}
    """


def semdedup_pairs_refined_sql(
    threshold: float = 0.35, n_clusters: int | str = "auto"
) -> str:
    """Mirror of semdedup.kmeans_refine(iters=1) + pairs_from_assignment:
    seed-centroid assignment, ONE integer-unit Lloyd mean step
    (component quantized to floor(v*1e6) longs, mean = exact half-up
    floor division — no double quotient, so the floor cannot drift
    across engines), nearest-centroid reassignment, within-cluster
    pairs. Clusters that lose every member vanish before reassignment
    on both engines."""
    k = _semdedup_k(n_clusters)
    cos_c = """CASE WHEN v.nrm = 0 OR c.cnrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(v.vec, c.cvec),
                      p -> p[1] * p[2])) / (v.nrm * c.cnrm) END"""
    cos_c2 = """CASE WHEN v.nrm = 0 OR c.cnrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(v.vec, c.cvec),
                      p -> p[1] * p[2])) / (v.nrm * c.cnrm) END"""
    cos_p = """CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                      p -> p[1] * p[2])) / (a.nrm * b.nrm) END"""
    # exact floor division on longs: pmod subtraction, then // is exact
    mu = ("(2*su + n - ((2*su + n) % (2*n) + 2*n) % (2*n)) // (2*n)")
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), c0 AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                 vec AS cvec, nrm AS cnrm
          FROM (SELECT * FROM v ORDER BY vec_id LIMIT {k})
        ), a0 AS (
          SELECT v.vec_id, v.vec, v.nrm, c.cluster, {cos_c} AS cs
          FROM v CROSS JOIN c0 c
          QUALIFY row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY cs DESC, c.cluster) = 1
        ), units AS (
          SELECT cluster,
                 generate_subscripts(vec, 1) AS dim,
                 CAST(floor(unnest(vec) * 1000000) AS BIGINT) AS vu
          FROM a0
        ), m AS (
          SELECT cluster, dim,
                 CAST(count(*) AS BIGINT) AS n, sum(vu) AS su
          FROM units GROUP BY cluster, dim
        ), c1 AS (
          SELECT cluster,
                 list(({mu}) / 1000000.0 ORDER BY dim) AS cvec
          FROM m GROUP BY cluster
        ), c1n AS (
          SELECT cluster, cvec,
                 sqrt(list_sum(list_transform(cvec, x -> x * x))) AS cnrm
          FROM c1
        ), a1 AS (
          SELECT v.vec_id, v.vec, v.nrm, c.cluster, {cos_c2} AS cs
          FROM v CROSS JOIN c1n c
          QUALIFY row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY cs DESC, c.cluster) = 1
        )
        SELECT a.cluster, a.vec_id AS a_id, b.vec_id AS b_id,
               round({cos_p}, 6) AS cosine
        FROM a1 a JOIN a1 b
          ON a.cluster = b.cluster AND a.vec_id < b.vec_id
        WHERE round({cos_p}, 6) >= {threshold}
    """


def semdedup_recall_sql(
    threshold: float = 0.35, n_clusters: int | str = "auto"
) -> str:
    """Mirror of semdedup.semdedup_recall: exact all-pairs ground truth
    vs the within-cluster pair set."""
    cos_t = """CASE WHEN a.nrm = 0 OR b.nrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(a.vec, b.vec),
                      p -> p[1] * p[2])) / (a.nrm * b.nrm) END"""
    return f"""
        WITH {_semdedup_pairs_cte(_semdedup_k(n_clusters))},
        caught AS (
          SELECT a_id, b_id FROM pairs WHERE cosine >= {threshold}
        ), truth AS (
          SELECT a.vec_id AS a_id, b.vec_id AS b_id
          FROM v a JOIN v b ON a.vec_id < b.vec_id
          WHERE round({cos_t}, 6) >= {threshold}
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM truth
        ), hit AS (
          SELECT CAST(count(*) AS BIGINT) AS n_caught
          FROM truth t SEMI JOIN caught c
            ON t.a_id = c.a_id AND t.b_id = c.b_id
        )
        SELECT n_true_pairs, n_caught,
               CASE WHEN n_true_pairs = 0 THEN NULL
                    ELSE round(n_caught / CAST(n_true_pairs AS DOUBLE), 4) END
                 AS recall
        FROM tot CROSS JOIN hit
    """


def minhash_recall_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    shingle_size: int = 5,
) -> str:
    """Mirror of dedup.minhash_recall: exact distinct-shingle Jaccard
    ground truth vs the band-candidate and est-Jaccard-verified sets."""
    eq_terms = " + ".join(
        f"CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(num_perm)
    )
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)},
        dsh AS (
          SELECT doc_id, list_distinct(shingles) AS ds FROM sh
        ), ex AS (
          SELECT doc_id, unnest(ds) AS sg FROM dsh
        ), sz AS (
          SELECT doc_id, CAST(len(ds) AS BIGINT) AS sz FROM dsh
        ), it AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS i
          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), truth AS (
          SELECT id_a, id_b
          FROM it
          JOIN sz sa ON it.id_a = sa.doc_id
          JOIN sz sb ON it.id_b = sb.doc_id
          WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {threshold}
        ), cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.band_sig = y.band_sig
               AND x.doc_id < y.doc_id
        ), emitted AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b
          WHERE ({eq_terms}) / CAST({num_perm} AS DOUBLE) >= {threshold}
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM truth
        ), bh AS (
          SELECT CAST(count(*) AS BIGINT) AS n_band_caught
          FROM truth t SEMI JOIN cand c ON t.id_a = c.id_a AND t.id_b = c.id_b
        ), eh AS (
          SELECT CAST(count(*) AS BIGINT) AS n_emitted_caught
          FROM truth t SEMI JOIN emitted e ON t.id_a = e.id_a AND t.id_b = e.id_b
        )
        SELECT n_true_pairs, n_band_caught, n_emitted_caught,
               CASE WHEN n_true_pairs = 0 THEN NULL
                    ELSE round(n_band_caught / CAST(n_true_pairs AS DOUBLE), 4) END
                 AS band_recall,
               CASE WHEN n_true_pairs = 0 THEN NULL
                    ELSE round(n_emitted_caught / CAST(n_true_pairs AS DOUBLE), 4) END
                 AS emit_recall
        FROM tot CROSS JOIN bh CROSS JOIN eh
    """


def minhash_cap_recall_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    shingle_size: int = 5,
    caps: tuple[int | None, ...] = (None, 16, 4),
) -> str:
    """Mirror of dedup.minhash_cap_recall: per band-bucket cap, the
    candidate-pair volume plus band/emit recall against ONE exact
    distinct-shingle Jaccard ground truth. The cap replays as
    row_number over (band_id, band_sig) ordered by doc_id — the same
    deterministic min-id keep as the Spark WindowGroupLimit form."""
    eq_terms = " + ".join(
        f"CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(num_perm)
    )
    cap_ctes, cap_rows = [], []
    for cap in caps:
        tag = "u" if cap is None else f"c{cap}"
        method = "uncapped" if cap is None else f"cap{cap}"
        capv = -1 if cap is None else cap
        src = (
            "bands"
            if cap is None
            else f"""(
            SELECT doc_id, band_id, band_sig FROM (
              SELECT *, row_number() OVER (PARTITION BY band_id, band_sig
                          ORDER BY doc_id) AS rn
              FROM bands
            ) WHERE rn <= {cap}
          )"""
        )
        cap_ctes.append(f"""cand_{tag} AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM {src} x JOIN {src} y
            ON x.band_id = y.band_id AND x.band_sig = y.band_sig
               AND x.doc_id < y.doc_id
        ), emitted_{tag} AS (
          SELECT c.id_a, c.id_b
          FROM cand_{tag} c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b
          WHERE ({eq_terms}) / CAST({num_perm} AS DOUBLE) >= {threshold}
        )""")
        cap_rows.append(f"""
        SELECT '{method}' AS method, CAST({capv} AS INT) AS max_bucket_size,
               (SELECT CAST(count(*) AS BIGINT) FROM cand_{tag})
                 AS n_candidate_pairs,
               (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_true_pairs,
               (SELECT CAST(count(*) AS BIGINT) FROM truth t
                  SEMI JOIN cand_{tag} c
                    ON t.id_a = c.id_a AND t.id_b = c.id_b)
                 AS n_band_caught,
               (SELECT CAST(count(*) AS BIGINT) FROM truth t
                  SEMI JOIN emitted_{tag} e
                    ON t.id_a = e.id_a AND t.id_b = e.id_b)
                 AS n_emitted_caught""")
    rows = "\n        UNION ALL\n        ".join(
        f"""SELECT method, max_bucket_size, n_candidate_pairs, n_true_pairs,
               n_band_caught, n_emitted_caught,
               CASE WHEN n_true_pairs = 0 THEN NULL
                    ELSE round(n_band_caught / CAST(n_true_pairs AS DOUBLE), 4)
                 END AS band_recall,
               CASE WHEN n_true_pairs = 0 THEN NULL
                    ELSE round(n_emitted_caught / CAST(n_true_pairs AS DOUBLE), 4)
                 END AS emit_recall
        FROM ({r})"""
        for r in cap_rows
    )
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)},
        dsh AS (
          SELECT doc_id, list_distinct(shingles) AS ds FROM sh
        ), ex AS (
          SELECT doc_id, unnest(ds) AS sg FROM dsh
        ), sz AS (
          SELECT doc_id, CAST(len(ds) AS BIGINT) AS sz FROM dsh
        ), it AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(count(*) AS BIGINT) AS i
          FROM ex a JOIN ex b ON a.sg = b.sg AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), truth AS (
          SELECT id_a, id_b
          FROM it
          JOIN sz sa ON it.id_a = sa.doc_id
          JOIN sz sb ON it.id_b = sb.doc_id
          WHERE i / CAST(sa.sz + sb.sz - i AS DOUBLE) >= {threshold}
        ), {", ".join(cap_ctes)}
        {rows}
    """


def band_cap_stats_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    shingle_size: int = 5,
    max_bucket_size: int = 16,
) -> str:
    """Mirror of dedup.band_cap_stats: per-bucket membership counts,
    overflow accounting, and the exact pair-volume saving."""
    c = max_bucket_size
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)},
        per AS (
          SELECT band_id, band_sig, CAST(count(*) AS BIGINT) AS n
          FROM bands GROUP BY band_id, band_sig
        )
        SELECT CAST(count(*) AS BIGINT) AS total_buckets,
               CAST(sum(CASE WHEN n > {c} THEN 1 ELSE 0 END) AS BIGINT)
                 AS capped_buckets,
               CAST(sum(n) AS BIGINT) AS total_memberships,
               CAST(sum(CASE WHEN n > {c} THEN n - {c} ELSE 0 END) AS BIGINT)
                 AS dropped_memberships,
               CAST(max(n) AS BIGINT) AS max_bucket_observed,
               CAST(sum(CASE WHEN n > {c}
                        THEN (n * (n - 1) - {c * (c - 1)}) // 2
                        ELSE 0 END) AS BIGINT) AS pairs_saved
        FROM per
    """


def simhash_recall_sql(
    max_hamming: int = 3, num_bands: int = 4, cos_threshold: float | None = None
) -> str:
    """Mirror of dedup.simhash_recall: exact sparse token-cosine ground
    truth vs the md5-family SimHash pair set."""
    import math

    t = (
        cos_threshold
        if cos_threshold is not None
        else round(math.cos(math.pi * max_hamming / 64), 9)
    )
    toks = (
        f"CASE WHEN regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    emitted = simhash_pairs_md5_sql(max_hamming, num_bands)
    return f"""
        WITH wc AS (
          SELECT doc_id, w, CAST(count(*) AS BIGINT) AS c
          FROM (SELECT doc_id, unnest({toks}) AS w FROM documents)
          GROUP BY doc_id, w
        ), nrm AS (
          SELECT doc_id, CAST(sum(c * c) AS BIGINT) AS n2 FROM wc GROUP BY doc_id
        ), dots AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(sum(a.c * b.c) AS BIGINT) AS dot
          FROM wc a JOIN wc b ON a.w = b.w AND a.doc_id < b.doc_id
          GROUP BY 1, 2
        ), truth AS (
          SELECT id_a, id_b
          FROM dots
          JOIN nrm na ON dots.id_a = na.doc_id
          JOIN nrm nb ON dots.id_b = nb.doc_id
          WHERE dot / sqrt(CAST(na.n2 AS DOUBLE) * nb.n2) >= {t}
        ), emitted AS (
          SELECT id_a, id_b FROM ({emitted})
        ), tot AS (
          SELECT CAST(count(*) AS BIGINT) AS n_true_pairs FROM truth
        ), ht AS (
          SELECT CAST(count(*) AS BIGINT) AS n_caught
          FROM truth t SEMI JOIN emitted e ON t.id_a = e.id_a AND t.id_b = e.id_b
        )
        SELECT n_true_pairs, n_caught,
               CASE WHEN n_true_pairs = 0 THEN NULL
                    ELSE round(n_caught / CAST(n_true_pairs AS DOUBLE), 4) END
                 AS recall
        FROM tot CROSS JOIN ht
    """


def semdedup_against_sql(
    split_id: int = 250, threshold: float = 0.35, n_clusters: int | str = "auto"
) -> str:
    """Mirror of semdedup.semdedup_against with corpus = vec_id <
    split_id, new = the rest, seeds from the corpus side."""
    cos_c = """CASE WHEN v.nrm = 0 OR c.cnrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(v.vec, c.cvec),
                      p -> p[1] * p[2])) / (v.nrm * c.cnrm) END"""
    cos_p = """CASE WHEN n.nrm = 0 OR o.nrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(n.vec, o.vec),
                      p -> p[1] * p[2])) / (n.nrm * o.nrm) END"""
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), c AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS cluster,
                 vec AS cvec, nrm AS cnrm
          FROM (SELECT * FROM v WHERE vec_id < {split_id}
                ORDER BY vec_id
                LIMIT {_semdedup_k(n_clusters, f" WHERE vec_id < {split_id}")})
        ), assigned AS (
          SELECT v.vec_id, v.vec, v.nrm, c.cluster, {cos_c} AS cs
          FROM v CROSS JOIN c
          QUALIFY row_number() OVER (PARTITION BY v.vec_id
                    ORDER BY cs DESC, c.cluster) = 1
        ), drops AS (
          SELECT DISTINCT n.vec_id
          FROM assigned n JOIN assigned o
            ON n.cluster = o.cluster
           AND n.vec_id >= {split_id} AND o.vec_id < {split_id}
          WHERE round({cos_p}, 6) >= {threshold}
        )
        SELECT vec_id, cluster FROM assigned
        WHERE vec_id >= {split_id}
          AND vec_id NOT IN (SELECT vec_id FROM drops)
    """


def surprisal_terciles_sql(by: str = "lang") -> str:
    """Mirror of corpus.surprisal_terciles over documents: per-group
    quantile_cont terciles of the unigram surprisal."""
    return f"""
        WITH s AS ({unigram_surprisal_sql()}),
        scored AS (
          SELECT s.doc_id, d.{by} AS {by}, s.avg_surprisal
          FROM s JOIN documents d ON s.doc_id = d.doc_id
        ), bounds AS (
          SELECT {by},
                 quantile_cont(avg_surprisal, 1.0/3) AS t1,
                 quantile_cont(avg_surprisal, 2.0/3) AS t2
          FROM scored GROUP BY {by}
        )
        SELECT scored.doc_id, scored.{by}, scored.avg_surprisal,
               CASE WHEN avg_surprisal <= t1 THEN 'head'
                    WHEN avg_surprisal <= t2 THEN 'middle'
                    ELSE 'tail' END AS ppl_bucket
        FROM scored JOIN bounds USING ({by})
    """


def span_corrupt_sql(rate: float = 0.5, span_len: int = 10) -> str:
    """Mirror of corpus.span_corrupt, projected as md5+length per side
    (pins every byte of inputs AND targets in a compact row)."""
    key = (
        lambda e, b: f"((({e}) % 1000003 + 1000003) % 1000003 * 2654435761) % {b}"
    )
    sl = span_len
    return f"""
        WITH s AS (
          SELECT doc_id, text, length(text) AS l,
                 ({key('doc_id', 1000)}) < {rate * 1000}
                   AND length(text) >= {2 * sl} AS apply_sc,
                 CAST(floor(length(text) / 2) AS INT) AS h
          FROM documents
        ), p AS (
          SELECT doc_id, text, l, apply_sc, h,
                 CAST(1 + ({key('doc_id * 2 + 1', 1000000)})
                     % (h - {sl} + 1) AS INT) AS s1,
                 CAST(h + 1 + ({key('doc_id * 3 + 2', 1000000)})
                     % (l - h - {sl} + 1) AS INT) AS s2
          FROM s
        ), o AS (
          SELECT doc_id, apply_sc,
                 CASE WHEN apply_sc THEN
                   substr(text, 1, s1 - 1) || '<extra_id_0>'
                   || substr(text, s1 + {sl}, s2 - s1 - {sl}) || '<extra_id_1>'
                   || substr(text, s2 + {sl}, l - s2 - {sl} + 1)
                 ELSE text END AS inputs,
                 CASE WHEN apply_sc THEN
                   '<extra_id_0>' || substr(text, s1, {sl})
                   || '<extra_id_1>' || substr(text, s2, {sl})
                   || '<extra_id_2>'
                 ELSE '' END AS targets
          FROM p
        )
        SELECT doc_id, apply_sc AS corrupted,
               CAST(length(inputs) AS BIGINT) AS inputs_len,
               md5(inputs) AS inputs_md5,
               CAST(length(targets) AS BIGINT) AS targets_len,
               md5(targets) AS targets_md5
        FROM o
    """


def rotate_docs_sql(rate: float = 0.5) -> str:
    """Mirror of corpus.rotate_docs, md5+length projected."""
    key = (
        lambda e, b: f"((({e}) % 1000003 + 1000003) % 1000003 * 2654435761) % {b}"
    )
    return f"""
        WITH s AS (
          SELECT doc_id, text, length(text) AS l,
                 ({key('doc_id', 1000)}) < {rate * 1000}
                   AND length(text) >= 2 AS apply_rot,
                 CAST(2 + ({key('doc_id * 2 + 1', 1000000)})
                     % (length(text) - 1) AS INT) AS p
          FROM documents
        ), o AS (
          SELECT doc_id, apply_rot,
                 CASE WHEN apply_rot THEN
                   substr(text, p, l - p + 1) || substr(text, 1, p - 1)
                 ELSE text END AS out
          FROM s
        )
        SELECT doc_id, apply_rot AS rotated,
               CAST(length(out) AS BIGINT) AS out_len,
               md5(out) AS out_md5
        FROM o
    """


def dup_source_matrix_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    shingle_size: int = 5,
) -> str:
    """Mirror of the cross-source duplication matrix: md5-family MinHash
    pairs attributed to their (source_a, source_b) cell, sources sorted
    within the pair so the matrix is upper-triangular."""
    pairs = minhash_pairs_md5_sql(num_perm, num_bands, threshold, shingle_size)
    return f"""
        WITH p AS ({pairs})
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               CAST(count(*) AS BIGINT) AS n_dup_pairs
        FROM p
        JOIN documents da ON p.id_a = da.doc_id
        JOIN documents db ON p.id_b = db.doc_id
        GROUP BY 1, 2
    """


def _dsir_lr_cte(target_lang: str = "en", num_buckets: int = 10_000) -> str:
    """Shared CTE chain mirroring corpus.dsir_features +
    dsir_log_ratios over the documents table (target = one language):
    hashed unigram+bigram buckets via the md5_fold31 lane, add-one
    smoothed per-bucket log-ratios with each ln floored to 1e-8 units
    individually (integer arithmetic thereafter)."""
    b = num_buckets
    fl = lambda x: f"CAST(floor(ln({x}) * CAST(100000000 AS DOUBLE)) AS BIGINT)"
    return f"""
        toks AS (
          SELECT doc_id, {_lower_toks()} AS ws FROM documents
        ), rawf AS (
          SELECT doc_id, f FROM (
            SELECT doc_id, unnest(ws) AS f FROM toks
            UNION ALL
            SELECT doc_id,
                   unnest(list_transform(list_zip(ws, ws[2:]),
                     p -> CASE WHEN p[2] IS NULL THEN NULL
                          ELSE p[1] || ' ' || p[2] END)) AS f
            FROM toks
          ) WHERE f IS NOT NULL
        ), feats AS (
          SELECT doc_id,
                 CAST((md5_number_lower(f) % 2147483647) % {b} AS BIGINT)
                   AS bucket
          FROM rawf
        ), rc AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS c_r
          FROM feats GROUP BY bucket
        ), tc AS (
          SELECT bucket, CAST(count(*) AS BIGINT) AS c_t
          FROM feats JOIN documents USING (doc_id)
          WHERE lang = '{target_lang}' GROUP BY bucket
        ), jb AS (
          SELECT coalesce(rc.bucket, tc.bucket) AS bucket,
                 coalesce(c_r, 0) AS c_r, coalesce(c_t, 0) AS c_t
          FROM rc FULL OUTER JOIN tc ON rc.bucket = tc.bucket
        ), tot AS (
          SELECT sum(c_r) AS nr, sum(c_t) AS nt FROM jb
        ), lr AS (
          SELECT bucket,
                 {fl('c_t + 1')} - {fl('c_r + 1')}
                 - {fl(f'nt + {b}')} + {fl(f'nr + {b}')} AS lr_units
          FROM jb CROSS JOIN tot
        ), sc AS (
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_feats,
                 CAST(sum(lr_units) AS BIGINT) AS score_units
          FROM feats JOIN lr USING (bucket) GROUP BY doc_id
        ), scores AS (
          SELECT d.doc_id,
                 coalesce(n_feats, 0) AS n_feats,
                 coalesce(score_units, 0) AS score_units
          FROM documents d LEFT JOIN sc USING (doc_id)
        )"""


def dsir_scores_sql(target_lang: str = "en", num_buckets: int = 10_000) -> str:
    """Mirror of corpus.with_dsir_score with raw = documents and
    target = documents of one language."""
    return f"""
        WITH {_dsir_lr_cte(target_lang, num_buckets)}
        SELECT doc_id, n_feats, score_units FROM scores
    """


def dsir_sample_sql(
    target_lang: str = "en", num_buckets: int = 10_000, frac: int = 4
) -> str:
    """Mirror of corpus.dsir_sample with k = n_docs // frac: Gumbel
    noise over the arithmetic sample_key lane, each ln floored to 1e-8
    units with an exactly-representable second input."""
    u = (
        "((CAST((((doc_id % 1000003 + 1000003) % 1000003) * 2654435761)"
        " % 1000000 AS DOUBLE) + 0.5) / 1000000.0)"
    )
    inner = (
        f"CAST(floor(-ln({u}) * CAST(100000000 AS DOUBLE)) AS BIGINT)"
    )
    gum = (
        f"CAST(floor(-ln(CAST({inner} AS DOUBLE) / CAST(100000000 AS DOUBLE))"
        f" * CAST(100000000 AS DOUBLE)) AS BIGINT)"
    )
    return f"""
        WITH {_dsir_lr_cte(target_lang, num_buckets)}
        SELECT doc_id, score_units, {gum} AS gumbel_units,
               score_units + {gum} AS key_units
        FROM scores
        ORDER BY key_units DESC, doc_id
        LIMIT (SELECT count(*) // {frac} FROM documents)
    """


def media_exact_dedup_sql(prefix_chars: int = 40) -> str:
    """Mirror of dedup.media_exact_dedup over payloads derived from
    the documents table (utf-8 bytes of a text prefix — the oracle-
    visible stand-in for opaque media blobs; md5 over the same bytes)."""
    return f"""
        WITH assets AS (
          SELECT doc_id AS asset_id,
                 substr(text, 1, {prefix_chars}) AS s
          FROM documents
        ), d AS (
          SELECT asset_id, md5(s) AS digest,
                 CAST(strlen(s) AS BIGINT) AS n_bytes,
                 row_number() OVER (PARTITION BY md5(s) ORDER BY asset_id)
                   AS rn
          FROM assets
        )
        SELECT asset_id, digest, n_bytes FROM d WHERE rn = 1
    """


def soft_dedup_weights_sql() -> str:
    """Mirror of dedup.exact_soft_dedup_weights: unordered count window
    over the D8 content digest; weight = 1e6 div n in exact ppm units."""
    return f"""
        WITH w AS (
          SELECT doc_id,
                 count(*) OVER (
                   PARTITION BY
                     md5(lower(regexp_replace(text, '{q(STRIP_WS)}', '', 'g')))
                 ) AS n
          FROM documents
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_copies,
               CAST(1000000 // n AS BIGINT) AS soft_weight_ppm
        FROM w
    """


def soft_dedup_mass_sql(pairs_sql: str) -> str:
    """Mirror of dedup.cluster_soft_dedup_weights ∘ soft_dedup_mass over
    the given near-dup pair graph: recursive-CTE clusters → per-cluster
    sizes → 1e6 div size ppm weights (singletons keep 1e6) → per-source
    raw vs effective document mass."""
    return f"""
        WITH clusters AS ({dedup_clusters_sql(pairs_sql=pairs_sql)}),
        sizes AS (
          SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id
        ),
        wts AS (
          SELECT d.doc_id, d.source, COALESCE(s.sz, 1) AS sz
          FROM documents d
          LEFT JOIN clusters c ON d.doc_id = c.doc_id
          LEFT JOIN sizes s ON c.cluster_id = s.cluster_id
        )
        SELECT source,
               CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(1000000 // sz) AS BIGINT) AS effective_docs_ppm,
               CAST(sum(CASE WHEN sz > 1 THEN 1 ELSE 0 END) AS BIGINT)
                 AS downweighted_docs
        FROM wts GROUP BY source ORDER BY source
    """


def ngram_diversity_sql(ns: tuple[int, ...] = (1, 2, 3), by: str = "source") -> str:
    """Mirror of corpus.ngram_diversity: per-``n`` UNION ALL of
    (distinct corpus grams) / (total gram occurrences) in exact ppm,
    grouped by ``by``; totals derived from token counts, distincts from
    the per-doc-distinct gram sets (identical corpus-level set)."""
    blocks = []
    for n in ns:
        blocks.append(f"""
        SELECT CAST({n} AS INTEGER) AS n, tot.{by},
               distinct_grams, total_grams,
               CAST(1000000 * distinct_grams // total_grams AS BIGINT)
                 AS diversity_ppm
        FROM (
          SELECT {by},
                 CAST(sum(CASE WHEN len({_lower_toks()}) < {n} THEN 1
                          ELSE len({_lower_toks()}) - {n} + 1 END) AS BIGINT)
                   AS total_grams
          FROM documents GROUP BY {by}
        ) tot
        JOIN (
          SELECT {by},
                 CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams
          FROM (
            SELECT {by}, unnest({_word_ngrams_sql('text', n)}) AS gram
            FROM documents
          ) GROUP BY {by}
        ) dst USING ({by})
        """)
    u = " UNION ALL ".join(blocks)
    return f"SELECT * FROM ({u}) ORDER BY n, {by}"


def ivf_topk_seeded_sql(
    k: int = 5, n_clusters: int = 16, n_probe: int = 3, n_queries: int = 10
) -> str:
    """Mirror of similarity.ivf_topk_seeded: the semdedup seeded-centroid
    assignment chain, per-query top-n_probe centroid lists (unrounded
    cosine, cluster-asc ties — same rule as the assignment argmax), then
    exact cosine top-k over the probed lists only, rounded to 6dp before
    ranking with the id tiebreak (same convention as cosine_topk)."""
    cos_qc = """CASE WHEN q.qnrm = 0 OR c.cnrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(q.qvec, c.cvec),
                      p -> p[1] * p[2])) / (q.qnrm * c.cnrm) END"""
    cos_qa = """CASE WHEN p.qnrm = 0 OR a.nrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(p.qvec, a.vec),
                      p2 -> p2[1] * p2[2])) / (p.qnrm * a.nrm) END"""
    return f"""
        WITH {_semdedup_assign_cte(n_clusters)},
        qs AS (
          SELECT vec_id AS q_id, vec AS qvec, nrm AS qnrm
          FROM v WHERE vec_id < {n_queries}
        ), probes AS (
          SELECT q_id, qvec, qnrm, cluster FROM (
            SELECT q.q_id, q.qvec, q.qnrm, c.cluster,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY {cos_qc} DESC, c.cluster) AS prn
            FROM qs q CROSS JOIN c
          ) WHERE prn <= {n_probe}
        ), scored AS (
          SELECT p.q_id, a.vec_id, round({cos_qa}, 6) AS cosine
          FROM probes p JOIN assigned a
            ON a.cluster = p.cluster AND a.vec_id <> p.q_id
        )
        SELECT q_id, vec_id, cosine, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def soft_dedup_sample_sql(pairs_sql: str) -> str:
    """Mirror of weighted_sample over cluster_soft_dedup_weights: keep a
    doc iff its arithmetic sample key clears the 1/|cluster| weight
    threshold (the float formula mirrors corpus.weighted_sample term by
    term — same doubles, same compare), rolled up per source."""
    key = "(((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000000"
    return f"""
        WITH clusters AS ({dedup_clusters_sql(pairs_sql=pairs_sql)}),
        sizes AS (
          SELECT cluster_id, count(*) AS sz FROM clusters GROUP BY cluster_id
        ),
        wts AS (
          SELECT d.doc_id, d.source, d.n_chars,
                 1000000 // COALESCE(s.sz, 1) AS soft_weight_ppm
          FROM documents d
          LEFT JOIN clusters c ON d.doc_id = c.doc_id
          LEFT JOIN sizes s ON c.cluster_id = s.cluster_id
        ),
        kept AS (
          SELECT * FROM wts
          WHERE {key} < least(1000000.0,
                  (soft_weight_ppm / 1000000.0) * 1.0 * 1000000.0)
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_kept,
               CAST(sum(n_chars) AS BIGINT) AS total_chars
        FROM kept GROUP BY source ORDER BY source
    """


def sentence_chunk_sql(chunk_chars: int = 2000) -> str:
    """Mirror of corpus.sentence_chunk_documents: sentinel sentence
    split (RE2 has no lookbehind — boundaries are marked by substitution,
    chr(30) record separator, same constant as
    functions.text.SENTENCE_SENTINEL), running start offsets over
    space-joined lengths, chunk = start // chunk_chars, order-preserving
    string_agg rebuild."""
    return f"""
        WITH s AS (
          SELECT doc_id,
                 generate_subscripts(sents, 1) - 1 AS idx,
                 unnest(sents) AS sent
          FROM (
            SELECT doc_id,
                   list_filter(string_split(
                     regexp_replace(text, '([.!?])\\s+', '\\1' || chr(30), 'g'),
                     chr(30)), x -> length(x) > 0) AS sents
            FROM documents
          )
        ), o AS (
          SELECT doc_id, idx, sent,
                 sum(length(sent) + 1) OVER (
                   PARTITION BY doc_id ORDER BY idx
                   ROWS UNBOUNDED PRECEDING
                 ) - length(sent) - 1 AS start
          FROM s
        )
        SELECT doc_id,
               CAST(start // {chunk_chars} AS BIGINT) AS chunk_id,
               string_agg(sent, ' ' ORDER BY idx) AS chunk_text,
               CAST(length(string_agg(sent, ' ' ORDER BY idx)) AS BIGINT)
                 AS chunk_len,
               CAST(count(*) AS BIGINT) AS n_sentences
        FROM o
        GROUP BY doc_id, start // {chunk_chars}
    """


def zipf_slope_sql(by: str = "source", min_types: int = 10) -> str:
    """Mirror of corpus.zipf_slope: per-group (count desc, word) rank,
    1e-6-unit floored ln terms, HUGEINT regression sums (x·y overflows
    int64 at vocab scale), one rounded double division."""
    return f"""
        WITH wds AS (
          SELECT {by}, unnest({_lower_toks()}) AS word FROM documents
        ), per_type AS (
          SELECT {by}, word, count(*) AS n FROM wds GROUP BY {by}, word
        ), ranked AS (
          SELECT {by},
                 CAST(floor(ln(CAST(row_number() OVER (
                   PARTITION BY {by} ORDER BY n DESC, word) AS DOUBLE))
                   * 1e6) AS HUGEINT) AS x,
                 CAST(floor(ln(CAST(n AS DOUBLE)) * 1e6) AS HUGEINT) AS y
          FROM per_type
        ), sums AS (
          SELECT {by},
                 CAST(count(*) AS HUGEINT) AS n,
                 sum(x) AS sx, sum(y) AS sy,
                 sum(x * y) AS sxy, sum(x * x) AS sxx
          FROM ranked GROUP BY {by}
        )
        SELECT {by}, CAST(n AS BIGINT) AS n_types,
               round(CAST(n * sxy - sx * sy AS DOUBLE)
                     / CAST(n * sxx - sx * sx AS DOUBLE), 6) AS slope
        FROM sums WHERE n >= {min_types} ORDER BY {by}
    """


def novelty_weights_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    shingle_size: int = 5,
) -> str:
    """Mirror of dedup.novelty_weights over the md5-family verified
    pairs: max est-Jaccard per id_b, floored to ppm, novel remainder."""
    pairs = minhash_pairs_md5_sql(num_perm, num_bands, threshold, shingle_size)
    return f"""
        WITH worst AS (
          SELECT id_b AS doc_id, max(est_jaccard) AS mj
          FROM ({pairs}) GROUP BY id_b
        )
        SELECT d.doc_id,
               CAST(COALESCE(floor(w.mj * 1e6), 0) AS BIGINT) AS max_dup_ppm,
               CAST(1000000 - COALESCE(floor(w.mj * 1e6), 0) AS BIGINT)
                 AS novelty_ppm
        FROM documents d LEFT JOIN worst w ON d.doc_id = w.doc_id
    """


def quality_threshold_calibration_sql(keep_rate: float = 0.25) -> str:
    """Mirror of the calibration query: exact interpolated quantile of
    the composite quality score at (1 − keep_rate), then the kept count
    at that threshold (scores and threshold both 6dp-rounded before the
    compare, so the gate is engine-stable)."""
    return f"""
        WITH s AS ({quality_score_sql()}),
        t AS (
          SELECT round(quantile_cont(quality_score, {1.0 - keep_rate}), 6)
                   AS threshold
          FROM s
        )
        SELECT CAST({keep_rate} AS DOUBLE) AS target_keep_rate,
               t.threshold,
               CAST(count(*) AS BIGINT) AS n_total,
               CAST(sum(CASE WHEN s.quality_score >= t.threshold
                             THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
               CAST(1000000 * sum(CASE WHEN s.quality_score >= t.threshold
                                       THEN 1 ELSE 0 END) // count(*)
                    AS BIGINT) AS actual_keep_ppm
        FROM s, t GROUP BY t.threshold
    """


def minhash_contamination_sql(
    split_id: int = 250,
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
) -> str:
    """Mirror of the fuzzy train/benchmark contamination check: the
    md5-family verified pair table restricted to pairs straddling the
    id split (benchmark = id < split_id, corpus = id >= split_id)."""
    pairs = minhash_pairs_md5_sql(num_perm, num_bands, threshold)
    return f"""
        SELECT id_a AS benchmark_id, id_b AS corpus_id, est_jaccard
        FROM ({pairs})
        WHERE id_a < {split_id} AND id_b >= {split_id}
    """


def packed_sequences_ws_sql(seq_len: int = 64) -> str:
    """Mirror of the whitespace-vocab packing query: vocab ids = global
    (count desc, word) rank, per-doc token stream + EOS(0), global
    positions via running doc offsets in ascending id order, windows of
    ``seq_len``, comma-joined ids. Value-checks pack_token_ids' global
    prefix-sum positioning end to end (the BPE variant stays rows-only —
    merges aren't SQL-expressible; the packing arithmetic is identical)."""
    return f"""
        WITH wds AS (
          SELECT doc_id, generate_subscripts(toks, 1) - 1 AS pos,
                 unnest(toks) AS word
          FROM (SELECT doc_id, {_lower_toks()} AS toks FROM documents)
        ), vocab AS (
          SELECT word,
                 CAST(row_number() OVER (ORDER BY count(*) DESC, word) AS INT)
                   AS tid
          FROM wds GROUP BY word
        ), doc_tokens AS (
          SELECT w.doc_id, w.pos, v.tid FROM wds w JOIN vocab v USING (word)
        ), eos AS (
          SELECT doc_id, max(pos) + 1 AS pos, 0 AS tid
          FROM doc_tokens GROUP BY doc_id
        ), stream AS (
          SELECT * FROM doc_tokens UNION ALL SELECT * FROM eos
        ), doc_len AS (
          SELECT doc_id, count(*) AS n FROM stream GROUP BY doc_id
        ), offs AS (
          SELECT doc_id,
                 sum(n) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING) - n
                   AS off
          FROM doc_len
        )
        SELECT CAST(gpos // {seq_len} AS BIGINT) AS seq_id,
               CAST(count(*) AS BIGINT) AS n_tokens,
               string_agg(tid, ',' ORDER BY gpos) AS input_ids
        FROM (
          SELECT o.off + s.pos AS gpos, s.tid
          FROM stream s JOIN offs o USING (doc_id)
        )
        GROUP BY gpos // {seq_len}
    """


def corpus_health_sql() -> str:
    """Mirror of the one-row corpus overview: doc/token totals, language
    spread, exact-dup ppm, mean length — the numbers a curation run
    prints first."""
    return f"""
        WITH t AS (
          SELECT doc_id, lang, n_chars,
                 len({_lower_toks()}) AS n_toks,
                 md5(lower(regexp_replace(text, '{q(STRIP_WS)}', '', 'g')))
                   AS h
          FROM documents
        )
        SELECT CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(n_toks) AS BIGINT) AS n_tokens,
               CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
               CAST(1000000 * (count(*) - count(DISTINCT h)) // count(*)
                    AS BIGINT) AS exact_dup_ppm,
               CAST(sum(n_chars) // count(*) AS BIGINT) AS mean_chars
        FROM t
    """


def dup_ngram_stats_sql() -> str:
    """Mirror of quality.with_dup_ngram_stats: the full Gopher n-gram
    repetition block in the same half-up 1e-6 units (overlap-overcount
    capped at 1; see the operator docstring for the documented deviations
    from the reference greedy scan)."""
    from llm_training_data_pipeline_spark.operators.quality import (
        GopherRepetitionConfig,
    )

    cfg = GopherRepetitionConfig()
    toks = (
        f"CASE WHEN regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    all_ns = sorted(
        {n for n, _ in cfg.max_top_ngram_frac}
        | {n for n, _ in cfg.max_dup_ngram_frac}
    )
    pivots = []
    for n, _ in cfg.max_top_ngram_frac:
        pivots.append(f"max(CASE WHEN n = {n} THEN best END) AS best{n}")
    for n, _ in cfg.max_dup_ngram_frac:
        pivots.append(f"max(CASE WHEN n = {n} THEN dup END) AS dup{n}")

    def units(num: str) -> str:
        return (
            f"CASE WHEN length(doc.text) > 0 THEN least("
            f"(coalesce({num}, 0) * 2000000 + length(doc.text)) "
            f"// (2 * length(doc.text)), 1000000) ELSE 0 END"
        )

    fracs, passes = [], []
    for n, ceil in cfg.max_top_ngram_frac:
        u = units(f"best{n}")
        fracs.append(f"{u} / 1000000.0 AS top_{n}gram_char_frac")
        passes.append(f"({u}) <= {int(round(ceil * 1_000_000))}")
    for n, ceil in cfg.max_dup_ngram_frac:
        u = units(f"dup{n}")
        fracs.append(f"{u} / 1000000.0 AS dup_{n}gram_char_frac")
        passes.append(f"({u}) <= {int(round(ceil * 1_000_000))}")
    return f"""
        WITH t AS (
          SELECT doc_id, {toks} AS w FROM documents
        ), g AS (
          SELECT t.doc_id, n.n,
                 unnest(list_transform(generate_series(1, len(t.w) - n.n + 1),
                        i -> array_to_string(list_slice(t.w, i, i + n.n - 1), ' ')))
                   AS gram
          FROM t, (SELECT unnest(ARRAY{all_ns}) AS n) n
        ), c AS (
          SELECT doc_id, n, gram, count(*) AS cnt FROM g GROUP BY doc_id, n, gram
        ), p AS (
          SELECT doc_id, n,
                 max(cnt * length(gram)) AS best,
                 sum(CASE WHEN cnt >= 2 THEN (cnt - 1) * length(gram) ELSE 0 END) AS dup
          FROM c GROUP BY doc_id, n
        ), d AS (
          SELECT doc_id, {", ".join(pivots)} FROM p GROUP BY doc_id
        )
        SELECT doc.doc_id,
               {", ".join(fracs)},
               ({" AND ".join(passes)}) AS ngram_repetition_pass
        FROM documents doc LEFT JOIN d ON doc.doc_id = d.doc_id
    """


def length_bucket_stats_sql(max_bucket: int = 1 << 20) -> str:
    """Mirror of corpus.length_bucket_stats: power-of-two bucket via the
    base-2 string length of n-1 (integer, no float log2), exact ppm."""
    toks = (
        f"CASE WHEN regexp_replace(text, '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(text, '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    return f"""
        WITH t AS (
          SELECT CAST(len({toks}) AS BIGINT) AS n FROM documents
        ), b AS (
          SELECT n,
                 CASE WHEN n <= 1 THEN 1
                      ELSE least(CAST(power(2, length(bin(n - 1))) AS BIGINT),
                                 {max_bucket}) END AS bucket_len
          FROM t
        ), p AS (
          SELECT bucket_len,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n) AS BIGINT) AS sum_tokens
          FROM b GROUP BY bucket_len
        )
        SELECT bucket_len, n_docs, sum_tokens,
               CAST(n_docs * bucket_len AS BIGINT) AS padded_tokens,
               CAST(1000000 * (n_docs * bucket_len - sum_tokens)
                    // (n_docs * bucket_len) AS BIGINT) AS pad_waste_ppm
        FROM p
    """


def paragraph_dedup_sql() -> str:
    """Mirror of corpus.remove_dup_paragraphs (md5 + length projection of
    the rebuilt text, the fim_sample discipline for long-text outputs).

    The testdata docs are single-paragraph and all distinct, so the query
    first derives a multi-paragraph frame from the corpus itself — every
    doc gains the globally-first doc's text and a repeat of its own text
    as extra paragraphs — making both cross-doc and within-doc removal
    non-vacuous while staying a pure function of the input table."""
    return """
        WITH src AS (
          SELECT doc_id,
                 text || chr(10) || chr(10)
                      || (SELECT text FROM documents ORDER BY doc_id LIMIT 1)
                      || chr(10) || chr(10) || text AS text
          FROM documents
        ), t AS (
          SELECT doc_id, string_split(text, chr(10) || chr(10)) AS ps
          FROM src
        ), p AS (
          SELECT doc_id, s.pos AS pos, s.para AS para FROM (
            SELECT doc_id,
                   unnest(list_transform(generate_series(1, len(ps)),
                          i -> struct_pack(pos := i - 1, para := ps[i]))) AS s
            FROM t
          )
        ), f AS (
          SELECT para, min(struct_pack(d := doc_id, p := pos)) AS first
          FROM p WHERE trim(para) <> '' GROUP BY para
        ), k AS (
          SELECT p.doc_id, p.pos, p.para,
                 CASE WHEN f.para IS NULL
                        OR (f.first.d = p.doc_id AND f.first.p = p.pos)
                      THEN 1 ELSE 0 END AS keep
          FROM p LEFT JOIN f ON p.para = f.para
        ), r AS (
          SELECT doc_id,
                 coalesce(string_agg(CASE WHEN keep = 1 THEN para END,
                                     chr(10) || chr(10) ORDER BY pos), '') AS clean,
                 CAST(sum(1 - keep) AS BIGINT) AS n_paras_removed
          FROM k GROUP BY doc_id
        )
        SELECT doc_id, md5(clean) AS text_md5,
               CAST(length(clean) AS BIGINT) AS n_chars_clean,
               n_paras_removed
        FROM r
    """


def heavy_hitters_cms_sql(top_k: int = 20, depth: int = 4, width: int = 1024) -> str:
    """Mirror of sketch.heavy_hitters_report: the CMS is a deterministic
    integer function of the corpus on the md5_fold31 lane, so exact
    counts, every sketch cell, the min-estimate, and the error-contract
    boolean all replay bit-for-bit."""
    toks = (
        f"CASE WHEN regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g') = '' "
        f"THEN CAST([] AS VARCHAR[]) ELSE regexp_split_to_array("
        f"regexp_replace(lower(text), '{q(STRIP_WS)}', '', 'g'), '\\s+') END"
    )
    js = ", ".join(str(j) for j in range(depth))
    bucket = (
        "CAST((md5_number_lower(word || chr(31) || 'cms' || j.j) % 2147483647) "
        f"% {width} AS BIGINT)"
    )
    return f"""
        WITH w AS (
          SELECT unnest({toks}) AS word FROM documents
        ), c AS (
          SELECT word, CAST(count(*) AS BIGINT) AS cnt FROM w GROUP BY word
        ), n AS (
          SELECT CAST(sum(cnt) AS BIGINT) AS total FROM c
        ), b AS (
          SELECT j.j AS row_j, {bucket} AS bucket, cnt
          FROM c, (SELECT unnest(ARRAY[{js}]) AS j) j
        ), s AS (
          SELECT row_j, bucket, CAST(sum(cnt) AS BIGINT) AS cell
          FROM b GROUP BY row_j, bucket
        ), topk AS (
          SELECT word, cnt FROM c ORDER BY cnt DESC, word ASC LIMIT {top_k}
        ), est AS (
          SELECT t.word, t.cnt AS exact_cnt, CAST(min(s.cell) AS BIGINT) AS est_cnt
          FROM topk t, (SELECT unnest(ARRAY[{js}]) AS j) j
          JOIN s ON s.row_j = j.j AND s.bucket = {bucket.replace('word', 't.word')}
          GROUP BY t.word, t.cnt
        )
        SELECT word, exact_cnt, est_cnt,
               est_cnt - exact_cnt AS overestimate_cnt,
               (est_cnt >= exact_cnt
                AND est_cnt - exact_cnt <=
                    (5 * (SELECT total FROM n)) // {width} + 20) AS bound_ok
        FROM est
    """


def ngram_diversity_approx_sql(
    ns: tuple[int, ...] = (1, 2, 3), by: str = "source"
) -> str:
    """Mirror of corpus.ngram_diversity_approx: exact distincts from the
    same per-doc-distinct gram sets, bound hard-coded TRUE (the HLL
    registers are engine-specific; the CONTRACT is what's cross-engine —
    see approx_distinct_bound_sql)."""
    blocks = []
    for n in ns:
        blocks.append(f"""
        SELECT CAST({n} AS INTEGER) AS n, {by},
               CAST(count(DISTINCT gram) AS BIGINT) AS distinct_grams,
               TRUE AS within_bound
        FROM (
          SELECT {by}, unnest({_word_ngrams_sql('text', n)}) AS gram
          FROM documents
        ) GROUP BY {by}
        """)
    u = " UNION ALL ".join(blocks)
    return f"SELECT * FROM ({u}) ORDER BY n, {by}"


def bm25_topk_sql(
    terms: tuple[str, ...],
    k: int = 10,
    k1_tenths: int = 12,
    b_hundredths: int = 75,
) -> str:
    """Mirror of corpus.bm25_topk: Lucene-form idf in exact 1e-8 units,
    the saturation fraction cleared to one HUGEINT integer division per
    (doc, term) — `//` here == Spark's `div`, both exact truncation on
    positive operands."""
    K, B = int(k1_tenths), int(b_hundredths)
    in_list = ", ".join(f"'{t}'" for t in sorted({t.lower() for t in terms}))
    return f"""
        WITH w AS (
          SELECT doc_id, unnest({_lower_toks()}) AS word FROM documents
        ), dl AS (
          SELECT doc_id, count(*) AS dl FROM w GROUP BY doc_id
        ), stats AS (
          SELECT count(*) AS n, sum(dl) AS t FROM dl
        ), tf AS (
          SELECT doc_id, word, count(*) AS tf FROM w
          WHERE word IN ({in_list}) GROUP BY doc_id, word
        ), docfreq AS (
          SELECT word, count(*) AS df_docs FROM tf GROUP BY word
        ), scored AS (
          SELECT tf.doc_id,
                 (CAST(floor(ln(CAST(2 * stats.n + 2 AS DOUBLE)
                                / CAST(2 * docfreq.df_docs + 1 AS DOUBLE))
                             * 100000000.0) AS HUGEINT)
                  * {100 * (K + 10)} * CAST(stats.t AS HUGEINT) * tf.tf)
                 // (CAST(1000 AS HUGEINT) * stats.t * tf.tf
                     + {K * (100 - B)} * CAST(stats.t AS HUGEINT)
                     + {K * B} * CAST(dl.dl AS HUGEINT) * stats.n)
                   AS units
          FROM tf JOIN docfreq USING (word) JOIN dl USING (doc_id)
          CROSS JOIN stats
        ), per_doc AS (
          SELECT doc_id, count(*) AS matched_terms, sum(units) AS score_units
          FROM scored GROUP BY doc_id
        ), ranked AS (
          SELECT *, row_number() OVER (ORDER BY score_units DESC, doc_id) AS rank
          FROM per_doc
        )
        SELECT CAST(rank AS BIGINT) AS rank, doc_id,
               CAST(matched_terms AS BIGINT) AS matched_terms,
               round(CAST(score_units AS DOUBLE) / 100000000.0, 6) AS bm25
        FROM ranked WHERE rank <= {k}
    """


def cluster_balanced_sample_sql(n_clusters: int | str = "auto") -> str:
    """Mirror of semdedup.cluster_balanced_sample: the seeded assignment
    chain, then per-cluster rank by (cosine desc, id) capped at
    max(1, floor(sqrt(size))). IEEE sqrt is correctly rounded, so the
    cap is engine-independent."""
    cap = "greatest(1, CAST(floor(sqrt(CAST(csize AS DOUBLE))) AS BIGINT))"
    return f"""
        WITH {_semdedup_assign_cte(_semdedup_k(n_clusters))}, ranked AS (
          SELECT cluster, vec_id, cs,
                 row_number() OVER (PARTITION BY cluster
                                    ORDER BY cs DESC, vec_id) AS rnk,
                 count(*) OVER (PARTITION BY cluster) AS csize
          FROM assigned
        )
        SELECT cluster, CAST(csize AS BIGINT) AS cluster_size,
               {cap} AS cap, CAST(rnk AS BIGINT) AS rank, vec_id,
               round(cs, 6) AS centroid_cosine
        FROM ranked WHERE rnk <= {cap}
    """


def source_unigram_kl_sql() -> str:
    """Mirror of corpus.source_unigram_kl: per-word ln floored to 1e-8
    units individually, contributions summed in HUGEINT, one double
    normalization per source."""
    return f"""
        WITH w AS (
          SELECT source, unnest({_lower_toks()}) AS word FROM documents
        ), csw AS (
          SELECT source, word, count(*) AS c_sw FROM w GROUP BY source, word
        ), cw AS (
          SELECT word, sum(c_sw) AS c_w FROM csw GROUP BY word
        ), ts AS (
          SELECT source, sum(c_sw) AS t_s, count(*) AS vocab
          FROM csw GROUP BY source
        ), tot AS (
          SELECT sum(c_w) AS t FROM cw
        ), per AS (
          SELECT csw.source,
                 CAST(csw.c_sw AS HUGEINT)
                 * CAST(floor(ln(
                       (CAST(csw.c_sw AS DOUBLE) * CAST(tot.t AS DOUBLE))
                       / (CAST(cw.c_w AS DOUBLE) * CAST(ts.t_s AS DOUBLE)))
                     * 100000000.0) AS HUGEINT) AS contrib
          FROM csw JOIN cw USING (word) JOIN ts USING (source)
          CROSS JOIN tot
        ), agg AS (
          SELECT source, sum(contrib) AS units FROM per GROUP BY source
        )
        SELECT ts.source, CAST(ts.t_s AS BIGINT) AS n_tokens,
               CAST(ts.vocab AS BIGINT) AS vocab,
               round(CAST(agg.units AS DOUBLE)
                     / (CAST(ts.t_s AS DOUBLE) * 100000000.0), 6) AS kl_nats
        FROM agg JOIN ts USING (source)
        ORDER BY source
    """


def _sft_conv_cte(turns_per_conv: int = 4, content_chars: int = 120) -> str:
    """CTE replaying sft.conversations_from_documents (the deterministic
    documents -> turns adapter)."""
    t = f"(doc_id % {turns_per_conv})"
    return f"""
        conv AS (
          SELECT CAST(doc_id - {t} AS BIGINT) AS conv_id,
                 CAST({t} AS INT) AS turn_idx,
                 CASE WHEN {t} % 2 = 0 THEN 'user' ELSE 'assistant' END AS role,
                 substring(text, 1, {content_chars}) AS content
          FROM documents
        )"""


def chat_render_sql(turns_per_conv: int = 4, content_chars: int = 120) -> str:
    """Mirror of sft.render_chat over the documents-derived turns:
    ordered string_agg == Spark's array_sort(collect_list) + array_join."""
    return f"""
        WITH {_sft_conv_cte(turns_per_conv, content_chars)}, r AS (
          SELECT conv_id, turn_idx,
                 '<|im_start|>' || role || chr(10) || content
                   || '<|im_end|>' || chr(10) AS rendered
          FROM conv
        )
        SELECT conv_id, CAST(count(*) AS BIGINT) AS n_turns,
               CAST(length(string_agg(rendered, '' ORDER BY turn_idx))
                    AS BIGINT) AS n_chars,
               string_agg(rendered, '' ORDER BY turn_idx) AS text
        FROM r GROUP BY conv_id
    """


def assistant_loss_spans_sql(
    turns_per_conv: int = 4, content_chars: int = 120
) -> str:
    """Mirror of sft.assistant_loss_spans: prefix sums of rendered-turn
    lengths; header = len('<|im_start|>') + len(role) + len('\\n')."""
    return f"""
        WITH {_sft_conv_cte(turns_per_conv, content_chars)}, lens AS (
          SELECT conv_id, turn_idx, role, content,
                 CAST(24 + length(role) + length(content) AS BIGINT) AS rlen
          FROM conv
        ), offs AS (
          SELECT conv_id, turn_idx, role, content,
                 CAST(coalesce(sum(rlen) OVER (
                        PARTITION BY conv_id ORDER BY turn_idx
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) + 13 + length(role) AS BIGINT) AS start_char
          FROM lens
        )
        SELECT conv_id, turn_idx, start_char,
               CAST(start_char + length(content) AS BIGINT) AS end_char
        FROM offs WHERE role = 'assistant'
    """


def hybrid_rrf_topk_sql(
    terms: tuple[str, ...],
    query_id: int = 0,
    k: int = 10,
    k_each: int = 50,
    rrf_k: int = 60,
) -> str:
    """Mirror of similarity.hybrid_rrf_topk: BM25 and cosine rankings
    fused with exact integer reciprocals (1e8 // (rrf_k + rank))."""
    return f"""
        WITH t AS (
          SELECT doc_id AS id, rank AS text_rank
          FROM ({bm25_topk_sql(terms, k=k_each)})
        ), vq AS (
          SELECT list_transform(embedding, x -> CAST(x AS DOUBLE)) AS q_vec,
                 sqrt(list_sum(list_transform(embedding,
                        x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS q_nrm
          FROM embeddings WHERE vec_id = {query_id}
        ), vs AS (
          SELECT vec_id,
                 round(CASE WHEN vq.q_nrm = 0 OR nrm = 0 THEN 0.0
                       ELSE list_sum(list_transform(list_zip(vq.q_vec, vec),
                              p -> p[1] * p[2])) / (vq.q_nrm * nrm) END, 6)
                   AS cosine
          FROM (
            SELECT vec_id,
                   list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                   sqrt(list_sum(list_transform(embedding,
                          x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
            FROM embeddings WHERE vec_id <> {query_id}
          ) CROSS JOIN vq
        ), v AS (
          SELECT vec_id AS id, rank AS vec_rank FROM (
            SELECT vec_id, CAST(row_number() OVER (
                     ORDER BY cosine DESC, vec_id) AS BIGINT) AS rank
            FROM vs
          ) WHERE rank <= {k_each}
        ), fused AS (
          SELECT coalesce(t.id, v.id) AS id, t.text_rank, v.vec_rank,
                 coalesce(100000000 // ({rrf_k} + t.text_rank), 0)
                 + coalesce(100000000 // ({rrf_k} + v.vec_rank), 0) AS units
          FROM t FULL OUTER JOIN v ON t.id = v.id
        )
        SELECT CAST(row_number() OVER (ORDER BY units DESC, id) AS BIGINT)
                 AS rank,
               id AS doc_id,
               round(CAST(units AS DOUBLE) / 100000000.0, 6) AS rrf_score,
               CAST(text_rank AS BIGINT) AS text_rank,
               CAST(vec_rank AS BIGINT) AS vec_rank
        FROM fused
        QUALIFY rank <= {k}
    """


def preference_pair_stats_sql() -> str:
    """Mirror of preference.preference_pair_stats over the deterministic
    documents-derived pairs (even doc = chosen). The mean gap is one
    double division (negative-capable; integer div semantics on
    negatives differ between engines and are avoided)."""
    def wc(col: str) -> str:
        stripped = f"regexp_replace({col}, '{q(STRIP_WS)}', '', 'g')"
        return (
            f"CASE WHEN {stripped} = '' THEN 0 "
            f"ELSE len(regexp_split_to_array({stripped}, '\\s+')) END"
        )

    return f"""
        WITH c AS (
          SELECT CAST(doc_id - (doc_id % 2) AS BIGINT) AS pair_id,
                 source, text AS chosen
          FROM documents WHERE doc_id % 2 = 0
        ), r AS (
          SELECT CAST(doc_id - (doc_id % 2) AS BIGINT) AS pair_id,
                 text AS rejected
          FROM documents WHERE doc_id % 2 = 1
        ), per AS (
          SELECT source,
                 CASE WHEN chosen = rejected THEN 1 ELSE 0 END AS degen,
                 CASE WHEN {wc('chosen')} > {wc('rejected')} THEN 1 ELSE 0 END
                   AS longer,
                 CAST({wc('chosen')} AS BIGINT)
                   - CAST({wc('rejected')} AS BIGINT) AS gap
          FROM c JOIN r USING (pair_id)
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_pairs,
               CAST(sum(degen) AS BIGINT) AS degenerate_pairs,
               CAST(sum(longer) * 1000000 // count(*) AS BIGINT)
                 AS chosen_longer_ppm,
               round(CAST(sum(gap) AS DOUBLE) / CAST(count(*) AS DOUBLE), 6)
                 AS mean_word_gap
        FROM per GROUP BY source ORDER BY source
    """


def cluster_source_matrix_sql(n_clusters: int | str = "auto") -> str:
    """Mirror of semdedup.cluster_source_matrix: the seeded assignment
    chain joined to documents on the parallel id space, exact-ppm
    within-cluster shares."""
    return f"""
        WITH {_semdedup_assign_cte(_semdedup_k(n_clusters))}, cells AS (
          SELECT a.cluster, d.source, count(*) AS n_docs
          FROM assigned a JOIN documents d ON d.doc_id = a.vec_id
          GROUP BY a.cluster, d.source
        ), totals AS (
          SELECT cluster, sum(n_docs) AS ct FROM cells GROUP BY cluster
        )
        SELECT cells.cluster, cells.source,
               CAST(cells.n_docs AS BIGINT) AS n_docs,
               CAST(cells.n_docs * 1000000 // totals.ct AS BIGINT)
                 AS cluster_share_ppm
        FROM cells JOIN totals USING (cluster)
        ORDER BY cluster, source
    """


def chat_markup_contamination_sql(markers: tuple[str, ...]) -> str:
    """Mirror of quality.chat_markup_contamination: substring
    containment per (source, marker), exact ppm."""
    vals = ", ".join(f"('{m}')" for m in sorted(markers))
    return f"""
        WITH m(marker) AS (VALUES {vals}), per AS (
          SELECT d.source, m.marker,
                 CASE WHEN contains(d.text, m.marker) THEN 1 ELSE 0 END AS hit
          FROM documents d CROSS JOIN m
        )
        SELECT source, marker, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(hit) AS BIGINT) AS contaminated,
               CAST(sum(hit) * 1000000 // count(*) AS BIGINT)
                 AS contaminated_ppm
        FROM per GROUP BY source, marker ORDER BY source, marker
    """


def semdedup_threshold_sweep_sql(
    thresholds: tuple[float, ...] = (0.35, 0.6, 0.8),
    n_clusters: int | str = "auto",
) -> str:
    """Mirror of semdedup.semdedup_threshold_sweep: one pair table at
    the loosest threshold, every threshold re-read from it."""
    ts = sorted(set(float(t) for t in thresholds))
    vals = ", ".join(f"({t})" for t in ts)
    return f"""
        WITH {_semdedup_pairs_cte(_semdedup_k(n_clusters))},
        kept AS (
          SELECT * FROM pairs WHERE cosine >= {min(ts)}
        ), th(threshold) AS (VALUES {vals}), tot AS (
          SELECT count(*) AS n_vectors FROM embeddings
        ), agg AS (
          SELECT th.threshold,
                 count(kept.cosine) AS n_dup_pairs,
                 count(DISTINCT kept.b_id) AS n_dropped
          FROM th LEFT JOIN kept ON kept.cosine >= th.threshold
          GROUP BY th.threshold
        )
        SELECT CAST(threshold AS DOUBLE) AS threshold,
               CAST(n_dup_pairs AS BIGINT) AS n_dup_pairs,
               CAST(n_dropped AS BIGINT) AS n_dropped,
               CASE WHEN tot.n_vectors = 0 THEN NULL
                    ELSE round((tot.n_vectors - agg.n_dropped)
                               / CAST(tot.n_vectors AS DOUBLE), 4) END
                 AS retention
        FROM agg CROSS JOIN tot
        ORDER BY threshold
    """


def invisible_char_stats_sql() -> str:
    """Mirror of textstats.invisible_char_stats (the char classes are
    embedded as literal codepoints in both engines' regexes)."""
    zw = "​‌‍⁠﻿"
    bidi = "‎‏‪-‮⁦-⁩"
    return f"""
        WITH per AS (
          SELECT source,
                 len(regexp_extract_all(text, '[{zw}]')) AS zw,
                 len(regexp_extract_all(text, '[{bidi}]')) AS bidi
          FROM documents
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN zw > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS zero_width_docs,
               CAST(sum(CASE WHEN bidi > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS bidi_docs,
               CAST(sum(zw) AS BIGINT) AS zero_width_chars,
               CAST(sum(bidi) AS BIGINT) AS bidi_chars,
               CAST(sum(CASE WHEN zw > 0 OR bidi > 0 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS flagged_ppm
        FROM per GROUP BY source ORDER BY source
    """


def confusable_stats_sql() -> str:
    """Mirror of textstats.confusable_stats (same adjacency regex,
    codepoint ranges literal in both engines)."""
    pat = '[A-Za-z][Ѐ-ӿ]|[Ѐ-ӿ][A-Za-z]|[A-Za-z][Ͱ-Ͽ]|[Ͱ-Ͽ][A-Za-z]'
    return f"""
        WITH per AS (
          SELECT source,
                 len(regexp_extract_all(text, '{pat}')) AS hits
          FROM documents
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END) AS BIGINT)
                 AS confusable_docs,
               CAST(sum(hits) AS BIGINT) AS confusable_switches,
               CAST(sum(CASE WHEN hits > 0 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS confusable_ppm
        FROM per GROUP BY source ORDER BY source
    """


def prefix_dedup_stats_sql(prefix_chars: int = 256) -> str:
    """Mirror of dedup.prefix_dedup_stats: collapse-then-slice prefix
    digest vs the full exact digest."""
    stripped = f"regexp_replace(text, '{q(STRIP_WS)}', '', 'g')"
    norm = f"regexp_replace(lower({stripped}), '\\s+', ' ', 'g')"
    ph = f"md5(substring({norm}, 1, {prefix_chars}))"
    eh = f"md5(lower({stripped}))"
    return f"""
        WITH per AS (
          SELECT {ph} AS p, count(*) AS n,
                 count(DISTINCT {eh}) AS n_exact
          FROM documents GROUP BY p
        )
        SELECT CAST(sum(n) AS BIGINT) AS total_docs,
               CAST(count(*) AS BIGINT) AS distinct_prefixes,
               CAST(sum(n) - count(*) AS BIGINT) AS prefix_removable,
               CAST(sum(n) - sum(n_exact) AS BIGINT) AS exact_removable,
               CAST(sum(n_exact) - count(*) AS BIGINT) AS tail_variants_only
        FROM per
    """


def oov_rate_split_sql(split_id: int = 250, vocab_size: int = 1000) -> str:
    """Mirror of corpus.oov_rate_split: deterministic top-k vocabulary
    from the train slice, exact-ppm OOV on the held-out slice."""
    return f"""
        WITH wtrain AS (
          SELECT unnest({_lower_toks()}) AS word FROM documents
          WHERE doc_id < {split_id}
        ), counts AS (
          SELECT word, count(*) AS c FROM wtrain GROUP BY word
        ), vocab AS (
          SELECT word FROM (
            SELECT word, row_number() OVER (ORDER BY c DESC, word) AS r
            FROM counts
          ) WHERE r <= {vocab_size}
        ), held AS (
          SELECT source, unnest({_lower_toks()}) AS word FROM documents
          WHERE doc_id >= {split_id}
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_tokens,
               CAST(sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END)
                    AS BIGINT) AS oov_tokens,
               CAST(sum(CASE WHEN vocab.word IS NULL THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS oov_ppm
        FROM held LEFT JOIN vocab USING (word)
        GROUP BY source ORDER BY source
    """


def incremental_new_files_sql() -> str:
    """Mirror of incremental.new_files_frame over the fixture shard
    listing: per-source "shard files" sized by summed text bytes, a
    manifest that saw src0..src9 in full (length-4 names), HALF the docs
    of src10..src18 (doc_id % 40 alternation — source is doc_id % 20 in
    the testdata, so % 2 would be all-or-nothing), and src19 not at all.
    The anti-join must drop the fully-seen shards, re-qualify the
    size-changed ones, and keep the never-seen one."""
    return """
        WITH listed AS (
          SELECT 'shard_' || source || '.parquet' AS path,
                 CAST(sum(length(text)) AS BIGINT) AS bytes
          FROM documents GROUP BY source
        ), seen AS (
          SELECT 'shard_' || source || '.parquet' AS path,
                 CAST(sum(length(text)) AS BIGINT) AS bytes
          FROM documents
          WHERE (length(source) = 4 OR doc_id % 40 < 20)
                AND source <> 'src19'
          GROUP BY source
        )
        SELECT path, bytes FROM listed
        ANTI JOIN seen USING (path, bytes)
        ORDER BY path
    """


def _pq_ctes(m: int = 8, ks: int = 16) -> str:
    """Shared PQ CTE chain: double-cast vectors, the seeded first-ks
    codebook sliced per subspace, per-(vec, sub) sub-vectors, and the
    squared-L2 argmin encoding (ties to the smaller code — the same
    (d2, code) struct-min as similarity.pq_encode_rows)."""
    sd = f"(len(vec) // {m})"
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    return f"""
        v AS (
          SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec
          FROM embeddings
        ), s AS (
          SELECT CAST(unnest(range({m})) AS INT) AS sub
        ), seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code, vec
          FROM (SELECT * FROM v ORDER BY vec_id LIMIT {ks})
        ), cb AS (
          SELECT s.sub, seeds.code,
                 list_slice(seeds.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS cent
          FROM seeds CROSS JOIN s
        ), subs AS (
          SELECT vec_id, s.sub,
                 list_slice(v.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS sv
          FROM v CROSS JOIN s
        ), encscore AS (
          SELECT subs.vec_id, subs.sub, cb.code,
                 {d2.format(a="subs.sv", b="cb.cent")} AS d2
          FROM subs JOIN cb ON subs.sub = cb.sub
        ), enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY d2, code) AS rn
            FROM encscore
          ) WHERE rn = 1
        )
    """


def pq_encode_sql(m: int = 8, ks: int = 16) -> str:
    """Mirror of similarity.pq_encode_rows (row form)."""
    return f"""
        WITH {_pq_ctes(m, ks)}
        SELECT vec_id, CAST(sub AS INT) AS sub, CAST(code AS INT) AS code
        FROM enc ORDER BY vec_id, sub
    """


def pq_topk_refined_sql(
    k: int = 5, m: int = 8, ks: int = 16, n_queries: int = 10
) -> str:
    """Mirror of similarity.pq_topk(codebook=pq_codebook_refine(iters=1)):
    the seeded encode, ONE integer-unit Lloyd mean step per (sub, code)
    cell (floor(v*1e6) longs, exact half-up floor mean — the
    kmeans_refine discipline), empty cells keeping their seeded
    centroid, re-encode, then the same 1e-8-unit ADC ranking."""
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    sd = f"(len(vec) // {m})"
    mu = "(2*su + n - ((2*su + n) % (2*n) + 2*n) % (2*n)) // (2*n)"
    return f"""
        WITH {_pq_ctes(m, ks)},
        units AS (
          SELECT e.sub, e.code,
                 generate_subscripts(sb.sv, 1) AS dim,
                 CAST(floor(unnest(sb.sv) * 1000000) AS BIGINT) AS vu
          FROM enc e JOIN subs sb
            ON sb.vec_id = e.vec_id AND sb.sub = e.sub
        ), mstats AS (
          SELECT sub, code, dim,
                 CAST(count(*) AS BIGINT) AS n, sum(vu) AS su
          FROM units GROUP BY sub, code, dim
        ), rmu AS (
          SELECT sub, code, list(({mu}) / 1000000.0 ORDER BY dim) AS rcent
          FROM mstats GROUP BY sub, code
        ), cb1 AS (
          SELECT cb.sub, cb.code, coalesce(r.rcent, cb.cent) AS cent
          FROM cb LEFT JOIN rmu r ON cb.sub = r.sub AND cb.code = r.code
        ), encscore1 AS (
          SELECT subs.vec_id, subs.sub, c.code,
                 {d2.format(a="subs.sv", b="c.cent")} AS d2
          FROM subs JOIN cb1 c ON subs.sub = c.sub
        ), enc1 AS (
          SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY d2, code) AS rn
            FROM encscore1
          ) WHERE rn = 1
        ), qsubs AS (
          SELECT vec_id AS q_id, s.sub,
                 list_slice(v.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS qsv
          FROM v CROSS JOIN s WHERE vec_id < {n_queries}
        ), qtab AS (
          SELECT q_id, c.sub, c.code,
                 CAST(floor({d2.format(a="qsv", b="c.cent")} * 1e8) AS BIGINT) AS du
          FROM qsubs JOIN cb1 c ON qsubs.sub = c.sub
        ), scored AS (
          SELECT qt.q_id, e.vec_id,
                 CAST(sum(qt.du) AS BIGINT) AS adist_units
          FROM enc1 e JOIN qtab qt
            ON e.sub = qt.sub AND e.code = qt.code AND e.vec_id <> qt.q_id
          GROUP BY qt.q_id, e.vec_id
        )
        SELECT q_id, vec_id, adist_units, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY adist_units, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def pq_topk_sql(
    k: int = 5, m: int = 8, ks: int = 16, n_queries: int = 10
) -> str:
    """Mirror of similarity.pq_topk: per-query distance tables quantized
    to 1e-8 integer units per entry, int64-summed across subspaces
    (order-free by exactness), ranked ascending with the id tiebreak."""
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    sd = f"(len(vec) // {m})"
    return f"""
        WITH {_pq_ctes(m, ks)},
        qsubs AS (
          SELECT vec_id AS q_id, s.sub,
                 list_slice(v.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS qsv
          FROM v CROSS JOIN s WHERE vec_id < {n_queries}
        ), qtab AS (
          SELECT q_id, cb.sub, cb.code,
                 CAST(floor({d2.format(a="qsv", b="cb.cent")} * 1e8) AS BIGINT) AS du
          FROM qsubs JOIN cb ON qsubs.sub = cb.sub
        ), scored AS (
          SELECT qt.q_id, e.vec_id,
                 CAST(sum(qt.du) AS BIGINT) AS adist_units
          FROM enc e JOIN qtab qt
            ON e.sub = qt.sub AND e.code = qt.code AND e.vec_id <> qt.q_id
          GROUP BY qt.q_id, e.vec_id
        )
        SELECT q_id, vec_id, adist_units, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY adist_units, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def _pq_scored_ctes(m: int, ks: int, n_queries: int, iters: int = 0) -> str:
    """CTE body through ``scored`` — the ADC scan every PQ replay
    shares (mirror of similarity._adc_scored): seeded codebook,
    ``iters`` exact-integer Lloyd rounds, 1e-8-unit distance tables,
    int64 lookup-sum scoring. Used by ``_pq_rank_sql`` (rankings) and
    ``rerank_bound_stats_sql`` (the shortlist-bound audit)."""
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    sd = f"(len(vec) // {m})"
    mu = "(2*su + n - ((2*su + n) % (2*n) + 2*n) % (2*n)) // (2*n)"
    ctes = [_pq_ctes(m, ks)]
    prev_cb, prev_enc = "cb", "enc"
    for i in range(1, iters + 1):
        ctes.append(f"""
        units{i} AS (
          SELECT e.sub, e.code,
                 generate_subscripts(sb.sv, 1) AS dim,
                 CAST(floor(unnest(sb.sv) * 1000000) AS BIGINT) AS vu
          FROM {prev_enc} e JOIN subs sb
            ON sb.vec_id = e.vec_id AND sb.sub = e.sub
        ), mstats{i} AS (
          SELECT sub, code, dim,
                 CAST(count(*) AS BIGINT) AS n, sum(vu) AS su
          FROM units{i} GROUP BY sub, code, dim
        ), rmu{i} AS (
          SELECT sub, code, list(({mu}) / 1000000.0 ORDER BY dim) AS rcent
          FROM mstats{i} GROUP BY sub, code
        ), cb{i} AS (
          SELECT p.sub, p.code, coalesce(r.rcent, p.cent) AS cent
          FROM {prev_cb} p LEFT JOIN rmu{i} r
            ON p.sub = r.sub AND p.code = r.code
        ), encscore{i} AS (
          SELECT subs.vec_id, subs.sub, c.code,
                 {d2.format(a="subs.sv", b="c.cent")} AS d2
          FROM subs JOIN cb{i} c ON subs.sub = c.sub
        ), enc{i} AS (
          SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY d2, code) AS rn
            FROM encscore{i}
          ) WHERE rn = 1
        )""")
        prev_cb, prev_enc = f"cb{i}", f"enc{i}"
    ctes.append(f"""
        qsubs AS (
          SELECT vec_id AS q_id, s.sub,
                 list_slice(v.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS qsv
          FROM v CROSS JOIN s WHERE vec_id < {n_queries}
        ), qtab AS (
          SELECT q_id, c.sub, c.code,
                 CAST(floor({d2.format(a="qsv", b="c.cent")} * 1e8)
                      AS BIGINT) AS du
          FROM qsubs JOIN {prev_cb} c ON qsubs.sub = c.sub
        ), scored AS (
          SELECT qt.q_id, e.vec_id,
                 CAST(sum(qt.du) AS BIGINT) AS adist_units
          FROM {prev_enc} e JOIN qtab qt
            ON e.sub = qt.sub AND e.code = qt.code AND e.vec_id <> qt.q_id
          GROUP BY qt.q_id, e.vec_id
        )""")
    return ",".join(ctes)


def _pq_rank_sql(
    k: int,
    m: int,
    ks: int,
    n_queries: int,
    iters: int = 0,
    rerank: int | None = None,
) -> str:
    """Generalized PQ ranking replay: the seeded codebook, ``iters``
    exact-integer Lloyd rounds (the pq_topk_refined_sql round chain,
    generated mechanically per round), the 1e-8-unit ADC ranking, and
    optionally the exact rerank of the ``rerank``-deep ADC shortlist
    (full-vector squared L2 in the same units — mirror of
    similarity._exact_rerank). pq_topk_sql / pq_topk_refined_sql remain
    the pinned single-config forms; this generator backs the
    (m, ks, refine, rerank) curve and the reranked unified leg."""
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    body = _pq_scored_ctes(m, ks, n_queries, iters)
    if rerank is None:
        return f"""
        WITH {body}
        SELECT q_id, vec_id, adist_units, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY adist_units, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """
    return f"""
        WITH {body},
        short AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY adist_units, vec_id) AS srn
            FROM scored
          ) WHERE srn <= {rerank}
        ), rer AS (
          SELECT sh.q_id, sh.vec_id,
                 CAST(floor({d2.format(a="qv.vec", b="cv.vec")} * 1e8)
                      AS BIGINT) AS adist_units
          FROM short sh
          JOIN v cv ON sh.vec_id = cv.vec_id
          JOIN v qv ON sh.q_id = qv.vec_id
        )
        SELECT q_id, vec_id, adist_units, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY adist_units, vec_id) AS BIGINT) AS rank
          FROM rer
        ) WHERE rank <= {k}
    """


def pq_topk_rerank_sql(
    k: int = 10,
    m: int = 16,
    ks: int = 256,
    n_queries: int = 10,
    shortlist: int = 50,
) -> str:
    """Mirror of similarity.pq_topk(rerank=shortlist) — the shipped
    default: seeded codebook ADC shortlist, exact full-vector re-rank
    in the same 1e-8 integer units."""
    return _pq_rank_sql(k, m, ks, n_queries, iters=0, rerank=shortlist)


def rerank_bound_stats_sql(
    m: int = 16,
    ks: int = 256,
    n_queries: int = 10,
    shortlist: int = 50,
) -> str:
    """Mirror of similarity.rerank_shortlist_stats: the same ADC scan
    and per-query shortlist window, then the Q x rerank bound
    accounting — proving (value-checked) that the rerank join's input
    is the bounded shortlist, never the N^2 candidate space."""
    body = _pq_scored_ctes(m, ks, n_queries, iters=0)
    return f"""
        WITH {body},
        short AS (
          SELECT q_id, vec_id FROM (
            SELECT q_id, vec_id,
                   row_number() OVER (PARTITION BY q_id
                     ORDER BY adist_units, vec_id) AS srn
            FROM scored
          ) WHERE srn <= {shortlist}
        ), per_q AS (
          SELECT q_id, count(*) AS _n FROM short GROUP BY q_id
        )
        SELECT CAST(count(*) AS BIGINT) AS n_queries,
               CAST({shortlist} AS BIGINT) AS rerank_bound,
               CAST(sum(_n) AS BIGINT) AS shortlist_rows,
               CAST(max(_n) AS BIGINT) AS max_per_query,
               CAST(count(*) * {shortlist} AS BIGINT) AS bound_rows,
               (sum(_n) <= count(*) * {shortlist}
                AND max(_n) <= {shortlist}) AS within_bound
        FROM per_q
    """


def pq_recall_curve_sql(
    k: int = 10,
    n_queries: int = 10,
    configs: list[tuple[int, int, int, int]] | None = None,
) -> str:
    """Replay of similarity.pq_recall_curve: one recall row per
    (m, ks, refine_rounds, rerank) config, every ranking rebuilt by
    ``_pq_rank_sql`` against the shared exact cosine ground truth."""
    from llm_training_data_pipeline_spark.operators.similarity import (
        PQ_CURVE_CONFIGS,
    )

    cfgs = configs if configs is not None else PQ_CURVE_CONFIGS
    cos = """CASE WHEN q.nrm = 0 OR c.nrm = 0 THEN 0.0
             ELSE list_sum(list_transform(list_zip(q.vec, c.vec),
                    p -> p[1] * p[2])) / (q.nrm * c.nrm) END"""
    recall = (
        "CAST(floor((hits * 20000 + expected) / (expected * 2.0)) AS BIGINT)"
        " / 10000.0"
    )
    selects = []
    for m, ks, iters, rr in cfgs:
        sql = _pq_rank_sql(k, m, ks, n_queries, iters, rr or None)
        name = f"pq_m{m}_ks{ks}_r{iters}" + (f"_rr{rr}" if rr else "")
        cbytes = m * (1 if ks <= 256 else 2)
        selects.append(f"""
        SELECT '{name}' AS method,
               CAST({m} AS INT) AS m, CAST({ks} AS INT) AS ks,
               CAST({iters} AS INT) AS refine_rounds,
               CAST({rr} AS INT) AS rerank,
               CAST({cbytes} AS INT) AS code_bytes,
               CAST(hits AS BIGINT) AS hits,
               CAST(expected AS BIGINT) AS expected,
               {recall} AS recall
        FROM (
          SELECT count(*) AS hits
          FROM (SELECT q_id, vec_id FROM ({sql}) _a) a
          JOIN exact e USING (q_id, vec_id)
        ) CROSS JOIN exp_cnt""")
    body = "\n        UNION ALL\n        ".join(selects)
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round({cos}, 6) DESC, c.vec_id) AS rank
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {n_queries}
          ) WHERE rank <= {k}
        ), exp_cnt AS (SELECT count(*) AS expected FROM exact)
        {body}
    """


def code_detection_sql() -> str:
    """Mirror of textstats.code_detection_stats: the same three regex
    signals (shared constants), two-of-three vote, per-source rollup."""
    from llm_training_data_pipeline_spark.operators.textstats import (
        CODE_INDENT_LINE,
        CODE_KEYWORD,
        CODE_SYMBOL_CLASS,
        CODE_INDENT_PPM_MIN,
        CODE_KEYWORD_HITS_MIN,
        CODE_SYMBOL_PPM_MIN,
    )

    return f"""
        WITH per AS (
          SELECT source,
                 greatest(length(text), 1) AS nc,
                 len(regexp_extract_all(text, '{q(chr(10))}')) + 1 AS nl,
                 len(regexp_extract_all(text, '{q(CODE_SYMBOL_CLASS)}')) AS sym,
                 len(regexp_extract_all(text, '{q(CODE_KEYWORD)}')) AS kw,
                 len(regexp_extract_all(text, '{q(CODE_INDENT_LINE)}')) AS ind
          FROM documents
        ), sig AS (
          SELECT source, kw,
                 sym * 1000000 // nc AS sym_ppm,
                 ind * 1000000 // nl AS ind_ppm,
                 (CASE WHEN sym * 1000000 // nc >= {CODE_SYMBOL_PPM_MIN}
                       THEN 1 ELSE 0 END)
                 + (CASE WHEN kw >= {CODE_KEYWORD_HITS_MIN} THEN 1 ELSE 0 END)
                 + (CASE WHEN ind * 1000000 // nl >= {CODE_INDENT_PPM_MIN}
                         THEN 1 ELSE 0 END) AS votes
          FROM per
        )
        SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
               CAST(sum(CASE WHEN votes >= 2 THEN 1 ELSE 0 END) AS BIGINT)
                 AS code_docs,
               CAST(sum(CASE WHEN votes >= 2 THEN 1 ELSE 0 END)
                    * 1000000 // count(*) AS BIGINT) AS code_ppm,
               CAST(sum(sym_ppm) // count(*) AS BIGINT) AS mean_symbol_ppm,
               CAST(sum(kw) AS BIGINT) AS keyword_hits
        FROM sig GROUP BY source ORDER BY source
    """


def doremi_mixture_step_sql(
    lr_milli: int = 1000, clip_nats_milli: int = 2000
) -> str:
    """Mirror of corpus.doremi_mixture_step: exact integer ln-unit sums,
    IEEE divisions on exact integers, ONE exp() quantized to 1e-6 units,
    ppm renormalization by integer division."""
    lr = lr_milli / 1000.0
    clip = clip_nats_milli / 1000.0
    return f"""
        WITH w AS (
          SELECT source AS stratum, unnest({_lower_toks()}) AS word
          FROM documents
        ), vocab AS (
          SELECT word, count(*) AS n FROM w GROUP BY word
        ), per_src AS (
          SELECT stratum, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(CAST(floor(ln(vocab.n + 1)
                        * CAST(100000000 AS DOUBLE)) AS BIGINT))
                      AS HUGEINT) AS sln
          FROM w JOIN vocab USING (word) GROUP BY stratum
        ), docs AS (
          SELECT source AS stratum, CAST(count(*) AS BIGINT) AS n_docs
          FROM documents GROUP BY source
        ), corp AS (
          SELECT CAST(sum(n_words) AS HUGEINT) AS nc,
                 CAST(sum(sln) AS HUGEINT) AS sc
          FROM per_src
        ), nd AS (
          SELECT CAST(sum(n_docs) AS BIGINT) AS nd FROM docs
        ), staged AS (
          SELECT p.stratum, d.n_docs,
                 CAST(floor(greatest(-{clip}, least({clip},
                      (CAST(c.sc AS DOUBLE) / CAST(c.nc AS DOUBLE)
                       - CAST(p.sln AS DOUBLE) / CAST(p.n_words AS DOUBLE))
                      / 1e8)) * 1000.0) AS BIGINT) AS excess_milli_nats,
                 CAST(d.n_docs * 1000000 // nd.nd AS BIGINT) AS ref_ppm,
                 CAST(floor(exp({lr} * greatest(-{clip}, least({clip},
                      (CAST(c.sc AS DOUBLE) / CAST(c.nc AS DOUBLE)
                       - CAST(p.sln AS DOUBLE) / CAST(p.n_words AS DOUBLE))
                      / 1e8))) * 1e6) AS BIGINT) AS fu
          FROM per_src p JOIN docs d USING (stratum)
          CROSS JOIN corp c CROSS JOIN nd
        ), tot AS (
          SELECT CAST(sum(CAST(ref_ppm AS HUGEINT) * fu) AS HUGEINT) AS traw
          FROM staged
        )
        SELECT stratum, n_docs, excess_milli_nats, ref_ppm,
               CAST(CAST(ref_ppm AS HUGEINT) * fu * 1000000 // tot.traw
                    AS BIGINT) AS weight_ppm
        FROM staged CROSS JOIN tot
        ORDER BY stratum
    """


def pack_boundaries_sql(budget_tokens: int = 2048) -> str:
    """Mirror of corpus.pack_boundaries: shared running-token window,
    starts-in pack assignment, per-pack ordinal and token offsets."""
    return f"""
        WITH d AS (
          SELECT source, doc_id,
                 CAST(len({_lower_toks()}) AS BIGINT) AS n_tokens
          FROM documents
        ), c AS (
          SELECT *, sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                    ROWS UNBOUNDED PRECEDING) - n_tokens AS pre
          FROM d
        ), p AS (
          SELECT source, doc_id, n_tokens, pre,
                 CAST(floor(pre / {budget_tokens}) AS BIGINT) AS pack_id
          FROM c
        )
        SELECT source, pack_id, doc_id,
               CAST(row_number() OVER (PARTITION BY source, pack_id
                    ORDER BY doc_id) - 1 AS BIGINT) AS pack_ordinal,
               CAST(pre - pack_id * {budget_tokens} AS BIGINT) AS start_offset,
               n_tokens,
               CAST(pre - pack_id * {budget_tokens} + n_tokens AS BIGINT)
                 AS end_offset
        FROM p ORDER BY source, pack_id, doc_id
    """


def domain_blocklist_sql() -> str:
    """Mirror of warc.domain_blocklist_filter over the synthetic 3-label
    domain fixture: suffix chain = [full, registrable 2-label], anti
    semantics on exact labels (w1.src2.com falls to the explicit entry;
    src5.com blocks every w*.src5.com; nosrc5.com-style lookalikes
    survive because suffixes are label-split, not string-suffix)."""
    return """
        WITH docs AS (
          SELECT doc_id,
                 'w' || CAST(doc_id % 7 AS VARCHAR) || '.' || source || '.com'
                   AS domain
          FROM documents
        ), bl AS (
          SELECT * FROM (VALUES ('src5.com'), ('w1.src2.com'),
                                ('src13.com')) AS t(blocked_domain)
        ), sfx AS (
          SELECT DISTINCT domain,
                 unnest([domain,
                         split_part(domain, '.', 2) || '.' ||
                         split_part(domain, '.', 3)]) AS s
          FROM docs
        ), hit AS (
          SELECT DISTINCT domain FROM sfx
          WHERE s IN (SELECT blocked_domain FROM bl)
        )
        SELECT d.domain, CAST(count(*) AS BIGINT) AS n_docs
        FROM docs d ANTI JOIN hit USING (domain)
        GROUP BY d.domain ORDER BY d.domain
    """


def split_leakage_sql(
    num_perm: int = 16,
    num_bands: int = 4,
    threshold: float = 0.5,
    shingle_size: int = 5,
    val_permille: int = 50,
    test_permille: int = 50,
) -> str:
    """Mirror of dedup.split_leakage_stats over the md5-family candidate
    pairs and the arithmetic-key dataset split."""
    eq_terms = " + ".join(
        f"CASE WHEN sa.sig[{i + 1}] = sb.sig[{i + 1}] THEN 1 ELSE 0 END"
        for i in range(num_perm)
    )
    key = "(((doc_id % 1000003 + 1000003) % 1000003) * 2654435761) % 1000"
    return f"""
        WITH {_minhash_bands_prefix_sql(num_perm, num_bands, shingle_size)}, cand AS (
          SELECT DISTINCT x.doc_id AS id_a, y.doc_id AS id_b
          FROM bands x JOIN bands y
            ON x.band_id = y.band_id AND x.band_sig = y.band_sig
               AND x.doc_id < y.doc_id
        ), pairs AS (
          SELECT c.id_a, c.id_b
          FROM cand c
          JOIN sig sa ON sa.doc_id = c.id_a
          JOIN sig sb ON sb.doc_id = c.id_b
          WHERE ({eq_terms}) / CAST({num_perm} AS DOUBLE) >= {threshold}
        ), spl AS (
          SELECT doc_id,
                 CASE WHEN {key} < {val_permille} THEN 'val'
                      WHEN {key} < {val_permille + test_permille} THEN 'test'
                      ELSE 'train' END AS split
          FROM documents
        ), tagged AS (
          SELECT least(coalesce(a.split, '(untagged)'),
                       coalesce(b.split, '(untagged)')) AS split_lo,
                 greatest(coalesce(a.split, '(untagged)'),
                          coalesce(b.split, '(untagged)')) AS split_hi,
                 p.id_a, p.id_b
          FROM pairs p
          LEFT JOIN spl a ON p.id_a = a.doc_id
          LEFT JOIN spl b ON p.id_b = b.doc_id
        ), np AS (
          SELECT split_lo, split_hi, CAST(count(*) AS BIGINT) AS n_pairs
          FROM tagged GROUP BY split_lo, split_hi
        ), nd AS (
          SELECT split_lo, split_hi,
                 CAST(count(DISTINCT id) AS BIGINT) AS n_docs
          FROM (SELECT split_lo, split_hi, unnest([id_a, id_b]) AS id
                FROM tagged)
          GROUP BY split_lo, split_hi
        )
        SELECT np.split_lo, np.split_hi, np.n_pairs, nd.n_docs,
               np.split_lo <> np.split_hi AS is_leak
        FROM np JOIN nd USING (split_lo, split_hi)
        ORDER BY split_lo, split_hi
    """


def unimax_plan_sql(budget_tokens: int, max_epochs_milli: int = 4000) -> str:
    """Mirror of corpus.unimax_plan: the closed-form water-filling —
    caps sorted ascending, the integer prefix comparison marks the
    capped prefix, one aggregate fixes the uniform fill level."""
    return f"""
        WITH per AS (
          SELECT source,
                 CAST(sum(len({_lower_toks()})) AS BIGINT) AS available_tokens
          FROM documents GROUP BY source
        ), capd AS (
          SELECT source, available_tokens,
                 available_tokens * {int(max_epochs_milli)} // 1000
                   AS cap_tokens
          FROM per
        ), staged AS (
          SELECT *,
                 row_number() OVER (ORDER BY cap_tokens, source) AS rn,
                 COALESCE(sum(cap_tokens) OVER (ORDER BY cap_tokens, source
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS cum_prev,
                 count(*) OVER () AS n
          FROM capd
        ), marked AS (
          SELECT *,
                 CAST(cap_tokens AS HUGEINT) * (n - rn + 1)
                   <= CAST({int(budget_tokens)} AS HUGEINT) - cum_prev
                   AS capped
          FROM staged
        ), fill AS (
          SELECT CAST(sum(CASE WHEN capped THEN cap_tokens ELSE 0 END)
                      AS HUGEINT) AS capped_sum,
                 CAST(sum(CASE WHEN capped THEN 0 ELSE 1 END) AS BIGINT)
                   AS n_unc
          FROM marked
        )
        SELECT m.source, m.available_tokens, m.cap_tokens,
               CAST(CASE WHEN m.capped THEN m.cap_tokens
                    ELSE least(m.cap_tokens,
                         (CAST({int(budget_tokens)} AS HUGEINT) - f.capped_sum)
                           // greatest(f.n_unc, 1)) END AS BIGINT)
                 AS alloc_tokens,
               CAST(CASE WHEN m.available_tokens > 0 THEN
                    CAST(CASE WHEN m.capped THEN m.cap_tokens
                         ELSE least(m.cap_tokens,
                              (CAST({int(budget_tokens)} AS HUGEINT)
                                - f.capped_sum)
                                // greatest(f.n_unc, 1)) END AS HUGEINT)
                    * 1000 // m.available_tokens ELSE 0 END AS BIGINT)
                 AS epochs_milli
        FROM marked m CROSS JOIN fill f
        ORDER BY m.source
    """


def ivfpq_topk_sql(
    k: int = 5,
    n_clusters: int = 16,
    n_probe: int = 3,
    m: int = 8,
    ks: int = 16,
    n_queries: int = 10,
    by_residual: bool = False,
) -> str:
    """Mirror of similarity.ivfpq_topk: the semdedup seeded-centroid
    list assignment composed with the global PQ codebook and the
    integer-unit ADC scoring, scored only inside each query's n_probe
    lists."""
    sd = f"(len(vec) // {m})"
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    cos_qc = """CASE WHEN q.qnrm = 0 OR c.cnrm = 0 THEN 0.0
               ELSE list_sum(list_transform(list_zip(q.qvec, c.cvec),
                      p -> p[1] * p[2])) / (q.qnrm * c.cnrm) END"""
    if by_residual:
        # residual space: rv = v - centroid(cluster(v)); codebook seeds
        # are the first-ks residuals; the query residualizes per probe
        return f"""
        WITH {_semdedup_assign_cte(n_clusters)}, s AS (
          SELECT CAST(unnest(range({m})) AS INT) AS sub
        ), rv AS (
          SELECT a.vec_id, a.cluster,
                 list_transform(list_zip(a.vec, c2.cvec),
                                p -> p[1] - p[2]) AS vec
          FROM assigned a JOIN c c2 ON a.cluster = c2.cluster
        ), seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
                 vec
          FROM (SELECT * FROM rv ORDER BY vec_id LIMIT {ks})
        ), cb AS (
          SELECT s.sub, seeds.code,
                 list_slice(seeds.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS cent
          FROM seeds CROSS JOIN s
        ), subs AS (
          SELECT vec_id, s.sub,
                 list_slice(rv.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS sv
          FROM rv CROSS JOIN s
        ), encscore AS (
          SELECT subs.vec_id, subs.sub, cb.code,
                 {d2.format(a="subs.sv", b="cb.cent")} AS d2
          FROM subs JOIN cb ON subs.sub = cb.sub
        ), enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY d2, code) AS rn
            FROM encscore
          ) WHERE rn = 1
        ), qs AS (
          SELECT vec_id AS q_id, vec AS qvec, nrm AS qnrm
          FROM v WHERE vec_id < {n_queries}
        ), probes AS (
          SELECT q_id, cluster, qres AS qvec FROM (
            SELECT q.q_id, c.cluster,
                   list_transform(list_zip(q.qvec, c.cvec),
                                  p -> p[1] - p[2]) AS qres,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY {cos_qc} DESC, c.cluster) AS prn
            FROM qs q CROSS JOIN c
          ) WHERE prn <= {n_probe}
        ), qsubs AS (
          SELECT q_id, cluster, s.sub,
                 list_slice(qvec, s.sub * (len(qvec) // {m}) + 1,
                            s.sub * (len(qvec) // {m})
                              + (len(qvec) // {m})) AS qsv
          FROM probes CROSS JOIN s
        ), qtab AS (
          SELECT q_id, cluster, cb.sub, cb.code,
                 CAST(floor({d2.format(a="qsv", b="cb.cent")} * 1e8)
                      AS BIGINT) AS du
          FROM qsubs JOIN cb ON qsubs.sub = cb.sub
        ), scored AS (
          SELECT qt.q_id, e.vec_id,
                 CAST(sum(qt.du) AS BIGINT) AS adist_units
          FROM enc e
          JOIN assigned a ON a.vec_id = e.vec_id
          JOIN qtab qt ON qt.cluster = a.cluster
            AND e.sub = qt.sub AND e.code = qt.code
            AND e.vec_id <> qt.q_id
          GROUP BY qt.q_id, e.vec_id
        )
        SELECT q_id, vec_id, adist_units, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY adist_units, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """
    return f"""
        WITH {_semdedup_assign_cte(n_clusters)}, s AS (
          SELECT CAST(unnest(range({m})) AS INT) AS sub
        ), seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
                 vec
          FROM (SELECT * FROM v ORDER BY vec_id LIMIT {ks})
        ), cb AS (
          SELECT s.sub, seeds.code,
                 list_slice(seeds.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS cent
          FROM seeds CROSS JOIN s
        ), subs AS (
          SELECT vec_id, s.sub,
                 list_slice(v.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS sv
          FROM v CROSS JOIN s
        ), encscore AS (
          SELECT subs.vec_id, subs.sub, cb.code,
                 {d2.format(a="subs.sv", b="cb.cent")} AS d2
          FROM subs JOIN cb ON subs.sub = cb.sub
        ), enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY d2, code) AS rn
            FROM encscore
          ) WHERE rn = 1
        ), qs AS (
          SELECT vec_id AS q_id, vec AS qvec, nrm AS qnrm
          FROM v WHERE vec_id < {n_queries}
        ), probes AS (
          SELECT q_id, qvec, cluster FROM (
            SELECT q.q_id, q.qvec, c.cluster,
                   row_number() OVER (PARTITION BY q.q_id
                     ORDER BY {cos_qc} DESC, c.cluster) AS prn
            FROM qs q CROSS JOIN c
          ) WHERE prn <= {n_probe}
        ), qsubs AS (
          SELECT q_id, cluster, s.sub,
                 list_slice(qvec, s.sub * (len(qvec) // {m}) + 1,
                            s.sub * (len(qvec) // {m})
                              + (len(qvec) // {m})) AS qsv
          FROM probes CROSS JOIN s
        ), qtab AS (
          SELECT q_id, cluster, cb.sub, cb.code,
                 CAST(floor({d2.format(a="qsv", b="cb.cent")} * 1e8)
                      AS BIGINT) AS du
          FROM qsubs JOIN cb ON qsubs.sub = cb.sub
        ), scored AS (
          SELECT qt.q_id, e.vec_id,
                 CAST(sum(qt.du) AS BIGINT) AS adist_units
          FROM enc e
          JOIN assigned a ON a.vec_id = e.vec_id
          JOIN qtab qt ON qt.cluster = a.cluster
            AND e.sub = qt.sub AND e.code = qt.code
            AND e.vec_id <> qt.q_id
          GROUP BY qt.q_id, e.vec_id
        )
        SELECT q_id, vec_id, adist_units, rank FROM (
          SELECT *, CAST(row_number() OVER (PARTITION BY q_id
                   ORDER BY adist_units, vec_id) AS BIGINT) AS rank
          FROM scored
        ) WHERE rank <= {k}
    """


def chat_format_stats_sql(
    turns_per_conv: int = 4, content_chars: int = 120
) -> str:
    """Mirror of sft.chat_format_stats over the documents-derived turns
    with deterministic flaw injection (conv_id % 20 classes: same-role
    run / empty turn / unknown role+bad opener / dropped final
    assistant / valid), so every violation counter is non-vacuous."""
    return f"""
        WITH {_sft_conv_cte(turns_per_conv, content_chars)}, flawed AS (
          SELECT conv_id, turn_idx,
                 CASE WHEN conv_id % 20 = 0 AND turn_idx = 1 THEN 'user'
                      WHEN conv_id % 20 = 8 AND turn_idx = 0 THEN 'tool'
                      ELSE role END AS role,
                 CASE WHEN conv_id % 20 = 4 AND turn_idx = 2 THEN ''
                      ELSE content END AS content
          FROM conv
          WHERE NOT (conv_id % 20 = 12 AND turn_idx = {turns_per_conv - 1})
        ), per AS (
          SELECT conv_id,
                 list_sort(list({{'turn_idx': turn_idx, 'role': role,
                                  'content': content}})) AS t
          FROM flawed GROUP BY conv_id
        ), flags AS (
          SELECT conv_id, len(t) AS n_turns,
                 len(list_filter(t, s -> s['role'] NOT IN
                     ('system', 'user', 'assistant'))) > 0 AS unknown_role,
                 len(list_filter(t, s -> length(trim(s['content'])) = 0))
                   > 0 AS empty_turn,
                 len(list_filter(range(2, len(t) + 1),
                     i -> t[i]['role'] = t[i - 1]['role'])) > 0
                   AS same_role_run,
                 t[1]['role'] NOT IN ('system', 'user') AS bad_opener,
                 t[len(t)]['role'] <> 'assistant' AS no_assistant_end
          FROM per
        )
        SELECT CAST(count(*) AS BIGINT) AS n_conversations,
               CAST(sum(CASE WHEN unknown_role THEN 1 ELSE 0 END) AS BIGINT)
                 AS unknown_role,
               CAST(sum(CASE WHEN empty_turn THEN 1 ELSE 0 END) AS BIGINT)
                 AS empty_turn,
               CAST(sum(CASE WHEN same_role_run THEN 1 ELSE 0 END) AS BIGINT)
                 AS same_role_run,
               CAST(sum(CASE WHEN bad_opener THEN 1 ELSE 0 END) AS BIGINT)
                 AS bad_opener,
               CAST(sum(CASE WHEN no_assistant_end THEN 1 ELSE 0 END)
                 AS BIGINT) AS no_assistant_end,
               CAST(sum(CASE WHEN NOT (unknown_role OR empty_turn
                 OR same_role_run OR bad_opener OR no_assistant_end)
                 THEN 1 ELSE 0 END) AS BIGINT) AS valid,
               CAST(sum(CASE WHEN NOT (unknown_role OR empty_turn
                 OR same_role_run OR bad_opener OR no_assistant_end)
                 THEN 1 ELSE 0 END) * 1000000 // count(*) AS BIGINT)
                 AS valid_ppm
        FROM flags
    """


def pq_recall_sql(
    k: int = 10, m: int = 8, ks: int = 16, n_queries: int = 10
) -> str:
    """Replay of similarity.ann_recall over (brute-force cosine top-k,
    PQ/ADC top-k): both rankings rebuilt in SQL, hits/expected joined on
    (q_id, vec_id), recall in the exact half-up integer form."""
    sd = f"(len(vec) // {m})"
    d2 = (
        "list_sum(list_transform(list_zip({a}, {b}),"
        " p -> (p[1] - p[2]) * (p[1] - p[2])))"
    )
    cos = """CASE WHEN q.nrm = 0 OR c.nrm = 0 THEN 0.0
             ELSE list_sum(list_transform(list_zip(q.vec, c.vec),
                    p -> p[1] * p[2])) / (q.nrm * c.nrm) END"""
    recall = (
        "CAST(floor((hits * 20000 + expected) / (expected * 2.0)) AS BIGINT)"
        " / 10000.0"
    )
    return f"""
        WITH v AS (
          SELECT vec_id,
                 list_transform(embedding, x -> CAST(x AS DOUBLE)) AS vec,
                 sqrt(list_sum(list_transform(embedding,
                      x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE)))) AS nrm
          FROM embeddings
        ), s AS (
          SELECT CAST(unnest(range({m})) AS INT) AS sub
        ), seeds AS (
          SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INT) AS code,
                 vec
          FROM (SELECT * FROM v ORDER BY vec_id LIMIT {ks})
        ), cb AS (
          SELECT s.sub, seeds.code,
                 list_slice(seeds.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS cent
          FROM seeds CROSS JOIN s
        ), subs AS (
          SELECT vec_id, s.sub,
                 list_slice(v.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS sv
          FROM v CROSS JOIN s
        ), encscore AS (
          SELECT subs.vec_id, subs.sub, cb.code,
                 {d2.format(a="subs.sv", b="cb.cent")} AS d2
          FROM subs JOIN cb ON subs.sub = cb.sub
        ), enc AS (
          SELECT vec_id, sub, code FROM (
            SELECT *, row_number() OVER (PARTITION BY vec_id, sub
                        ORDER BY d2, code) AS rn
            FROM encscore
          ) WHERE rn = 1
        ), qsubs AS (
          SELECT vec_id AS q_id, s.sub,
                 list_slice(v.vec, s.sub * {sd} + 1,
                            s.sub * {sd} + {sd}) AS qsv
          FROM v CROSS JOIN s WHERE vec_id < {n_queries}
        ), qtab AS (
          SELECT q_id, cb.sub, cb.code,
                 CAST(floor({d2.format(a="qsv", b="cb.cent")} * 1e8)
                      AS BIGINT) AS du
          FROM qsubs JOIN cb ON qsubs.sub = cb.sub
        ), pqtop AS (
          SELECT q_id, vec_id FROM (
            SELECT qt.q_id, e.vec_id,
                   row_number() OVER (PARTITION BY qt.q_id
                     ORDER BY sum(qt.du), e.vec_id) AS rank
            FROM enc e JOIN qtab qt
              ON e.sub = qt.sub AND e.code = qt.code
                 AND e.vec_id <> qt.q_id
            GROUP BY qt.q_id, e.vec_id
          ) WHERE rank <= {k}
        ), exact AS (
          SELECT q_id, vec_id FROM (
            SELECT q.vec_id AS q_id, c.vec_id AS vec_id,
                   row_number() OVER (PARTITION BY q.vec_id
                     ORDER BY round({cos}, 6) DESC, c.vec_id) AS rank
            FROM v q JOIN v c ON q.vec_id <> c.vec_id
            WHERE q.vec_id < {n_queries}
          ) WHERE rank <= {k}
        ), h AS (
          SELECT CAST(count(*) AS BIGINT) AS hits
          FROM pqtop JOIN exact USING (q_id, vec_id)
        ), e2 AS (
          SELECT CAST(count(*) AS BIGINT) AS expected FROM exact
        )
        SELECT hits, expected, {recall} AS recall FROM h CROSS JOIN e2
    """


def pq_bucket_dedup_sql(m: int = 8, ks: int = 16) -> str:
    """Mirror of similarity.pq_bucket_dedup_stats: the PQ encode chain,
    cells keyed by the ordered code string, min-id-winner discard
    count."""
    return f"""
        WITH {_pq_ctes(m, ks)}, keyed AS (
          SELECT vec_id,
                 string_agg(CAST(code AS VARCHAR), '-' ORDER BY sub)
                   AS cell
          FROM enc GROUP BY vec_id
        ), cells AS (
          SELECT cell, CAST(count(*) AS BIGINT) AS n
          FROM keyed GROUP BY cell
        )
        SELECT CAST(sum(n) AS BIGINT) AS n_vectors,
               CAST(count(*) AS BIGINT) AS n_buckets,
               CAST(sum(n - 1) AS BIGINT) AS removable,
               CAST(sum(n - 1) * 1000000 // sum(n) AS BIGINT)
                 AS removable_ppm
        FROM cells
    """


def subtitle_cues_sql(n_cues: int = 3) -> str:
    """Mirror of subtitles.render_srt + subtitles.subtitle_cues: the
    forward SRT render (floor-div timestamps — never divide-and-cast,
    the repo rounding pin; newline-flattened 55-char text slices) and
    the native-column cue parse (blank-line block split, the shared
    Java∩RE2 arrow regex with optional hours, (?s) cue-text tail),
    both replayed in DuckDB SQL. Blocks without an arrow are dropped;
    cue_index is the per-doc file-order row_number."""
    arrow = (
        r"(?:(\d{2,}):)?(\d{2}):(\d{2})[,.](\d{3})"
        r"\s*-->\s*"
        r"(?:(\d{2,}):)?(\d{2}):(\d{2})[,.](\d{3})"
    )
    cue_tail = "(?s)" + arrow + r"[^\n]*\n(.*)"
    fmt = (
        "printf('%02d:%02d:%02d,%03d', {ms} // 3600000, "
        "({ms} // 60000) % 60, ({ms} // 1000) % 60, {ms} % 1000)"
    )
    cue_exprs = []
    for k in range(n_cues):
        start = f"((doc_id % 863) * 977 + {k * 1300})"
        end = f"({start} + 1150 + (doc_id % 7) * 13)"
        cue_exprs.append(
            f"'{k + 1}' || chr(10) || {fmt.format(ms=start)} || ' --> ' || "
            f"{fmt.format(ms=end)} || chr(10) || 'cue {k} ' || "
            f"regexp_replace(substr(text, 1 + {60 * k}, 55), "
            f"'[\\r\\n]+', ' ', 'g')"
        )
    srt = (" || chr(10) || chr(10) || ").join(cue_exprs)
    return f"""
        WITH rendered AS (
          SELECT doc_id, {srt} AS srt FROM documents
        ), blocks AS (
          SELECT doc_id,
                 generate_subscripts(bl, 1) AS pos,
                 unnest(bl) AS block
          FROM (
            SELECT doc_id,
                   regexp_split_to_array(srt, '(\\r?\\n){{2,}}') AS bl
            FROM rendered
          )
        ), cues AS (
          SELECT doc_id, pos,
                 regexp_extract(block, '{arrow}', 1) AS h1,
                 CAST(regexp_extract(block, '{arrow}', 2) AS BIGINT) AS m1,
                 CAST(regexp_extract(block, '{arrow}', 3) AS BIGINT) AS s1,
                 CAST(regexp_extract(block, '{arrow}', 4) AS BIGINT) AS x1,
                 regexp_extract(block, '{arrow}', 5) AS h2,
                 CAST(regexp_extract(block, '{arrow}', 6) AS BIGINT) AS m2,
                 CAST(regexp_extract(block, '{arrow}', 7) AS BIGINT) AS s2,
                 CAST(regexp_extract(block, '{arrow}', 8) AS BIGINT) AS x2,
                 regexp_extract(block, '{cue_tail}', 9) AS cue_text
          FROM blocks
          WHERE regexp_extract(block, '{arrow}', 0) <> ''
        )
        SELECT doc_id,
               CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS cue_index,
               ((CASE WHEN h1 = '' THEN 0 ELSE CAST(h1 AS BIGINT) END)
                 * 3600 + m1 * 60 + s1) * 1000 + x1 AS start_ms,
               ((CASE WHEN h2 = '' THEN 0 ELSE CAST(h2 AS BIGINT) END)
                 * 3600 + m2 * 60 + s2) * 1000 + x2 AS end_ms,
               ((CASE WHEN h2 = '' THEN 0 ELSE CAST(h2 AS BIGINT) END)
                 * 3600 + m2 * 60 + s2) * 1000 + x2
               - (((CASE WHEN h1 = '' THEN 0 ELSE CAST(h1 AS BIGINT) END)
                 * 3600 + m1 * 60 + s1) * 1000 + x1) AS duration_ms,
               cue_text,
               CAST(length(cue_text) AS BIGINT) AS cue_chars
        FROM cues
    """


def ass_cues_sql(n_cues: int = 3) -> str:
    """Mirror of subtitles.render_ass + subtitles.ass_dialogue_cues:
    Script Info/Events header + Dialogue lines with H:MM:SS.cc
    centisecond timestamps on a 10 ms grid, then the line-oriented
    parse (the SAME _ASS_DIALOGUE regex constant — it is the format,
    like the sentence sentinel), {...} override stripping and
    soft-break flattening, per-doc file-order row_number."""
    from llm_training_data_pipeline_spark.operators.subtitles import (
        _ASS_DIALOGUE,
    )

    header = (
        "[Script Info]" "' || chr(10) || '" "Title: synthetic"
        "' || chr(10) || chr(10) || '" "[Events]" "' || chr(10) || '"
        "Format: Layer, Start, End, Style, Name, MarginL, MarginR, "
        "MarginV, Effect, Text"
    )
    fmt = (
        "printf('%d:%02d:%02d.%02d', {ms} // 3600000, "
        "({ms} // 60000) % 60, ({ms} // 1000) % 60, ({ms} // 10) % 100)"
    )
    cue_exprs = [f"'{header}'"]
    for k in range(n_cues):
        start = f"((((doc_id % 863) * 977 + {k * 1300}) // 10) * 10)"
        end = f"({start} + 1150 + (doc_id % 7) * 10)"
        body = (
            f"'{{\\b1}}part {k}{{\\b0}}, ' || "
            f"regexp_replace(substr(text, 1 + {50 * k}, 40), "
            f"'[\\r\\n,]+', ' ', 'g') || '\\Ntail'"
        )
        cue_exprs.append(
            f"'Dialogue: 0,' || {fmt.format(ms=start)} || ',' || "
            f"{fmt.format(ms=end)} || ',Default,,0,0,0,,' || {body}"
        )
    ass = (" || chr(10) || ").join(cue_exprs)
    dlg = _ASS_DIALOGUE.replace("'", "''")
    ms1 = (
        "(CAST(regexp_extract(line, '{re}', 1) AS BIGINT) * 3600 + "
        "CAST(regexp_extract(line, '{re}', 2) AS BIGINT) * 60 + "
        "CAST(regexp_extract(line, '{re}', 3) AS BIGINT)) * 1000 + "
        "CAST(regexp_extract(line, '{re}', 4) AS BIGINT) * 10"
    ).format(re=dlg)
    ms2 = (
        "(CAST(regexp_extract(line, '{re}', 5) AS BIGINT) * 3600 + "
        "CAST(regexp_extract(line, '{re}', 6) AS BIGINT) * 60 + "
        "CAST(regexp_extract(line, '{re}', 7) AS BIGINT)) * 1000 + "
        "CAST(regexp_extract(line, '{re}', 8) AS BIGINT) * 10"
    ).format(re=dlg)
    return f"""
        WITH rendered AS (
          SELECT doc_id, {ass} AS ass FROM documents
        ), lines AS (
          SELECT doc_id,
                 generate_subscripts(ls, 1) AS pos,
                 unnest(ls) AS line
          FROM (
            SELECT doc_id,
                   regexp_split_to_array(ass, '\\r?\\n') AS ls
            FROM rendered
          )
        ), cues AS (
          SELECT doc_id, pos,
                 {ms1} AS start_ms,
                 {ms2} AS end_ms,
                 regexp_extract(line, '{dlg}', 9) AS cue_text
          FROM lines
          WHERE regexp_extract(line, '{dlg}', 0) <> ''
        )
        SELECT doc_id,
               CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS cue_index,
               start_ms, end_ms,
               end_ms - start_ms AS duration_ms,
               cue_text,
               regexp_replace(regexp_replace(cue_text, '\\{{[^}}]*\\}}', '',
                 'g'), '\\\\[Nnh]', ' ', 'g') AS cue_plain,
               CAST(length(regexp_replace(regexp_replace(cue_text,
                 '\\{{[^}}]*\\}}', '', 'g'), '\\\\[Nnh]', ' ', 'g'))
                 AS BIGINT) AS cue_chars
        FROM cues
    """


def ttml_cues_sql(n_cues: int = 3) -> str:
    """Mirror of subtitles.render_ttml + subtitles.ttml_cues: the
    <tt>/<body>/<div> skeleton with <p begin end> elements cycling the
    three TTML time syntaxes, then the element scan (the SAME _TTML_P /
    _TTML_CLOCK / _TTML_SECS / _TTML_MS regex constants), <br/>
    flattening + tag strip + entity unescape for cue_plain, per-doc
    document-order row_number."""
    from llm_training_data_pipeline_spark.operators.subtitles import (
        _TTML_CLOCK,
        _TTML_MS,
        _TTML_P,
        _TTML_SECS,
    )

    clock_fmt = (
        "printf('%02d:%02d:%02d.%03d', {ms} // 3600000, "
        "({ms} // 60000) % 60, ({ms} // 1000) % 60, {ms} % 1000)"
    )
    secs_fmt = "printf('%d.%03ds', {ms} // 1000, {ms} % 1000)"
    ms_fmt = "printf('%dms', {ms})"
    fmts = (clock_fmt, secs_fmt, ms_fmt)
    parts = [
        "'<tt xmlns=\"http://www.w3.org/ns/ttml\">' || chr(10) || "
        "'  <body>' || chr(10) || '    <div>'"
    ]
    for k in range(n_cues):
        start = f"((doc_id % 863) * 977 + {k * 1300})"
        end = f"({start} + 1200 + (doc_id % 9) * 7)"
        body = (
            f"'<span>seg {k}</span> ' || "
            "regexp_replace(substr(text, 1 + "
            f"{45 * k}, 38), "
            "'[\\r\\n<>&\"]+', ' ', 'g') || '<br/>tail &amp; more'"
        )
        parts.append(
            "'      <p begin=\"' || " + fmts[k % 3].format(ms=start)
            + " || '\" end=\"' || " + fmts[k % 3].format(ms=end)
            + " || '\">' || " + body + " || '</p>'"
        )
    parts.append("'    </div>' || chr(10) || '  </body>' || chr(10) || '</tt>'")
    ttml = " || chr(10) || ".join(parts)

    def ms_expr(ts: str) -> str:
        return (
            "CASE "
            f"WHEN regexp_extract({ts}, '{_TTML_MS}', 0) <> '' THEN "
            f"CAST(regexp_extract({ts}, '{_TTML_MS}', 1) AS BIGINT) "
            f"WHEN regexp_extract({ts}, '{_TTML_SECS}', 0) <> '' THEN "
            f"CAST(regexp_extract({ts}, '{_TTML_SECS}', 1) AS BIGINT) * 1000 "
            f"+ CAST(rpad(regexp_extract({ts}, '{_TTML_SECS}', 2), 3, '0') AS BIGINT) "
            f"WHEN regexp_extract({ts}, '{_TTML_CLOCK}', 0) <> '' THEN "
            f"(CAST(regexp_extract({ts}, '{_TTML_CLOCK}', 1) AS BIGINT) * 3600 "
            f"+ CAST(regexp_extract({ts}, '{_TTML_CLOCK}', 2) AS BIGINT) * 60 "
            f"+ CAST(regexp_extract({ts}, '{_TTML_CLOCK}', 3) AS BIGINT)) * 1000 "
            f"+ CAST(rpad(regexp_extract({ts}, '{_TTML_CLOCK}', 4), 3, '0') AS BIGINT) "
            "ELSE NULL END"
        )

    pat = _TTML_P
    apos = "''"
    plain = (
        "replace(replace(replace(replace(replace("
        "regexp_replace(regexp_replace(cue_text, '<br\\s*/?>', ' ', 'g'), "
        "'<[^>]*>', '', 'g'), "
        "'&lt;', '<'), '&gt;', '>'), '&quot;', '\"'), "
        f"'&apos;', '{apos}'), '&amp;', '&')"
    )
    return f"""
        WITH rendered AS (
          SELECT doc_id, {ttml} AS ttml FROM documents
        ), els AS (
          SELECT doc_id,
                 generate_subscripts(es, 1) AS pos,
                 unnest(es) AS el
          FROM (
            SELECT doc_id, regexp_extract_all(ttml, '{pat}', 0) AS es
            FROM rendered
          )
        ), cues AS (
          SELECT doc_id, pos,
                 {ms_expr(f"regexp_extract(el, '{pat}', 1)")} AS start_ms,
                 {ms_expr(f"regexp_extract(el, '{pat}', 2)")} AS end_ms,
                 regexp_extract(el, '{pat}', 3) AS cue_text
          FROM els
        )
        SELECT doc_id,
               CAST(row_number() OVER (
                 PARTITION BY doc_id ORDER BY pos) AS BIGINT) AS cue_index,
               start_ms, end_ms,
               end_ms - start_ms AS duration_ms,
               cue_text,
               {plain} AS cue_plain,
               CAST(length({plain}) AS BIGINT) AS cue_chars
        FROM cues
        WHERE start_ms IS NOT NULL AND end_ms IS NOT NULL
    """
