"""Text analysis over the ``documents`` table — token counting, quality
scoring, language-ID heuristic, document fingerprinting.

All computations are native column expressions (JVM-side, codegen'd): at
100 TB these run at scan speed with full predicate pushdown; no Python
touches the hot path. Each query has a DuckDB oracle with identical
semantics (same regex class, same rounding).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .hashing import (doc_lottery_col, doc_lottery_sql_duck, hex4_col,
                      hex4_sql_duck, hex4_sql_spark)

STOPWORDS_EN = ("the", "a", "and", "of", "to", "in", "is", "it", "on", "for")
_SW_LIST = ", ".join(f"'{w}'" for w in STOPWORDS_EN)

QF_MIN_WORDS = 15
QF_MAX_WORDS = 100000
QF_MIN_AVG_WLEN = 2
QF_MAX_AVG_WLEN = 12
QF_MIN_STOPWORD_RATIO = 0.01

# GPT-2-style pre-tokenizer regex (letter runs / single digits /
# punctuation) — the portable common-regex-subset token estimator
BPE_PATTERN = r"[A-Za-z]+|[0-9]|[^A-Za-z0-9\s]"

# PII scrubbing patterns — the common Java-regex / RE2 subset (no
# alternation, so leftmost-greedy == leftmost-longest and both engines
# match identical spans). Applied in a fixed order (email → IPv4 →
# phone); each later pattern counts/replaces on the PREVIOUS stage's
# output, and the replacement tokens contain no digits so a later
# pattern can never match inside an earlier redaction.
PII_EMAIL = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PII_IPV4 = r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b"
PII_PHONE = r"\+?\d[\d\- ]{6,}\d"


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def words_empty_safe(col: str = "text"):
    """NULL/empty-to-EMPTY-ARRAY variant of :func:`_words` — the word
    grain of the content-rewrite dedup operators (span dedup,
    ExactSubstr): a NULL-text document still gets a verdict row with an
    empty kept text, so the corpus grain is preserved. One definition;
    a change to the tokenizer convention lands everywhere at once."""
    return (F.when(F.col(col).isNull()
                   | (F.length(F.trim(F.col(col))) == 0),
                   F.array().cast("array<string>"))
            .otherwise(F.split(F.trim(F.col(col)), r"\s+")))


def _words(col: str = "text"):
    # whitespace tokenizer, empty-safe; mirrored 1:1 in the oracle SQL
    return F.when(F.length(F.trim(F.col(col))) == 0, F.array().cast("array<string>")) \
            .otherwise(F.split(F.trim(F.col(col)), r"\s+"))


def qf_reasons(w_col: str = "w", text_col: str = "text"):
    """Gopher-gate drop-reason bitmask (1=word count, 2=degenerate avg
    word length, 4=stopword ratio) over a frame exposing the words
    array — ONE definition shared by quality_frame, q_quality_filter,
    and quality_label_frame, so the audit gate, the filter row, and the
    model-training labels cannot drift apart. NULL text: every
    condition is NULL, so the bitmask sums to 0 on both engines (the
    documented label semantics); tier_expr keeps its own boolean-OR
    form because its NULL text must coalesce to 'low', not pass."""
    n_words = F.size(w_col)
    n_stop = F.size(F.expr(
        f"filter({w_col}, x -> lower(x) IN ({_SW_LIST}))"))
    avg_wlen_x10 = (F.length(text_col) * 10) / F.greatest(n_words, F.lit(1))
    r_words = (n_words < QF_MIN_WORDS) | (n_words > QF_MAX_WORDS)
    r_wlen = (avg_wlen_x10 < QF_MIN_AVG_WLEN * 10) | \
             (avg_wlen_x10 > QF_MAX_AVG_WLEN * 10)
    r_stop = n_stop * 100 < n_words * int(QF_MIN_STOPWORD_RATIO * 100)
    return (F.when(r_words, 1).otherwise(0)
            + F.when(r_wlen, 2).otherwise(0)
            + F.when(r_stop, 4).otherwise(0))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting (A4 analogue at corpus scale)."""
    return (_docs(spark, sf_dir)
            .select("doc_id", F.size(_words()).alias("n_tokens")))


SQL_TOKEN_COUNT = """
SELECT doc_id,
       CASE WHEN length(trim(text)) = 0 THEN 0
            ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_tokens
FROM documents
"""


def quality_frame(docs: DataFrame) -> DataFrame:
    """Quality scoring over any ``(doc_id, text)`` frame: length,
    punctuation density, stopword ratio, plus the Gopher-style hard
    keep/drop verdict — the composable form tools/curate.py chains
    after extraction.

    The boilerplate-scoring idea of the extraction classifier applied as a
    per-document quality signal for training-data filtering.

    Also carries the PII-scrub signals in the same scan (a training
    pipeline redacts before it tokenizes): per-doc email / IPv4 / phone
    match counts and the md5 of the fully scrubbed text, so the oracle
    hash-verifies the redaction byte-for-byte without shipping the
    scrubbed column through the driver compare. :func:`pii_scrub` exposes
    the scrubbed text itself for the curation pipeline.
    """
    d = docs.withColumn("w", _words())
    # cheap containment pre-filters gate the (backtracking) PII regexes:
    # no '@' → no email possible, no digit → no IPv4/phone possible, so
    # the expensive patterns only run on rows that could match — on a
    # mostly-clean corpus the PII pass costs one memchr-style scan per
    # row, not six regex traversals. NULL text falls through every
    # branch to NULL, mirrored in the oracle's CASE chain.
    has_at = F.instr("text", "@") > 0
    has_digit = F.col("text").rlike("[0-9]")
    null_int = F.lit(None).cast("int")
    t1 = F.when(has_at, F.regexp_replace("text", PII_EMAIL, "<EMAIL>")) \
          .otherwise(F.col("text"))
    n_email = (F.when(has_at,
                      F.size(F.regexp_extract_all("text", F.lit(PII_EMAIL),
                                                  0)))
               .when(F.col("text").isNull(), null_int).otherwise(0))
    t2 = F.when(has_digit, F.regexp_replace(t1, PII_IPV4, "<IP>")) \
          .otherwise(t1)
    n_ipv4 = (F.when(has_digit,
                     F.size(F.regexp_extract_all(t1, F.lit(PII_IPV4), 0)))
              .when(F.col("text").isNull(), null_int).otherwise(0))
    t3 = F.when(has_digit, F.regexp_replace(t2, PII_PHONE, "<PHONE>")) \
          .otherwise(t2)
    n_phone = (F.when(has_digit,
                      F.size(F.regexp_extract_all(t2, F.lit(PII_PHONE), 0)))
               .when(F.col("text").isNull(), null_int).otherwise(0))
    n_words = F.size("w")
    n_stop = F.size(F.expr(
        f"filter(w, x -> lower(x) IN ({_SW_LIST}))"))
    n_punct = F.size(F.regexp_extract_all("text", F.lit(r"[.!?]"), 0))
    # Gopher-style hard keep/drop verdict folded into the same scan (the
    # former text_quality_filter driver row) — the shared bitmask
    reasons = qf_reasons()
    # language-ID heuristic folded into the same scan (absorbs the former
    # text_lang_guess driver row; q_lang_guess keeps the lang-vs-guess
    # accuracy rollup for tests/bench): stopword-hit-rate threshold, NULL
    # text falls through the when() to 'und' on both engines
    guessed = F.when(n_stop / F.greatest(n_words, F.lit(1)) >= 0.03,
                     F.lit("en")).otherwise(F.lit("und"))
    return d.select(
        "doc_id",
        F.length("text").alias("n_chars"),
        n_words.alias("n_words"),
        n_punct.alias("n_punct"),
        F.round(n_stop / F.greatest(n_words, F.lit(1)), 4).alias("stopword_ratio"),
        F.round(F.length("text") / F.greatest(n_words, F.lit(1)), 4)
        .alias("avg_word_len"),
        reasons.cast("int").alias("drop_reasons"),
        (reasons == 0).alias("keep"),
        # BPE-ish token estimate folded into the same scan (the former
        # text_bpe_token_estimate driver row): the audit frame carries the
        # training-cost unit the budget-mix selector plans with
        F.size(F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0))
        .alias("n_bpe_tokens"),
        n_email.alias("n_pii_email"),
        n_ipv4.alias("n_pii_ipv4"),
        n_phone.alias("n_pii_phone"),
        F.md5(t3.cast("binary")).alias("scrub_md5"),
        guessed.alias("guessed_lang"),
    )


def pii_scrub(docs: DataFrame, col: str = "text") -> DataFrame:
    """Replace ``col`` with its PII-redacted form (email → IPv4 → phone,
    same staged patterns and containment pre-filters the quality frame
    counts with). Pure projection — scan speed, zero shuffles,
    NULL-propagating."""
    has_at = F.instr(col, "@") > 0
    has_digit = F.col(col).rlike("[0-9]")
    t1 = F.when(has_at, F.regexp_replace(col, PII_EMAIL, "<EMAIL>")) \
          .otherwise(F.col(col))
    t2 = F.when(has_digit, F.regexp_replace(t1, PII_IPV4, "<IP>")) \
          .otherwise(t1)
    t3 = F.when(has_digit, F.regexp_replace(t2, PII_PHONE, "<PHONE>")) \
          .otherwise(t2)
    return docs.withColumn(col, t3)


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`quality_frame` over the documents table."""
    return quality_frame(_docs(spark, sf_dir))


def quality_label_frame(d: DataFrame,
                        extra_cols: tuple[str, ...] = ()) -> DataFrame:
    """(doc_id[, *extra_cols], label): 1 = passes the Gopher gate
    (drop_reasons == 0) — the heuristic positive set the trained
    model-score classifier bootstraps from (the CCNet recipe:
    heuristic/wiki-labeled positives train the linear quality gate).
    Same reason expressions as quality_frame; the reason-bitmask sum
    (not a boolean AND) so NULL text labels 0/1 identically across
    engines. ``extra_cols`` ride the same single-scan projection (e.g.
    the host/source key a downstream rollup groups on)."""
    passthru = [c for c in extra_cols if c != "text"]
    dd = d.select("doc_id", *passthru, "text", _words().alias("w"))
    return dd.select(
        "doc_id", *extra_cols,
        F.when(qf_reasons() == 0, 1).otherwise(0).cast("int")
        .alias("label"))


def sql_quality_label_expr() -> str:
    """DuckDB twin of quality_label_frame's label column, over a CTE
    exposing (text, w)."""
    reasons = _SQL_QF_REASONS.format(
        sw=_SW_LIST, min_stop=int(QF_MIN_STOPWORD_RATIO * 100))
    return f"CASE WHEN {reasons} = 0 THEN 1 ELSE 0 END"


_SQL_QF_REASONS = (
    f"(CASE WHEN len(w) < {QF_MIN_WORDS} OR len(w) > {QF_MAX_WORDS}"
    f" THEN 1 ELSE 0 END"
    f" + CASE WHEN (length(text) * 10.0) / greatest(len(w), 1)"
    f" < {QF_MIN_AVG_WLEN * 10}"
    f" OR (length(text) * 10.0) / greatest(len(w), 1)"
    f" > {QF_MAX_AVG_WLEN * 10} THEN 2 ELSE 0 END"
    f" + CASE WHEN len(list_filter(w, x -> lower(x) IN ({{sw}}))) * 100"
    f" < len(w) * {{min_stop}} THEN 4 ELSE 0 END)"
)


def _sql_quality_score() -> str:
    reasons = _SQL_QF_REASONS.format(
        sw=_SW_LIST, min_stop=int(QF_MIN_STOPWORD_RATIO * 100))
    return f"""
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), p1 AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{PII_EMAIL}')) AS n_pii_email,
         regexp_replace(text, '{PII_EMAIL}', '<EMAIL>', 'g') AS t1
  FROM documents
), p2 AS (
  SELECT doc_id, n_pii_email,
         len(regexp_extract_all(t1, '{PII_IPV4}')) AS n_pii_ipv4,
         regexp_replace(t1, '{PII_IPV4}', '<IP>', 'g') AS t2
  FROM p1
), p3 AS (
  SELECT doc_id, n_pii_email, n_pii_ipv4,
         len(regexp_extract_all(t2, '{PII_PHONE}')) AS n_pii_phone,
         md5(regexp_replace(t2, '{PII_PHONE}', '<PHONE>', 'g')) AS scrub_md5
  FROM p2
)
SELECT d.doc_id,
       length(text) AS n_chars,
       len(w) AS n_words,
       len(regexp_extract_all(text, '[.!?]')) AS n_punct,
       round(len(list_filter(w, x -> lower(x) IN ({_SW_LIST})))
             / greatest(len(w), 1), 4) AS stopword_ratio,
       round(length(text) / greatest(len(w), 1), 4) AS avg_word_len,
       {reasons}::INTEGER AS drop_reasons,
       {reasons} = 0 AS keep,
       len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe_tokens,
       p3.n_pii_email, p3.n_pii_ipv4, p3.n_pii_phone, p3.scrub_md5,
       CASE WHEN len(list_filter(w, x -> lower(x) IN ({_SW_LIST})))
                 / greatest(len(w), 1) >= 0.03
            THEN 'en' ELSE 'und' END AS guessed_lang
FROM d JOIN p3 ON d.doc_id = p3.doc_id
"""


SQL_QUALITY_SCORE = _sql_quality_score()


def q_lang_guess(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language-ID: stopword-hit-rate threshold, audited against
    the labeled ``lang`` column (accuracy-style rollup)."""
    d = _docs(spark, sf_dir).withColumn("w", _words())
    ratio = (F.size(F.expr(f"filter(w, x -> lower(x) IN ({_SW_LIST}))"))
             / F.greatest(F.size("w"), F.lit(1)))
    guessed = (F.when(ratio >= 0.03, F.lit("en")).otherwise(F.lit("und")))
    return (d.select("lang", guessed.alias("guessed"))
            .groupBy("lang", "guessed").agg(F.count("*").alias("n")))


SQL_LANG_GUESS = f"""
WITH d AS (
  SELECT lang,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), g AS (
  SELECT lang,
         CASE WHEN len(list_filter(w, x -> lower(x) IN ({_SW_LIST})))
                   / greatest(len(w), 1) >= 0.03
              THEN 'en' ELSE 'und' END AS guessed
  FROM d
)
SELECT lang, guessed, count(*) AS n FROM g GROUP BY lang, guessed
"""


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 of whitespace-normalized lowered text plus
    a coarse length band — the cheap first-stage near-dup key."""
    d = _docs(spark, sf_dir)
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select(
        "doc_id",
        F.md5(norm.cast("binary")).alias("fingerprint"),
        (F.floor(F.length("text") / 64) * 64).cast("long").alias("len_band"),
    )


SQL_FINGERPRINT = """
SELECT doc_id,
       md5(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS fingerprint,
       (length(text) // 64) * 64 AS len_band
FROM documents
"""


RH_K = 4                    # rolling-hash window (words)
RH_B = 65599                # polynomial base
RH_M = 2147483647           # modulus (2^31 - 1)


def q_bpe_token_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token-count estimate: GPT-2-style pre-tokenizer regex
    (letter runs / single digits / punctuation), counted JVM-side —
    the training-cost estimator over a 100 TB corpus at scan speed."""
    d = _docs(spark, sf_dir)
    toks = F.regexp_extract_all("text", F.lit(BPE_PATTERN), 0)
    return d.select(
        "doc_id",
        F.size(toks).alias("n_bpe_tokens"),
        # n_ws_tokens: the whitespace tokenizer (A4 analogue; absorbs the
        # former text_token_count driver row — same grain, one scan)
        F.size(_words()).alias("n_ws_tokens"),
        (F.size(toks) - F.size(_words())).alias("tokens_minus_words"))


SQL_BPE_TOKEN_ESTIMATE = f"""
WITH d AS (
  SELECT doc_id,
         len(regexp_extract_all(text, '{BPE_PATTERN}')) AS n_bpe,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END AS n_words
  FROM documents
)
SELECT doc_id, n_bpe AS n_bpe_tokens,
       n_words AS n_ws_tokens,
       n_bpe - n_words AS tokens_minus_words
FROM d
"""


def q_rolling_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint (winnowing-lite): per-word 16-bit
    hashes, polynomial {RH_K}-gram rolling hash mod 2^31-1, fingerprint =
    min over windows — a content-locality-sensitive key robust to edits
    outside the minimizing window. All-integer arithmetic, so the DuckDB
    oracle is bit-exact; JVM higher-order functions, no Python."""
    # hash once per word, then hex4 over the digest array (no CSE inside
    # higher-order lambdas — inlining md5 into hex4 would run it 4x/word)
    d = (_docs(spark, sf_dir)
         .withColumn("w", _words())
         .withColumn("hh", F.expr(
             "transform(w, x -> md5(cast(x as binary)))"))
         .withColumn("h", F.expr(
             "transform(hh, m -> cast("
             + hex4_sql_spark("m")
             + " as bigint))")))
    win = F.expr(
        f"transform(sequence(0, size(h) - {RH_K}), i -> "
        f"(((h[i] * {RH_B} % {RH_M} + h[i+1]) * {RH_B} % {RH_M} + h[i+2])"
        f" * {RH_B} % {RH_M} + h[i+3]) % {RH_M})")
    # try_element_at: NULL (not ANSI INVALID_ARRAY_INDEX error) for
    # empty/whitespace-only docs, matching the oracle's h[1] on empty list
    fp = F.when(F.size("h") >= RH_K, F.array_min(win)) \
          .otherwise(F.try_element_at("h", F.lit(1)))
    # whole-doc md5 fingerprint + coarse length band folded into the same
    # scan (the former text_fingerprint driver row): the cheap exact-dup
    # first-stage key next to the edit-robust rolling one
    norm = F.regexp_replace(F.lower(F.col("text")), r"\s+", " ")
    return d.select("doc_id", fp.cast("long").alias("fingerprint"),
                    F.size("h").alias("n_words"),
                    F.md5(norm.cast("binary")).alias("norm_md5"),
                    (F.floor(F.length("text") / 64) * 64).cast("long")
                    .alias("len_band"))


SQL_ROLLING_FINGERPRINT = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), h AS (
  SELECT doc_id,
         list_transform(w, x -> {hex4_sql_duck('md5(x)')}) AS h
  FROM d
), fp AS (
  SELECT doc_id, len(h) AS n_words,
         CASE WHEN len(h) >= {RH_K} THEN
           list_min(list_transform(generate_series(1, len(h) - {RH_K - 1}),
             i -> (((h[i] * {RH_B} % {RH_M} + h[i+1]) * {RH_B} % {RH_M}
                    + h[i+2]) * {RH_B} % {RH_M} + h[i+3]) % {RH_M}))
         ELSE h[1] END AS fingerprint
  FROM h
)
SELECT f.doc_id, CAST(f.fingerprint AS BIGINT) AS fingerprint, f.n_words,
       md5(regexp_replace(lower(d.text), '\\s+', ' ', 'g')) AS norm_md5,
       (length(d.text) // 64) * 64 AS len_band
FROM fp f JOIN documents d ON f.doc_id = d.doc_id
"""


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality filter: hard keep/drop decision with
    a reason bitmask (1=too few/many words, 2=degenerate avg word length,
    4=stopword ratio too low). The corpus-side gate a training pipeline
    applies after extraction; all JVM-side integer/ratio checks at scan
    speed."""
    d = _docs(spark, sf_dir).withColumn("w", _words())
    # integer-scaled ratios (inside qf_reasons): exact cross-engine
    reasons = qf_reasons()
    return d.select(
        "doc_id", F.size("w").alias("n_words"),
        reasons.cast("int").alias("drop_reasons"),
        (reasons == 0).alias("keep"))


SQL_QUALITY_FILTER = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w,
         length(text) AS n_chars
  FROM documents
), m AS (
  SELECT doc_id, len(w) AS n_words,
         (n_chars * 10.0) / greatest(len(w), 1) AS avg_wlen_x10,
         len(list_filter(w, x -> lower(x) IN ({_SW_LIST}))) AS n_stop
  FROM d
)
SELECT doc_id, n_words,
       (CASE WHEN n_words < {QF_MIN_WORDS} OR n_words > {QF_MAX_WORDS}
             THEN 1 ELSE 0 END
        + CASE WHEN avg_wlen_x10 < {QF_MIN_AVG_WLEN * 10}
                 OR avg_wlen_x10 > {QF_MAX_AVG_WLEN * 10} THEN 2 ELSE 0 END
        + CASE WHEN n_stop * 100 < n_words * {int(QF_MIN_STOPWORD_RATIO * 100)}
               THEN 4 ELSE 0 END)::INTEGER AS drop_reasons,
       (CASE WHEN n_words < {QF_MIN_WORDS} OR n_words > {QF_MAX_WORDS}
             THEN 1 ELSE 0 END
        + CASE WHEN avg_wlen_x10 < {QF_MIN_AVG_WLEN * 10}
                 OR avg_wlen_x10 > {QF_MAX_AVG_WLEN * 10} THEN 2 ELSE 0 END
        + CASE WHEN n_stop * 100 < n_words * {int(QF_MIN_STOPWORD_RATIO * 100)}
               THEN 4 ELSE 0 END) = 0 AS keep
FROM m
"""


VOCAB_TOP_K = 50
SAMPLE_RATE_EN = 40          # percent kept for the over-represented stratum
SAMPLE_RATE_OTHER = 80       # percent kept for everything else


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global vocabulary top-k: lowercased whitespace tokens counted
    corpus-wide, top VOCAB_TOP_K by frequency (ties broken by word).
    The tokenizer-training / frequency-cutoff primitive. Scale shape:
    explode → two-phase hash aggregation (map-side partial combine soaks
    up hot-word skew before the shuffle — the heaviest word arrives at
    the reducer once per map partition, not once per occurrence), then a
    TakeOrdered top-k, never a global sort."""
    d = _docs(spark, sf_dir).withColumn("w", _words())
    counts = (d.select(F.explode("w").alias("word"))
              .select(F.lower("word").alias("word"))
              .groupBy("word").agg(F.count("*").alias("n_occurrences")))
    return counts.orderBy(F.col("n_occurrences").desc(), F.col("word")) \
        .limit(VOCAB_TOP_K)


SQL_VOCAB_TOPK = f"""
WITH d AS (
  SELECT CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
)
SELECT lower(unnest.word) AS word, count(*) AS n_occurrences
FROM d, unnest(w) AS unnest(word)
GROUP BY 1 ORDER BY n_occurrences DESC, word LIMIT {VOCAB_TOP_K}
"""


def q_sample_stratified_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus curation: keep a doc
    iff hash(doc_id) mod 100 < the stratum's rate (down-sample the
    over-represented language, keep more of the rest). Pure stateless
    filter — runs at scan speed with zero shuffles, reproducible across
    runs/retries/engines (no RNG state), and the rate table is a
    broadcast-sized config. The md5-derived hash is the portable stand-in
    for xxhash64 (cross-engine verifiability, one-line swap at scale)."""
    d = _docs(spark, sf_dir)
    h = doc_lottery_col()
    rate = F.when(F.col("lang") == "en", SAMPLE_RATE_EN) \
        .otherwise(SAMPLE_RATE_OTHER)
    return (d.where(F.pmod(h, F.lit(100)) < rate)
            .groupBy("lang")
            .agg(F.count("*").alias("n_sampled"),
                 F.min("doc_id").alias("first_doc"),
                 F.max("doc_id").alias("last_doc")))


SQL_SAMPLE_STRATIFIED_HASH = f"""
WITH h AS (
  SELECT doc_id, lang,
         {doc_lottery_sql_duck()} % 100 AS hb,
         CASE WHEN lang = 'en' THEN {SAMPLE_RATE_EN}
              ELSE {SAMPLE_RATE_OTHER} END AS rate
  FROM documents
)
SELECT lang, count(*) AS n_sampled,
       min(doc_id) AS first_doc, max(doc_id) AS last_doc
FROM h WHERE hb < rate GROUP BY lang
"""


TIER_HI_MIN_WORDS = 40
TIER_HI_STOP_PCT = 3         # stopword ratio >= 3% for the top tier


def q_quality_tiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus tier extraction: every document assigned a quality tier —
    the pre-training curation decision (high → keep verbatim, mid →
    keep with down-weighting, low → drop) built from the same integer-
    scaled signals as the Gopher-style filter:

    * low  — fails the hard quality filter (any drop reason);
    * high — passes AND has ≥ {TIER_HI_MIN_WORDS} words AND stopword
      ratio ≥ {TIER_HI_STOP_PCT}% (fluent running text);
    * mid  — everything else that passes.

    One scan-speed projection plus a rollup (count + total tokens per
    tier × lang — the token-budget planning numbers); no FP rounding,
    so the DuckDB oracle is exact.

    The deterministic stratified-sampling decision (the former
    sample_stratified_hash driver row: keep a doc iff hash(doc_id) mod
    100 < the stratum's rate — down-sample the over-represented
    language) rides the same scan: per tier × lang, how many docs the
    hash sampler keeps plus the first/last sampled doc ids. Stateless,
    RNG-free, reproducible across runs/retries/engines."""
    d = _docs(spark, sf_dir).withColumn("w", _words())
    n_words = F.size("w")
    tier = tier_expr()
    h = doc_lottery_col()
    rate = F.when(F.col("lang") == "en", SAMPLE_RATE_EN) \
        .otherwise(SAMPLE_RATE_OTHER)
    sampled = F.pmod(h, F.lit(100)) < rate
    return (d.select("lang", tier.alias("tier"),
                     F.coalesce(n_words, F.lit(0)).alias("nw"),
                     sampled.alias("s"), "doc_id")
            .groupBy("tier", "lang")
            .agg(F.count("*").alias("n_docs"),
                 F.sum("nw").cast("long").alias("total_words"),
                 F.sum(F.when(F.col("s"), 1).otherwise(0)).cast("long")
                 .alias("n_sampled"),
                 F.min(F.when(F.col("s"), F.col("doc_id")))
                 .alias("first_sampled"),
                 F.max(F.when(F.col("s"), F.col("doc_id")))
                 .alias("last_sampled")))


SQL_QUALITY_TIERS = f"""
WITH d AS (
  SELECT doc_id, lang, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), sig AS (
  SELECT doc_id, lang, len(w) AS n_words,
         length(text) * 10 / greatest(len(w), 1) AS avg_wlen_x10,
         len(list_filter(w, x -> lower(x) IN ({_SW_LIST}))) AS n_stop
  FROM d
), t AS (
  SELECT doc_id, lang, coalesce(n_words, 0) AS nw,
         CASE WHEN coalesce(
                n_words < {QF_MIN_WORDS} OR n_words > {QF_MAX_WORDS}
                OR avg_wlen_x10 < {QF_MIN_AVG_WLEN * 10}
                OR avg_wlen_x10 > {QF_MAX_AVG_WLEN * 10}
                OR n_stop * 100 < n_words * {int(QF_MIN_STOPWORD_RATIO * 100)},
                true)
              THEN 'low'
              WHEN n_words >= {TIER_HI_MIN_WORDS}
                   AND n_stop * 100 >= n_words * {TIER_HI_STOP_PCT}
              THEN 'high' ELSE 'mid' END AS tier,
         {doc_lottery_sql_duck()} % 100
           < CASE WHEN lang = 'en' THEN {SAMPLE_RATE_EN}
                  ELSE {SAMPLE_RATE_OTHER} END AS s
  FROM sig
)
SELECT tier, lang, count(*) AS n_docs,
       CAST(sum(nw) AS BIGINT) AS total_words,
       CAST(sum(CASE WHEN s THEN 1 ELSE 0 END) AS BIGINT) AS n_sampled,
       min(CASE WHEN s THEN doc_id END) AS first_sampled,
       max(CASE WHEN s THEN doc_id END) AS last_sampled
FROM t GROUP BY tier, lang
"""


MIX_SRC_CAP = 18             # max docs any one source contributes
MIX_SALTS = 4                # salt fan-out for the skewed-source cap
MIX_BUCKETS = 64             # hash buckets per tier for the budget cutoff
MIX_BUDGET_HIGH = 12_000     # whitespace-token budget per tier
MIX_BUDGET_MID = 3_000
MIX_BUDGET_LOW = 0


def tier_expr(w_col: str = "w", text_col: str = "text"):
    """Quality-tier Column (high / mid / low) from the words array —
    the same integer-scaled signals as the Gopher-style filter; NULL
    text coalesces to 'low' on both engines. Shared by the tiers
    rollup, the budget-mix selector, and the curation chain."""
    n_words = F.size(w_col)
    avg_wlen_x10 = (F.length(text_col) * 10) / F.greatest(n_words, F.lit(1))
    n_stop = F.size(F.expr(f"filter({w_col}, x -> lower(x) IN ({_SW_LIST}))"))
    fails = ((n_words < QF_MIN_WORDS) | (n_words > QF_MAX_WORDS)
             | (avg_wlen_x10 < QF_MIN_AVG_WLEN * 10)
             | (avg_wlen_x10 > QF_MAX_AVG_WLEN * 10)
             | (n_stop * 100 < n_words * int(QF_MIN_STOPWORD_RATIO * 100)))
    hi = ((n_words >= TIER_HI_MIN_WORDS)
          & (n_stop * 100 >= n_words * TIER_HI_STOP_PCT))
    return (F.when(F.coalesce(fails, F.lit(True)), "low")
            .when(hi, "high").otherwise("mid"))


def budget_select(base: DataFrame,
                  budgets: dict[str, int] | None = None,
                  cap: int = MIX_SRC_CAP,
                  checkpoint: bool = False) -> DataFrame:
    """Deterministic token-budget selection over any
    ``(doc_id, source, tier, n_tokens, …passthrough)`` frame — returns
    the selected rows (all input columns) plus ``cum_tokens``, the
    tier's running total through each kept doc. ``doc_id`` is any
    unique orderable key (long or string); the selection order is
    ``hex4(md5(doc_id))`` — RNG-free, identical across runs, retries,
    parallelism levels, and engines.

    See :func:`q_budget_mix` for the scale shape (salted two-phase
    source cap, bucketed prefix-sum cutoff).

    ``checkpoint=True`` localCheckpoints the capped frame so the
    bucket-totals branch and the selection branch share ONE
    materialization (Spark doesn't dedupe common subplans across
    DataFrame branches) — the production setting for pipeline use;
    the default keeps the registry query fully declarative.
    """
    from pyspark.sql import Window

    b = budgets or {"high": MIX_BUDGET_HIGH, "mid": MIX_BUDGET_MID,
                    "low": MIX_BUDGET_LOW}
    passthrough = base.columns
    base = (base.withColumn("h", doc_lottery_col())
            .where(F.col("n_tokens") > 0))
    # salt only affects physical distribution, never the result — the
    # engine-internal hash is fine here (no oracle mirror needed)
    w1 = Window.partitionBy("source",
                            F.pmod(F.hash("doc_id"), F.lit(MIX_SALTS))) \
        .orderBy("h", "doc_id")
    s1 = (base.withColumn("rn", F.row_number().over(w1))
          .where(F.col("rn") <= cap).drop("rn"))
    w2 = Window.partitionBy("source").orderBy("h", "doc_id")
    capped = (s1.withColumn("rn", F.row_number().over(w2))
              .where(F.col("rn") <= cap).drop("rn")
              .withColumn("bucket", F.pmod("h", F.lit(MIX_BUCKETS))))
    if checkpoint:
        # lazy: materialized once by the broadcast (totals) job, reused
        # by the selection branch
        capped = capped.localCheckpoint(eager=False)

    wb = Window.partitionBy("tier", "bucket").orderBy("h", "doc_id") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    cum = capped.withColumn("cum_in_bucket", F.sum("n_tokens").over(wb))
    # bucket totals: max of the monotone in-bucket running sum (tokens
    # are strictly positive), aggregated to tiers×buckets rows
    totals = cum.groupBy("tier", "bucket") \
        .agg(F.max("cum_in_bucket").alias("bt"))
    wt = Window.partitionBy("tier").orderBy("bucket") \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    prefix = totals.withColumn(
        "tokens_before", F.sum("bt").over(wt) - F.col("bt")).drop("bt")

    # budget CASE built from the dict: the tier column is just a mix
    # key, so composite mixes (e.g. "en/high") work with a caller-
    # crafted key column; unlisted keys get budget 0 (dropped)
    budget = F.lit(0)
    for key, amount in b.items():
        budget = F.when(F.col("tier") == key, amount).otherwise(budget)
    sel = (cum.join(F.broadcast(prefix), ["tier", "bucket"])
           .where(F.col("tokens_before") + F.col("cum_in_bucket")
                  <= budget))
    return sel.select(
        *passthrough,
        (F.col("tokens_before") + F.col("cum_in_bucket")).cast("long")
        .alias("cum_tokens"))


def q_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budget mixture selection — the data-mixing step a training
    pipeline runs last: cap any one source's (url-host analogue, the
    crawl-skew axis) contribution, then fill each quality tier's token
    budget deterministically and drop everything past the cutoff
    (high → large budget, mid → small, low → zero).

    Scale shape — no global-order window anywhere:

    * **Per-source cap** is a salted two-phase ``row_number``: top-cap
      per ``(source, hash(doc_id) % n_salts)`` first, then top-cap per
      ``source`` over the ≤ cap×n_salts survivors. Provably equal to the
      single-window cap (any global top-cap row is in its salt group's
      top-cap — fewer rows precede it there than globally, for ANY
      deterministic salt) but a 10^9-page host never lands in one task.
    * **Budget cutoff** is a bucketed prefix sum: docs hash into
      64 buckets per tier; one window per ``(tier, bucket)``
      (well-spread keys) gives the in-bucket running total, a
      192-row aggregate + broadcast join supplies each bucket's
      tokens-before offset. Global selection order is
      ``(bucket, h, doc_id)`` — identical to the oracle's single
      cumulative window, but the only per-row window key is
      ``(tier, bucket)``, never ``tier`` alone (3 reducers for the
      whole corpus is the prefix-sum scale-killer this decomposes).
      The offset branch re-derives the capped frame in this registry
      form (Spark doesn't share subplans across DataFrame branches);
      ``budget_select(checkpoint=True)`` — the curation chain's
      setting — localCheckpoints it so both passes share one
      materialization.

    Zero-token docs never compete for budget (filtered before the cap).
    Deterministic, RNG-free: same corpus → same mix, across runs,
    retries, and engines. (:func:`budget_select` is the frame form the
    curation chain applies to the extracted corpus keyed on url-host.)
    """
    d = _docs(spark, sf_dir).withColumn("w", _words())
    base = d.select("doc_id", "lang", "source", tier_expr().alias("tier"),
                    F.coalesce(F.size("w"), F.lit(0)).cast("long")
                    .alias("n_tokens"))
    return budget_select(base).select(
        "doc_id", "tier", "lang", "n_tokens", "cum_tokens")


SQL_BUDGET_MIX = f"""
WITH d AS (
  SELECT doc_id, lang, source, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), sig AS (
  SELECT doc_id, lang, source, len(w) AS n_words,
         length(text) * 10 / greatest(len(w), 1) AS avg_wlen_x10,
         len(list_filter(w, x -> lower(x) IN ({_SW_LIST}))) AS n_stop,
         {doc_lottery_sql_duck()} AS h
  FROM d
), t AS (
  SELECT doc_id, lang, source, h,
         coalesce(n_words, 0) AS n_tokens,
         CASE WHEN coalesce(
                n_words < {QF_MIN_WORDS} OR n_words > {QF_MAX_WORDS}
                OR avg_wlen_x10 < {QF_MIN_AVG_WLEN * 10}
                OR avg_wlen_x10 > {QF_MAX_AVG_WLEN * 10}
                OR n_stop * 100 < n_words * {int(QF_MIN_STOPWORD_RATIO * 100)},
                true)
              THEN 'low'
              WHEN n_words >= {TIER_HI_MIN_WORDS}
                   AND n_stop * 100 >= n_words * {TIER_HI_STOP_PCT}
              THEN 'high' ELSE 'mid' END AS tier
  FROM sig WHERE coalesce(n_words, 0) > 0
), capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY source
                                 ORDER BY h, doc_id) AS rn
    FROM t) WHERE rn <= {MIX_SRC_CAP}
), sel AS (
  SELECT doc_id, tier, lang, n_tokens,
         sum(n_tokens) OVER (PARTITION BY tier
                             ORDER BY h % {MIX_BUCKETS}, h, doc_id
                             ROWS UNBOUNDED PRECEDING) AS cum_tokens
  FROM capped
)
SELECT doc_id, tier, lang, n_tokens, CAST(cum_tokens AS BIGINT) AS cum_tokens
FROM sel
WHERE cum_tokens <= CASE tier WHEN 'high' THEN {MIX_BUDGET_HIGH}
                              WHEN 'mid' THEN {MIX_BUDGET_MID}
                              ELSE {MIX_BUDGET_LOW} END
"""


def _runscan_sql(arr: str) -> str:
    """One linear ``aggregate`` pass over a SORTED string array: the
    longest equal-run (→ the most frequent element; ties resolve to the
    sorted-first = lexicographically smallest, matching the oracle's
    ``ORDER BY cnt DESC, g``) plus the char mass of every element that
    occurs more than once. This is the scale trick that keeps the Gopher
    repetition signals shuffle-free: n-gram frequency within a document
    is O(n log n) IN-ROW (sort + scan), never an explode + groupBy —
    per-doc gram counts don't belong on the cluster's shuffle fabric."""
    nr = "IF(a.prev IS NOT NULL AND x = a.prev, a.run + 1, CAST(1 AS BIGINT))"
    return (
        f"aggregate({arr}, "
        "named_struct("
        "'prev', CAST(NULL AS STRING), 'run', CAST(0 AS BIGINT), "
        "'best', CAST(0 AS BIGINT), 'bestg', CAST(NULL AS STRING), "
        "'dupsum', CAST(0 AS BIGINT)), "
        "(a, x) -> named_struct("
        "'prev', x, "
        f"'run', {nr}, "
        f"'best', IF({nr} > a.best, {nr}, a.best), "
        f"'bestg', IF({nr} > a.best, x, a.bestg), "
        f"'dupsum', a.dupsum + IF({nr} = 2, CAST(2 * length(x) AS BIGINT), "
        f"IF({nr} > 2, CAST(length(x) AS BIGINT), CAST(0 AS BIGINT)))))"
    )


def q_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filters per document: duplicate-line
    fraction, most-frequent word 2-gram and the fraction of characters it
    covers, and the fraction of characters inside duplicated word
    5-grams — the canonical degenerate-text signals a pre-training
    curation pass computes alongside the quality score.

    Scale shape: a pure projection. Gram arrays are built with
    ``sequence``/``transform``, sorted in-row, and reduced by one linear
    ``aggregate`` scan (:func:`_runscan_sql`) — zero exchanges, zero row
    blowup, codegen'd end to end. All ratios are integer-scaled (×10000,
    integer ``div``) so the DuckDB oracle (unnest + window, the naive
    formulation) is bit-exact."""
    d = _docs(spark, sf_dir).withColumn("w", _words())
    empty = F.array().cast("array<string>")
    d = d.withColumn("g2", F.when(F.size("w") >= 2, F.expr(
            "array_sort(transform(sequence(1, size(w) - 1), "
            "i -> concat(element_at(w, i), ' ', element_at(w, i + 1))))"))
         .otherwise(empty))
    d = d.withColumn("g5", F.when(F.size("w") >= 5, F.expr(
            "array_sort(transform(sequence(1, size(w) - 4), "
            "i -> concat_ws(' ', slice(w, i, 5))))"))
         .otherwise(empty))
    d = (d.withColumn("s2", F.expr(_runscan_sql("g2")))
          .withColumn("s5", F.expr(_runscan_sql("g5")))
          .withColumn("ln", F.expr(
              "filter(transform(split(text, '\\n'), x -> trim(x)), "
              "x -> length(x) > 0)")))
    covered2 = ("IF(s2.bestg IS NULL, CAST(0 AS BIGINT), "
                "s2.best * CAST(length(s2.bestg) AS BIGINT))")
    raw2 = f"(10000 * {covered2}) div greatest(length(text), 1)"
    raw5 = "(10000 * s5.dupsum) div greatest(length(text), 1)"
    return d.select(
        "doc_id",
        F.size("w").alias("n_words"),
        F.size("ln").alias("n_lines"),
        F.expr("(10000 * (size(ln) - size(array_distinct(ln)))) "
               "div greatest(size(ln), 1)").alias("dup_line_x10k"),
        F.col("s2.bestg").alias("top2_gram"),
        F.col("s2.best").alias("top2_count"),
        F.expr(f"IF({raw2} > 10000, CAST(10000 AS BIGINT), {raw2})")
        .alias("top2_char_x10k"),
        F.expr(f"IF({raw5} > 10000, CAST(10000 AS BIGINT), {raw5})")
        .alias("dup5_char_x10k"),
    )


SQL_REPETITION = """
WITH d AS (
  SELECT doc_id, text,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), l AS (
  SELECT doc_id,
         list_filter(list_transform(string_split(text, chr(10)),
                                    x -> trim(x)),
                     x -> length(x) > 0) AS lines
  FROM documents
), g2 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 1),
         i -> w[i] || ' ' || w[i + 1])) AS g
  FROM d WHERE len(w) >= 2
), c2 AS (
  SELECT doc_id, g, count(*) AS cnt FROM g2 GROUP BY doc_id, g
), t2 AS (
  SELECT doc_id, g, cnt FROM (
    SELECT doc_id, g, cnt,
           row_number() OVER (PARTITION BY doc_id
                              ORDER BY cnt DESC, g) AS rn
    FROM c2) WHERE rn = 1
), g5 AS (
  SELECT doc_id, unnest(list_transform(generate_series(1, len(w) - 4),
         i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2] || ' ' || w[i+3]
              || ' ' || w[i+4])) AS g
  FROM d WHERE len(w) >= 5
), c5 AS (
  SELECT doc_id, g, count(*) AS cnt FROM g5 GROUP BY doc_id, g
), d5 AS (
  SELECT doc_id, sum(cnt * length(g)) AS dupsum
  FROM c5 WHERE cnt > 1 GROUP BY doc_id
), raw AS (
  SELECT d.doc_id,
         len(d.w) AS n_words,
         len(l.lines) AS n_lines,
         (10000 * (len(l.lines) - len(list_distinct(l.lines))))
           // greatest(len(l.lines), 1) AS dup_line_x10k,
         t2.g AS top2_gram,
         CAST(coalesce(t2.cnt, 0) AS BIGINT) AS top2_count,
         (10000 * coalesce(t2.cnt * length(t2.g), 0))
           // greatest(length(d.text), 1) AS r2,
         (10000 * coalesce(d5.dupsum, 0))
           // greatest(length(d.text), 1) AS r5
  FROM d
  JOIN l ON d.doc_id = l.doc_id
  LEFT JOIN t2 ON d.doc_id = t2.doc_id
  LEFT JOIN d5 ON d.doc_id = d5.doc_id
)
SELECT doc_id, n_words, n_lines, dup_line_x10k, top2_gram, top2_count,
       CAST(CASE WHEN r2 > 10000 THEN 10000 ELSE r2 END AS BIGINT)
         AS top2_char_x10k,
       CAST(CASE WHEN r5 > 10000 THEN 10000 ELSE r5 END AS BIGINT)
         AS dup5_char_x10k
FROM raw
"""


REGISTRY = {
    "text_token_count": (q_token_count, SQL_TOKEN_COUNT),
    "text_quality_tiers": (q_quality_tiers, SQL_QUALITY_TIERS),
    "text_vocab_topk": (q_vocab_topk, SQL_VOCAB_TOPK),
    "text_repetition": (q_repetition, SQL_REPETITION),
    "text_bpe_token_estimate": (q_bpe_token_estimate,
                                SQL_BPE_TOKEN_ESTIMATE),
    "curate_budget_mix": (q_budget_mix, SQL_BUDGET_MIX),
    "text_fingerprint": (q_fingerprint, SQL_FINGERPRINT),
    "text_rolling_fingerprint": (q_rolling_fingerprint,
                                 SQL_ROLLING_FINGERPRINT),
    "text_quality_score": (q_quality_score, SQL_QUALITY_SCORE),
    "text_quality_filter": (q_quality_filter, SQL_QUALITY_FILTER),
    "text_lang_guess": (q_lang_guess, SQL_LANG_GUESS),
    "sample_stratified_hash": (q_sample_stratified_hash,
                               SQL_SAMPLE_STRATIFIED_HASH),
}
