"""SURVEY.md §2 operator inventory expressed over the driver's TPC-H-ish
tables, each with a DuckDB oracle.

Every query is named for the SURVEY operator(s) it certifies (citation in
the docstring). The testdata tables stand in for the extraction pipeline's
intermediate frames — the operator semantics (join shapes, window frames,
aggregation patterns, scalar functions) are exactly the grafted ones.

Scale discipline applied throughout: dimension joins are broadcast, partial
aggregation is map-side (Catalyst does this for all hash aggs), window
partitions are the natural entity keys (never a global order), and the
skew-prone aggregation shows the two-stage salted pattern explicitly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# -- aggregation (A1-A8) -----------------------------------------------------

def q_pricing_summary(spark, sf_dir):
    """A3/A6 usage-stats-style aggregation: grouped sums/counts with
    arithmetic (reference translate_section_formula_id.py:66-75)."""
    li = _t(spark, sf_dir, "lineitem")
    return (li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
            .groupBy("l_returnflag", "l_linestatus")
            .agg(F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
                 F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count("*").alias("n_rows"),
                 F.round(F.avg("l_discount"), 4).alias("avg_disc")))


SQL_PRICING_SUMMARY = """
SELECT l_returnflag, l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_rows,
       round(avg(l_discount), 4) AS avg_disc
FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02'
GROUP BY l_returnflag, l_linestatus
"""


def q_usage_stats(spark, sf_dir):
    """A6/A7 counter accumulation: per-type counts and sums over events.

    Since round 5 this row ALSO carries the F11/J8 JSON-pointer columns
    (``avg_k``/``max_k`` from the ``props`` payload — the reference
    to_dict/from_dict surface, entities/__init__.py:40-48): the same
    events scan at the same grain, so the former standalone
    ``json_pointer_extract`` demo row is driver-checked here while its
    standalone query + oracle stay on the hostile-parity gate. Hostile
    payloads (NULL / malformed JSON / missing key / non-numeric value)
    are total on both engines: Spark get_json_object is NULL-on-malformed
    + try_cast; DuckDB needs the json_valid guard + TRY_CAST. The cast
    target is DOUBLE, not INTEGER: for a decimal payload ('{"k": 1.5}')
    Spark's string->int try_cast yields NULL while DuckDB's rounds to 2
    — the one numeric class where the engines' int casts disagree;
    both double casts agree exactly."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("double")
    return (ev.select("event_type", "value", "user_id", k.alias("k"))
            .groupBy("event_type")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("total_value"),
                 F.countDistinct("user_id").alias("n_users"),
                 F.round(F.avg("k"), 4).alias("avg_k"),
                 F.max("k").alias("max_k")))


SQL_USAGE_STATS = """
WITH p AS (
  SELECT event_type, value, user_id,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS DOUBLE) AS k
  FROM events
)
SELECT event_type, count(*) AS n_events,
       round(sum(value), 2) AS total_value,
       count(DISTINCT user_id) AS n_users,
       round(avg(k), 4) AS avg_k,
       max(k) AS max_k
FROM p GROUP BY event_type
"""


def q_content_length(spark, sf_dir):
    """A3 content-length aggregation (Section.content_length,
    section_models.py:41-42): sum of text lengths per group.

    NULL semantics pinned identically on both engines: a NULL text
    contributes length 0 (``length(coalesce(text, ''))``) and the group
    sum is itself coalesced — so an all-NULL group yields 0, not
    engine-dependent NULL (Spark sum-of-empty = NULL vs CASE-based
    oracles = 0 was a real cross-engine divergence)."""
    d = _t(spark, sf_dir, "documents")
    return (d.groupBy("lang", "source")
            .agg(F.coalesce(
                F.sum(F.length(F.coalesce(F.col("text"), F.lit("")))),
                F.lit(0)).cast("long").alias("content_length"),
                 F.count("*").alias("n_docs")))


SQL_CONTENT_LENGTH = """
SELECT lang, source,
       CAST(coalesce(sum(length(coalesce(text, ''))), 0) AS BIGINT)
         AS content_length,
       count(*) AS n_docs
FROM documents GROUP BY lang, source
"""


def q_batch_prompt_assembly(spark, sf_dir):
    """A8 ordered string aggregation (### Paragraph n ### batch prompts,
    openai_translate_section_repository.py:64-69): per-group concat in id
    order — the reassembly primitive F9 at group scale."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 50)
    ordered = F.array_sort(F.collect_list(F.struct(
        F.col("event_id"), F.concat(F.lit("### "), F.col("event_id"),
                                    F.lit(" ###"), F.lit(" "),
                                    F.col("event_type")).alias("s"))))
    return (ev.groupBy("user_id")
            .agg(F.array_join(F.transform(ordered, lambda x: x["s"]), "\n")
                 .alias("prompt"),
                 F.count("*").alias("n_parts")))


SQL_BATCH_PROMPT_ASSEMBLY = """
SELECT user_id,
       string_agg('### ' || event_id || ' ### ' || event_type, chr(10)
                  ORDER BY event_id) AS prompt,
       count(*) AS n_parts
FROM events WHERE user_id < 50 GROUP BY user_id
"""


# -- joins (J1-J9) -----------------------------------------------------------

def q_pointer_membership_join(spark, sf_dir):
    """J1-J3/F4 pointer-membership resolution: parse '/paragraphs/<i>'-style
    element pointers (split + cast, azure_ocr_repository.py:523-527) then
    equi-join — the reference's dict deref as a real join."""
    li = _t(spark, sf_dir, "lineitem").withColumn(
        "ptr", F.concat(F.lit("/orders/"), F.col("l_orderkey")))
    od = _t(spark, sf_dir, "orders")
    parsed = li.select(
        "ptr", F.element_at(F.split("ptr", "/"), -1).cast("long").alias("okey"),
        "l_quantity")
    return (parsed.join(od, parsed.okey == od.o_orderkey)
            .groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_lines"),
                 F.round(F.sum("l_quantity"), 2).alias("qty")))


SQL_POINTER_MEMBERSHIP_JOIN = """
WITH parsed AS (
  SELECT CAST(string_split('/orders/' || l_orderkey, '/')[-1] AS BIGINT) AS okey,
         l_quantity
  FROM lineitem
)
SELECT o_orderstatus, count(*) AS n_lines, round(sum(l_quantity), 2) AS qty
FROM parsed JOIN orders ON okey = o_orderkey
GROUP BY o_orderstatus
"""


def q_left_join_identity_fallback(spark, sf_dir):
    """J6 translated-paragraph replacement with identity fallback
    (get_translated_page.py:33-63): LEFT JOIN + coalesce."""
    od = _t(spark, sf_dir, "orders")
    cu = _t(spark, sf_dir, "customer").where(F.col("c_acctbal") > 5000)
    joined = od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey, "left")
    return (joined.select(
        F.coalesce(F.col("c_name"), F.lit("untranslated")).alias("resolved"))
        .groupBy("resolved").agg(F.count("*").alias("n_orders")))


SQL_LEFT_JOIN_IDENTITY_FALLBACK = """
SELECT coalesce(c_name, 'untranslated') AS resolved, count(*) AS n_orders
FROM orders LEFT JOIN (SELECT * FROM customer WHERE c_acctbal > 5000) c
  ON o_custkey = c_custkey
GROUP BY 1
"""


def q_resume_anti_join(spark, sf_dir):
    """Resume semantics (SURVEY.md §7.1 step 7): anti-join the input
    against the already-committed set; count the remainder."""
    od = _t(spark, sf_dir, "orders")
    done = od.where(F.col("o_orderdate") < F.lit("1995-01-01")) \
             .select("o_orderkey")
    return (od.join(done, "o_orderkey", "left_anti")
            .groupBy("o_orderstatus").agg(F.count("*").alias("n_remaining")))


SQL_RESUME_ANTI_JOIN = """
SELECT o_orderstatus, count(*) AS n_remaining
FROM orders o
WHERE NOT EXISTS (SELECT 1 FROM orders d
                  WHERE d.o_orderdate < TIMESTAMP '1995-01-01'
                    AND d.o_orderkey = o.o_orderkey)
GROUP BY o_orderstatus
"""


def q_semi_join_nonempty(spark, sf_dir):
    """Q2 empty-group short-circuit as a semi-join: only customers that
    have at least one order proceed (translate_section_formula_id.py:111-122)."""
    cu = _t(spark, sf_dir, "customer")
    od = _t(spark, sf_dir, "orders").select("o_custkey")
    return (cu.join(od, cu.c_custkey == od.o_custkey, "left_semi")
            .groupBy("c_mktsegment").agg(F.count("*").alias("n_active")))


SQL_SEMI_JOIN_NONEMPTY = """
SELECT c_mktsegment, count(*) AS n_active
FROM customer c
WHERE EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
GROUP BY c_mktsegment
"""


def q_broadcast_star_join(spark, sf_dir):
    """Multi-dim star join with explicit broadcasts (SURVEY.md §4.2): fact
    lineitem joined to part/supplier/nation/region; at scale only the fact
    shuffles."""
    li = _t(spark, sf_dir, "lineitem")
    pa = _t(spark, sf_dir, "part")
    su = _t(spark, sf_dir, "supplier")
    na = _t(spark, sf_dir, "nation")
    re = _t(spark, sf_dir, "region")
    return (li.join(F.broadcast(pa), li.l_partkey == pa.p_partkey)
            .join(F.broadcast(su), li.l_suppkey == su.s_suppkey)
            .join(F.broadcast(na), su.s_nationkey == na.n_nationkey)
            .join(F.broadcast(re), na.n_regionkey == re.r_regionkey)
            .groupBy("r_name", "p_brand")
            .agg(F.round(F.sum(F.col("l_extendedprice")
                               * (1 - F.col("l_discount"))), 2).alias("revenue"),
                 F.count("*").alias("n_lines")))


SQL_BROADCAST_STAR_JOIN = """
SELECT r_name, p_brand,
       round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
       count(*) AS n_lines
FROM lineitem
JOIN part ON l_partkey = p_partkey
JOIN supplier ON l_suppkey = s_suppkey
JOIN nation ON s_nationkey = n_nationkey
JOIN region ON n_regionkey = r_regionkey
GROUP BY r_name, p_brand
"""


def q_positional_zip_join(spark, sf_dir):
    """J9 positional zip (zip(translations, paragraphs),
    openai_translate_section_repository.py:219-229): posexplode both sides,
    equi-join on (group, pos)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 20)
    words = d.select(
        "doc_id", F.posexplode(F.split(F.trim("text"), r"\s+"))
        .alias("pos", "word")).where(F.col("pos") < 8)
    upper = words.select("doc_id", "pos", F.upper("word").alias("resp"))
    return (words.join(upper, ["doc_id", "pos"])
            .select("doc_id", "pos", "word", "resp"))


SQL_POSITIONAL_ZIP_JOIN = """
WITH base AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents WHERE doc_id < 20
), words AS (
  SELECT doc_id, w,
         unnest(generate_series(1, least(8, len(w)))) AS i
  FROM base
)
SELECT a.doc_id, a.i - 1 AS pos, a.w[a.i] AS word, upper(b.w[b.i]) AS resp
FROM words a JOIN words b ON a.doc_id = b.doc_id AND a.i = b.i
"""


def q_json_pointer_extract(spark, sf_dir):
    """F11/J8 JSON payload map join: parse the JSON props column, extract a
    typed key, aggregate (reference to_dict/from_dict surface,
    entities/__init__.py:40-48).

    Total on hostile payloads (NULL / malformed JSON / missing key /
    non-numeric value → NULL, skipped by the aggregates) on BOTH engines:
    Spark get_json_object is already NULL-on-malformed but ANSI cast
    throws on a non-numeric value (try_cast); DuckDB json_extract_string
    THROWS on malformed JSON (json_valid guard) and CAST throws on
    non-numeric (TRY_CAST). DOUBLE, not INTEGER: the engines' string->
    int casts disagree on decimals ('1.5' -> NULL vs 2), the double
    casts agree exactly (see q_usage_stats, which carries these columns
    in the driver window)."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").try_cast("double")
    return (ev.select("event_type", k.alias("k"))
            .groupBy("event_type")
            .agg(F.round(F.avg("k"), 4).alias("avg_k"),
                 F.max("k").alias("max_k")))


SQL_JSON_POINTER_EXTRACT = """
WITH p AS (
  SELECT event_type,
         TRY_CAST(CASE WHEN json_valid(props)
                       THEN json_extract_string(props, '$.k') END
                  AS DOUBLE) AS k
  FROM events
)
SELECT event_type, round(avg(k), 4) AS avg_k, max(k) AS max_k
FROM p GROUP BY event_type
"""


# -- windows (W1-W3) ---------------------------------------------------------

def q_dense_id_assignment(spark, sf_dir):
    """W1 dense sequential ids in reading order: row_number over an
    explicit total order (azure_ocr_repository.py:339)."""
    li = _t(spark, sf_dir, "lineitem")
    w = W.partitionBy("l_orderkey").orderBy("l_linenumber")
    return (li.select("l_orderkey", "l_linenumber",
                      (F.row_number().over(w) - 1).alias("paragraph_id")))


SQL_DENSE_ID_ASSIGNMENT = """
SELECT l_orderkey, l_linenumber,
       row_number() OVER (PARTITION BY l_orderkey ORDER BY l_linenumber) - 1
         AS paragraph_id
FROM lineitem
"""


def q_running_counter(spark, sf_dir):
    """W2 running formula counter (change_formula_id.py:50-64): exclusive
    prefix sum per group — each row's starting index."""
    li = _t(spark, sf_dir, "lineitem")
    # RANGE frame: tie-stable under duplicate order keys (the testdata has
    # duplicate (orderkey, linenumber) pairs) — every row's start index is
    # the sum over STRICTLY earlier positions, deterministic at any scale.
    # Integer token counts, like the reference's counter.
    w = (W.partitionBy("l_orderkey").orderBy("l_linenumber")
         .rangeBetween(W.unboundedPreceding, -1))
    n_tok = F.round(F.col("l_quantity")).cast("long")
    li = li.withColumn("n_tok", n_tok)
    return (li.select("l_orderkey", "l_linenumber",
                      F.coalesce(F.sum("n_tok").over(w), F.lit(0))
                      .cast("long").alias("start_index")))


SQL_RUNNING_COUNTER = """
SELECT l_orderkey, l_linenumber,
       coalesce(sum(CAST(round(l_quantity) AS BIGINT)) OVER (
         PARTITION BY l_orderkey ORDER BY l_linenumber
         RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT
         AS start_index
FROM lineitem
"""


def q_greedy_chunking(spark, sf_dir):
    """W3 length-based chunking (LIMIT=1500 chars,
    translate_section_formula_id.py:124-140): prefix sum of lengths →
    floor(cumsum/1500) chunk ids."""
    d = _t(spark, sf_dir, "documents")
    w = (W.partitionBy("lang").orderBy("doc_id")
         .rowsBetween(W.unboundedPreceding, 0))
    cum = F.sum("n_chars").over(w)
    return d.select("doc_id", "lang",
                    F.floor((cum - F.col("n_chars")) / 1500).alias("chunk_id"))


SQL_GREEDY_CHUNKING = """
SELECT doc_id, lang,
       CAST(floor((sum(n_chars) OVER (
         PARTITION BY lang ORDER BY doc_id
         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) - n_chars) / 1500)
         AS BIGINT) AS chunk_id
FROM documents
"""


# -- projections / scalar functions (P3, P5-P7, F1-F8) -----------------------

def q_orientation_normalize(spark, sf_dir):
    """P3 orientation normalization (pymupdf_ocr_repository.py:206-228):
    landscape bbox -> (w - y1, x0, w - y0, x1), portrait passthrough —
    pure column arithmetic over synthesized geometry."""
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_linenumber") <= 2)
    d = li.select(
        "l_orderkey", "l_linenumber",
        (F.col("l_discount") * 100).alias("x0"),
        (F.col("l_tax") * 100).alias("y0"),
        (F.col("l_discount") * 100 + F.col("l_quantity")).alias("x1"),
        (F.col("l_tax") * 100 + 5).alias("y1"),
        F.when(F.col("l_orderkey") % 2 == 0, 50.0).otherwise(30.0).alias("w"),
        F.lit(40.0).alias("h"))
    landscape = F.col("w") > F.col("h")
    return d.select(
        "l_orderkey", "l_linenumber",
        F.round(F.when(landscape, F.col("w") - F.col("y1"))
                .otherwise(F.col("x0")), 4).alias("nx0"),
        F.round(F.when(landscape, F.col("x0")).otherwise(F.col("y0")), 4)
        .alias("ny0"),
        F.round(F.when(landscape, F.col("w") - F.col("y0"))
                .otherwise(F.col("x1")), 4).alias("nx1"),
        F.round(F.when(landscape, F.col("x1")).otherwise(F.col("y1")), 4)
        .alias("ny1"))


SQL_ORIENTATION_NORMALIZE = """
WITH d AS (
  SELECT l_orderkey, l_linenumber,
         l_discount * 100 AS x0, l_tax * 100 AS y0,
         l_discount * 100 + l_quantity AS x1, l_tax * 100 + 5 AS y1,
         CASE WHEN l_orderkey % 2 = 0 THEN 50.0 ELSE 30.0 END AS w,
         40.0 AS h
  FROM lineitem WHERE l_linenumber <= 2
)
SELECT l_orderkey, l_linenumber,
       round(CASE WHEN w > h THEN w - y1 ELSE x0 END, 4) AS nx0,
       round(CASE WHEN w > h THEN x0 ELSE y0 END, 4) AS ny0,
       round(CASE WHEN w > h THEN w - y0 ELSE x1 END, 4) AS nx1,
       round(CASE WHEN w > h THEN x1 ELSE y1 END, 4) AS ny1
FROM d
"""


def q_bbox_reduction_units(spark, sf_dir):
    """P5-P7 polygon→bbox reduction + px→inch→pt unit conversions
    (azure_ocr_repository.py:32-74, pymupdf_image_extractor.py:37):
    array min/max over coordinate strides, /96, *72."""
    pa = _t(spark, sf_dir, "part")
    xs = F.array(F.col("p_size") * 3.0, F.col("p_size") * 1.0,
                 F.col("p_retailprice") / 50)
    return pa.select(
        "p_partkey",
        F.round(F.array_min(xs) / 96 * 72, 4).alias("xmin_pt"),
        F.round(F.array_max(xs) / 96 * 72, 4).alias("xmax_pt"))


SQL_BBOX_REDUCTION_UNITS = """
SELECT p_partkey,
       round(list_min([p_size * 3.0, p_size * 1.0, p_retailprice / 50])
             / 96 * 72, 4) AS xmin_pt,
       round(list_max([p_size * 3.0, p_size * 1.0, p_retailprice / 50])
             / 96 * 72, 4) AS xmax_pt
FROM part
"""


def q_token_split_count(spark, sf_dir):
    """F1 substring occurrence counting (content.count(':formula:'),
    change_formula_id.py:53): size(split(col, lit)) - 1."""
    d = _t(spark, sf_dir, "documents")
    return d.select(
        "doc_id",
        (F.size(F.split(F.col("text"), "the", -1)) - 1).alias("n_occurrences"))


SQL_TOKEN_SPLIT_COUNT = """
SELECT doc_id, len(string_split(text, 'the')) - 1 AS n_occurrences
FROM documents
"""


def q_mismatch_audit(spark, sf_dir):
    """A5 count-comparison audit (azure_ocr_repository.py:236-240): two
    independent counts compared into a flag, rolled up.

    NULL semantics pinned on both engines: a NULL text makes the flag
    expression NULL, which is coalesced to false BEFORE summing (Spark's
    ``sum`` of an all-NULL group is NULL while a CASE-based oracle yields
    0 — the flag must be made total on both sides), and the outer sum is
    coalesced too.

    Since round 5 this row ALSO carries the A3 content-length sum
    (``content_length``, Section.content_length, section_models.py:41-42)
    at lang grain — the same documents scan, so the former standalone
    ``agg_content_length`` demo row (lang×source grain) is driver-checked
    here while its standalone query + oracle stay on the hostile-parity
    gate. Same NULL pinning: length(coalesce(text, '')) summed, outer
    coalesce to 0."""
    d = _t(spark, sf_dir, "documents")
    words = F.size(F.split(F.trim("text"), r"\s+"))
    flag = F.coalesce(
        (F.length("text") != F.col("n_chars")) | (words <= 0), F.lit(False))
    return (d.select("lang", flag.alias("mismatch"),
                     F.length(F.coalesce(F.col("text"), F.lit("")))
                     .alias("tlen"))
            .groupBy("lang")
            .agg(F.coalesce(F.sum(F.col("mismatch").cast("long")), F.lit(0))
                 .cast("long").alias("n_mismatched"),
                 F.count("*").alias("n_docs"),
                 F.coalesce(F.sum("tlen"), F.lit(0)).cast("long")
                 .alias("content_length")))


SQL_MISMATCH_AUDIT = """
SELECT lang,
       CAST(coalesce(sum(CASE WHEN coalesce(
                 length(text) <> n_chars
                 OR len(string_split_regex(trim(text), '\\s+')) <= 0, false)
            THEN 1 ELSE 0 END), 0) AS BIGINT) AS n_mismatched,
       count(*) AS n_docs,
       CAST(coalesce(sum(length(coalesce(text, ''))), 0) AS BIGINT)
         AS content_length
FROM documents GROUP BY lang
"""


def q_salted_skew_agg(spark, sf_dir):
    """Two-stage salted aggregation (north_rule skew handling): partial agg
    on (key, salt), final agg on key — result provably equals the direct
    groupBy, which is the oracle."""
    ev = _t(spark, sf_dir, "events")
    salt = F.pmod(F.xxhash64("event_id"), F.lit(8)).alias("salt")
    partial = (ev.select("user_id", salt, "value")
               .groupBy("user_id", "salt")
               .agg(F.sum("value").alias("pv"), F.count("*").alias("pc")))
    return (partial.groupBy("user_id")
            .agg(F.round(F.sum("pv"), 2).alias("total_value"),
                 F.sum("pc").alias("n_events")))


SQL_SALTED_SKEW_AGG = """
SELECT user_id, round(sum(value), 2) AS total_value,
       count(*) AS n_events
FROM events GROUP BY user_id
"""


def q_ordered_reassembly(spark, sf_dir):
    """F9/W6/A2 ordered reassembly: '\\n'-joined parts in explicit order
    per group (the extracted-text assembly, change_formula_id.py:27-29)."""
    d = _t(spark, sf_dir, "documents").where(F.col("doc_id") < 100)
    part = F.substring("text", 1, 16)
    ordered = F.array_sort(F.collect_list(F.struct(F.col("doc_id"),
                                                   part.alias("s"))))
    return (d.groupBy("lang")
            .agg(F.array_join(F.transform(ordered, lambda x: x["s"]), "\n")
                 .alias("assembled"),
                 F.count("*").alias("n_parts")))


SQL_ORDERED_REASSEMBLY = """
SELECT lang,
       string_agg(substr(text, 1, 16), chr(10) ORDER BY doc_id) AS assembled,
       count(*) AS n_parts
FROM documents WHERE doc_id < 100 GROUP BY lang
"""


RANGE_BUCKET = 64


def q_range_containment_join(spark, sf_dir):
    """J10 span-containment (range) join with offset bucketing
    (README.md:394-411; SURVEY.md §4.2): point ∈ interval via an
    equi-join on ``bucket = off div K`` plus a residual range filter —
    never a broadcast-nested-loop. Intervals explode to every bucket they
    overlap; each point hits exactly one bucket, so no dedup is needed."""
    li = _t(spark, sf_dir, "lineitem")
    od = _t(spark, sf_dir, "orders")
    points = li.select(
        (F.col("l_orderkey") * 8 + F.col("l_linenumber")).alias("p"),
        "l_quantity")
    iv = od.select(
        "o_orderstatus",
        (F.col("o_orderkey") * 8).alias("s"),
        (F.col("o_orderkey") * 8 + F.pmod(F.col("o_orderkey"), F.lit(7)) + 1)
        .alias("e"))
    K = RANGE_BUCKET
    iv_b = iv.select(
        "o_orderstatus", "s", "e",
        F.explode(F.sequence(F.floor(F.col("s") / K),
                             F.floor(F.col("e") / K))).alias("bucket"))
    pts_b = points.withColumn("bucket", F.floor(F.col("p") / K))
    joined = pts_b.join(iv_b, "bucket").where(
        (F.col("p") >= F.col("s")) & (F.col("p") <= F.col("e")))
    return (joined.groupBy("o_orderstatus")
            .agg(F.count("*").alias("n_contained"),
                 F.round(F.sum("l_quantity"), 2).alias("qty")))


SQL_RANGE_CONTAINMENT_JOIN = """
WITH points AS (
  SELECT l_orderkey * 8 + l_linenumber AS p, l_quantity FROM lineitem
), iv AS (
  SELECT o_orderstatus, o_orderkey * 8 AS s,
         o_orderkey * 8 + (o_orderkey % 7) + 1 AS e
  FROM orders
)
SELECT o_orderstatus, count(*) AS n_contained,
       round(sum(l_quantity), 2) AS qty
FROM points JOIN iv ON p >= s AND p <= e
GROUP BY o_orderstatus
"""


def q_asof_ordinal_join(spark, sf_dir):
    """J11 sequential/ordinal association (the i-th ``:formula:`` token
    binds to the i-th formula payload — change_formula_id.py:50-64):
    running-counter window (W2) assigns each 'paragraph' its token start
    index; tokens posexplode to global ordinals; the payload side gets
    ordinals from row_number; equi-join on (group, ordinal)."""
    ev = _t(spark, sf_dir, "events").where(F.col("user_id") < 40)
    n_tok = F.pmod(F.floor(F.abs(F.col("value"))).cast("int"), F.lit(3))
    paras = ev.select("user_id", "event_id", n_tok.alias("n_tok"))
    w = (W.partitionBy("user_id").orderBy("event_id")
         .rowsBetween(W.unboundedPreceding, -1))
    paras = paras.withColumn(
        "start", F.coalesce(F.sum("n_tok").over(w), F.lit(0)).cast("long"))
    tokens = (paras.where(F.col("n_tok") > 0)
              .select("user_id", F.col("event_id").alias("para_event"),
                      "start",
                      F.explode(F.sequence(
                          F.lit(0), F.col("n_tok") - 1)).alias("k"))
              .select("user_id", "para_event",
                      (F.col("start") + F.col("k")).alias("ordinal")))
    wp = W.partitionBy("user_id").orderBy("event_id")
    payloads = (ev.where(F.col("event_type") == "click")
                .select("user_id", "event_id")
                .withColumn("ordinal",
                            (F.row_number().over(wp) - 1).cast("long"))
                .select("user_id", "ordinal",
                        F.md5(F.col("event_id").cast("string").cast("binary"))
                        .alias("payload")))
    return tokens.join(payloads, ["user_id", "ordinal"]) \
        .select("user_id", "para_event", "ordinal", "payload")


SQL_ASOF_ORDINAL_JOIN = """
WITH ev AS (
  SELECT * FROM events WHERE user_id < 40
), paras AS (
  SELECT user_id, event_id,
         CAST(floor(abs(value)) AS INTEGER) % 3 AS n_tok,
         coalesce(sum(CAST(floor(abs(value)) AS INTEGER) % 3) OVER (
           PARTITION BY user_id ORDER BY event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start
  FROM ev
), tokens AS (
  SELECT user_id, event_id AS para_event,
         start + unnest(range(0, n_tok)) AS ordinal
  FROM paras WHERE n_tok > 0
), payloads AS (
  SELECT user_id,
         row_number() OVER (PARTITION BY user_id ORDER BY event_id) - 1
           AS ordinal,
         md5(CAST(event_id AS VARCHAR)) AS payload
  FROM ev WHERE event_type = 'click'
)
SELECT t.user_id, t.para_event, CAST(t.ordinal AS BIGINT) AS ordinal,
       p.payload
FROM tokens t JOIN payloads p
  ON t.user_id = p.user_id AND t.ordinal = p.ordinal
"""


def q_regex_extract_rewrite(spark, sf_dir):
    """F3 regex find-all + ordered payload substitution (the
    ``<formula_i/>`` → latex rewrite, pylatex_generate_pdf_repository.py:
    468-493): extract all indexed tags in order, map each to its payload,
    reassemble in order — order-preserving, unlike a blind
    regexp_replace-all."""
    d = _t(spark, sf_dir, "documents")
    content = F.concat(
        F.lit("x <formula_"), (F.col("doc_id") % 5).cast("string"),
        F.lit("/> y <formula_"), (F.col("doc_id") % 7).cast("string"),
        F.lit("/> z"))
    d = d.select("doc_id", "text", content.alias("content"))
    ids = F.regexp_extract_all("content", F.lit(r"<formula_(\d+)/>"), 1)
    subst = F.expr(
        "array_join(transform("
        "regexp_extract_all(content, '<formula_(\\\\d+)/>', 1), "
        "i -> md5(cast(i as binary))), '|')")
    # F1 substring-occurrence counting folded into the same documents
    # scan (fn_token_split_count's count, also registered on its own)
    n_occ = F.size(F.split(F.col("text"), "the", -1)) - 1
    return d.select("doc_id", F.size(ids).alias("n_tags"),
                    subst.alias("payloads_in_order"),
                    n_occ.alias("n_occurrences"))


SQL_REGEX_EXTRACT_REWRITE = r"""
WITH d AS (
  SELECT doc_id, text,
         'x <formula_' || (doc_id % 5) || '/> y <formula_' || (doc_id % 7)
           || '/> z' AS content
  FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(content, '<formula_(\d+)/>', 1)) AS n_tags,
       list_aggregate(list_transform(
         regexp_extract_all(content, '<formula_(\d+)/>', 1),
         i -> md5(i)), 'string_agg', '|') AS payloads_in_order,
       len(string_split(text, 'the')) - 1 AS n_occurrences
FROM d
"""


REGISTRY = {
    "agg_pricing_summary": (q_pricing_summary, SQL_PRICING_SUMMARY),
    "agg_usage_stats": (q_usage_stats, SQL_USAGE_STATS),
    "agg_content_length": (q_content_length, SQL_CONTENT_LENGTH),
    "json_pointer_extract": (q_json_pointer_extract,
                             SQL_JSON_POINTER_EXTRACT),
    "join_positional_zip": (q_positional_zip_join, SQL_POSITIONAL_ZIP_JOIN),
    "agg_batch_prompt_assembly": (q_batch_prompt_assembly,
                                  SQL_BATCH_PROMPT_ASSEMBLY),
    "join_pointer_membership": (q_pointer_membership_join,
                                SQL_POINTER_MEMBERSHIP_JOIN),
    "join_left_identity_fallback": (q_left_join_identity_fallback,
                                    SQL_LEFT_JOIN_IDENTITY_FALLBACK),
    "join_resume_anti": (q_resume_anti_join, SQL_RESUME_ANTI_JOIN),
    "join_semi_nonempty": (q_semi_join_nonempty, SQL_SEMI_JOIN_NONEMPTY),
    "join_broadcast_star": (q_broadcast_star_join, SQL_BROADCAST_STAR_JOIN),
    "window_dense_ids": (q_dense_id_assignment, SQL_DENSE_ID_ASSIGNMENT),
    "window_running_counter": (q_running_counter, SQL_RUNNING_COUNTER),
    "window_greedy_chunking": (q_greedy_chunking, SQL_GREEDY_CHUNKING),
    "proj_orientation_normalize": (q_orientation_normalize,
                                   SQL_ORIENTATION_NORMALIZE),
    "proj_bbox_reduction_units": (q_bbox_reduction_units,
                                  SQL_BBOX_REDUCTION_UNITS),
    "fn_token_split_count": (q_token_split_count, SQL_TOKEN_SPLIT_COUNT),
    "agg_mismatch_audit": (q_mismatch_audit, SQL_MISMATCH_AUDIT),
    "agg_salted_skew": (q_salted_skew_agg, SQL_SALTED_SKEW_AGG),
    "join_range_containment": (q_range_containment_join,
                               SQL_RANGE_CONTAINMENT_JOIN),
    "join_asof_ordinal": (q_asof_ordinal_join, SQL_ASOF_ORDINAL_JOIN),
    "fn_regex_extract_rewrite": (q_regex_extract_rewrite,
                                 SQL_REGEX_EXTRACT_REWRITE),
    "agg_ordered_reassembly": (q_ordered_reassembly, SQL_ORDERED_REASSEMBLY),
}
