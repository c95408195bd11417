"""Deduplication over the ``documents`` table — exact, MinHash+LSH,
SimHash, and n-gram Jaccard.

Scale notes (the point of each design):

* exact/normalized dedup is a hash ``groupBy`` — one shuffle on a 32-byte
  key, AQE-coalesced; at 100 TB this is the cheapest possible full-corpus
  pass.
* MinHash signatures are a shuffle-free per-row PROJECTION
  (``array_min(transform(tokens, ...))`` — zero exchanges, zero row
  blowup, plan-asserted); LSH candidate generation is then an equi-join
  on ``(band, signature)`` — never an all-pairs comparison.
* n-gram Jaccard is evaluated only on a bounded candidate window (the LSH
  idea): explode distinct tokens, self-join on token, count intersections;
  union sizes come from a broadcastable per-doc count.
* SimHash packs sign-sums of per-token hash bits into a 16-bit key using
  only portable hex arithmetic, so the DuckDB oracle is bit-exact.

All hashing is md5-hex (identical bytes in Spark and DuckDB) — not for
speed but for cross-engine verifiability. Every LSH key is built in one
place per engine: the MinHash family in :func:`_minhashes` (Spark) and
:func:`_sql_minhash_ctes` (DuckDB), so a production swap to ``xxhash64``
is one edit in each; the band unpivot, the band-collision pairs and the
bucket aggregation likewise (``_band_unpivot`` / ``_sql_stacked``,
``_band_pairs`` / ``_sql_cands``, ``_lsh_buckets`` / ``_SQL_BUCKETS``),
and the sign-LSH bucket in ``simsearch._sign_bucket`` /
``simsearch._sql_sign_bucket``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .. import sinks
from .hashing import hex4_sql_duck
from .simsearch import _emb, _sign_bucket, _sql_sign_bucket

N_BANDS = 4
JACCARD_THRESHOLD = 0.2
SIMHASH_BITS = 16


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/documents.parquet")


def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: group by content hash, keep canonical min doc_id."""
    d = _docs(spark, sf_dir)
    return (d.groupBy(F.md5(F.col("text").cast("binary")).alias("fingerprint"))
            .agg(F.count("*").alias("n_dups"),
                 F.min("doc_id").alias("canonical_doc")))


SQL_DEDUP_EXACT = """
SELECT md5(text) AS fingerprint, count(*) AS n_dups,
       min(doc_id) AS canonical_doc
FROM documents GROUP BY 1
"""


def _minhashes(docs: DataFrame, n: int) -> tuple[DataFrame, list]:
    """The one MinHash family: ``docs`` plus its distinct whitespace
    tokens ``w``, and ``n`` signature columns over them, the i-th being
    min over ``w`` of md5('<i>|' || token) in hex. Each caller picks its
    own row filter (``w`` is NULL for NULL text)."""
    d = docs.withColumn(
        "w", F.array_distinct(F.split(F.trim("text"), r"\s+")))
    return d, [F.array_min(F.expr(
        f"transform(w, x -> md5(cast(concat('{i}|', x) as binary)))"))
        for i in range(n)]


def _sql_minhash_ctes(n: int, where: str = "") -> str:
    """DuckDB twin of :func:`_minhashes`: the ``tok`` and ``sigs`` CTEs
    (no leading WITH), ``sigs(doc_id, sig_0 .. sig_{n-1})`` over the
    documents rows that pass ``where``."""
    cond = f" WHERE {where}" if where else ""
    return (
        "tok AS (SELECT doc_id, unnest(list_distinct("
        "string_split_regex(trim(text), '\\s+'))) AS w FROM documents"
        f"{cond}),\n"
        "sigs AS (SELECT doc_id, "
        + ", ".join(f"min(md5('{i}|' || w)) AS sig_{i}" for i in range(n))
        + " FROM tok GROUP BY doc_id)")


def _band_unpivot(keyed: DataFrame, keys: list[str],
                  keep: tuple[str, ...] = ("doc_id",)) -> DataFrame:
    """``(*keep, band, key)``: one row per band, band k keyed by the
    column ``keys[k]`` — the LSH band unpivot (a ``stack``, no shuffle)."""
    return keyed.selectExpr(
        *keep, "stack({n}, {cols}) as (band, key)".format(
            n=len(keys), cols=", ".join(f"{k}, {c}"
                                        for k, c in enumerate(keys))))


def _sql_stacked(src: str, keys: list[str], keep: str = "doc_id") -> str:
    """DuckDB twin of :func:`_band_unpivot` over the relation ``src``
    (the body of a ``stacked`` CTE)."""
    return " UNION ALL ".join(f"SELECT {keep}, {k} AS band, {c} AS key "
                              f"FROM {src}" for k, c in enumerate(keys))


def _band_pairs(stacked: DataFrame, id_col: str, a: str,
                b: str) -> DataFrame:
    """Band-collision pairs ``(a, b)``, ``a < b``, distinct across bands:
    the equi-join of a :func:`_band_unpivot` frame with itself on
    ``(band, key)`` — never all-pairs. A caller that reads ``stacked``
    twice checkpoints it first."""
    x = stacked.select("band", "key", F.col(id_col).alias(a))
    y = stacked.select("band", "key", F.col(id_col).alias(b))
    return (x.join(y, ["band", "key"]).where(F.col(a) < F.col(b))
            .select(a, b).distinct())


def _sql_cands(id_col: str = "doc_id", a: str = "doc_a",
               b: str = "doc_b") -> str:
    """DuckDB twin of :func:`_band_pairs` over ``stacked``: the ``cands``
    CTE."""
    return (f"cands AS (SELECT DISTINCT x.{id_col} AS {a}, "
            f"y.{id_col} AS {b}\n"
            "          FROM stacked x JOIN stacked y USING (band, key)\n"
            f"          WHERE x.{id_col} < y.{id_col})")


def _lsh_buckets(stacked: DataFrame) -> DataFrame:
    """``(band, key, a, n)``: every LSH bucket of a MinHash
    :func:`_band_unpivot` frame holding ``n >= 2`` docs, ``a`` its min
    doc."""
    return (stacked.groupBy("band", "key")
            .agg(F.min("doc_id").alias("a"), F.count("*").alias("n"))
            .where(F.col("n") >= 2))


# DuckDB twin of _lsh_buckets over ``stacked``
_SQL_BUCKETS = (
    "buckets AS (SELECT band, key, min(doc_id) AS a, count(*) AS n\n"
    "         FROM stacked GROUP BY band, key HAVING count(*) >= 2)")


def minhash_frame(docs: DataFrame) -> DataFrame:
    """MinHash signatures over any ``(doc_id, text)`` frame: band b's
    signature = min over distinct tokens of md5(b || '|' || token),
    computed as a pure per-row PROJECTION —
    ``array_min(transform(tokens, ...))`` — with ZERO shuffles and zero
    row blowup (plan-asserted). The previous shape (explode + groupBy
    min) multiplied the corpus by |tokens| and shuffled one row per doc
    per band; at 10^12 docs the projection form turns the signature
    build — the root of the whole LSH chain — into a map-only stage
    that pipelines inside the scan. NULL-text docs drop (split yields
    NULL), matching the exploded form and the unnest-based oracle."""
    d, sigs = _minhashes(docs, N_BANDS)
    return (d.where(F.col("w").isNotNull())
            .select("doc_id", *[s.alias(f"sig_{b}")
                                for b, s in enumerate(sigs)]))


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`minhash_frame` over the documents table."""
    return minhash_frame(_docs(spark, sf_dir))


SQL_DEDUP_MINHASH = ("WITH " + _sql_minhash_ctes(N_BANDS)
                     + "\nSELECT * FROM sigs")

# the r = 1 MinHash band stack as a SQL CTE prefix (the bucket listing,
# the candidate-pair verifiers and the CC clustering oracle)
_SQL_LSH_STACKED = (
    "WITH " + _sql_minhash_ctes(N_BANDS) + ",\nstacked AS ("
    + _sql_stacked("sigs", [f"sig_{b}" for b in range(N_BANDS)]) + ")")


def q_dedup_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding: docs sharing any band signature land in one bucket;
    buckets with >= 2 docs are the near-dup candidates (equi-join key,
    not an all-pairs scan)."""
    buckets = _lsh_buckets(minhash_band_keys(_docs(spark, sf_dir), 1, N_BANDS))
    return buckets.select("band", F.col("key").alias("sig"),
                          F.col("n").alias("n_docs"),
                          F.col("a").alias("min_doc"))


SQL_DEDUP_LSH_BUCKETS = (
    _SQL_LSH_STACKED + ",\n" + _SQL_BUCKETS
    + "\nSELECT band, key AS sig, n AS n_docs, a AS min_doc FROM buckets")


def minhash_band_keys(docs: DataFrame, r: int, b: int) -> DataFrame:
    """(doc_id, band, key) under the full (r, b) MinHash-LSH banding
    dial: ``b`` bands whose key concatenates ``r`` independent minhashes
    (r*b hash families total), so P[candidate] = 1-(1-s^r)^b — raising
    ``r`` pushes the S-curve right (only genuinely similar pairs keep
    colliding), raising ``b`` buys recall back. The registry queries run
    r=1 because the synthetic 30-word-vocab corpus makes ~94% of pairs
    TRUE near-dups (banding cannot prune what is actually similar —
    measured in tests/test_banding.py, which also shows r=2 pruning
    candidates to <10% of all-pairs on a realistic-vocabulary corpus).
    Same shuffle-free projection shape as q_dedup_minhash (r*b
    array_min/transform passes, then a stack) — the band key is just a
    longer string, the downstream (band, key) equi-join is identical at
    any (r, b). At r = 1 the band key is the bare minhash."""
    d, mins = _minhashes(docs, r * b)
    keys = [mins[k] if r == 1 else F.concat(*mins[k * r:(k + 1) * r])
            for k in range(b)]
    keyed = d.where(F.col("w").isNotNull()).select(
        "doc_id", *[key.alias(f"k_{k}") for k, key in enumerate(keys)])
    return _band_unpivot(keyed, [f"k_{k}" for k in range(b)])


def banded_candidate_pairs(docs: DataFrame, r: int, b: int) -> DataFrame:
    """Candidate near-dup pairs under the (r, b) dial: every pair that
    collides in ANY band (equi-join on (band, key), distinct across
    bands) — the candidate set a near-dup verifier consumes. The pair
    universe is bounded by banding (sum of bucket-size-choose-2), never
    all-pairs. The registry verifiers run ``(1, N_BANDS)``: on the
    synthetic corpus the candidate volume is dominated by TRUE
    similarity, not banding slop (see :func:`minhash_band_keys`)."""
    stacked = minhash_band_keys(docs, r, b).localCheckpoint(eager=True)
    return _band_pairs(stacked, "doc_id", "doc_a", "doc_b")


# the candidate pairs as a SQL CTE prefix (the pair verifiers' oracle)
_SQL_CANDS_PREFIX = _SQL_LSH_STACKED + ",\n" + _sql_cands()


def q_dedup_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-set Jaccard verification of the LSH candidate pairs: each
    candidate (band-collision) pair joins to its two docs' DISTINCT token
    sets and the exact jaccard = |∩| / |∪| is computed per pair with
    array intersection — O(candidates × set size), never all-pairs, and
    the candidate window is bucket-driven at any scale (not an id cap).
    The MinHash→LSH→verify chain is the standard web-scale near-dup
    pipeline shape."""
    cands = banded_candidate_pairs(_docs(spark, sf_dir), 1, N_BANDS)
    sets = _docs(spark, sf_dir).select(
        "doc_id",
        F.array_distinct(F.split(F.trim("text"), r"\s+")).alias("ws"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ws").alias("wa"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ws").alias("wb"))
    shared = F.size(F.array_intersect("wa", "wb"))
    jac = F.round(shared /
                  (F.size("wa") + F.size("wb") - shared), 4)
    return (cands.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= JACCARD_THRESHOLD))


SQL_DEDUP_JACCARD_PAIRS = _SQL_CANDS_PREFIX + f""",
sets AS (
  SELECT doc_id, list_distinct(string_split_regex(trim(text), '\\s+')) AS ws
  FROM documents
), scored AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(a.ws, b.ws)) /
               (len(a.ws) + len(b.ws) - len(list_intersect(a.ws, b.ws))), 4)
           AS jaccard
  FROM cands c
  JOIN sets a ON a.doc_id = c.doc_a
  JOIN sets b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored
WHERE jaccard >= {JACCARD_THRESHOLD}
"""


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash: bit b is the sign of the sum over distinct tokens
    of (+1 if bit b of the token hash else -1) — i.e. bit b is set iff
    MORE than half the token hashes have bit b set. Computed as a pure
    per-row PROJECTION (plan-asserted shuffle-free): per-token 16-bit
    hashes once into an array, then 16 ``size(filter(...))`` majority
    tests — the explode + 16-way groupBy sum it replaces shuffled every
    doc and blew the row count up |tokens|×; this form runs at scan
    speed at any corpus size. NULL-text docs drop, matching the
    exploded form and the oracle."""
    from .hashing import hex4_sql_spark
    d = _docs(spark, sf_dir).withColumn(
        "w", F.array_distinct(F.split(F.trim("text"), r"\s+")))
    # hash ONCE per token into an md5 array, then hex4 over the digests:
    # inlining md5 into hex4's four substring terms would evaluate it 4x
    # per token (no common-subexpression elimination inside higher-order
    # lambdas), and md5 dominates this projection's per-token cost
    d = (d.where(F.col("w").isNotNull())
         .withColumn("hh", F.expr(
             "transform(w, x -> md5(cast(x as binary)))"))
         .withColumn("h", F.expr(
             "transform(hh, m -> " + hex4_sql_spark("m") + ")")))
    n = F.size("h")
    sig = F.lit(0)
    for b in range(SIMHASH_BITS):
        set_cnt = F.size(F.expr(
            f"filter(h, v -> (v div {2 ** b}) % 2 = 1)"))
        sig = sig + F.when(set_cnt * 2 > n, 2 ** b).otherwise(0)
    return d.select("doc_id", sig.cast("long").alias("simhash"))


SQL_DEDUP_SIMHASH = (
    "WITH tok AS (SELECT doc_id, unnest(list_distinct("
    "string_split_regex(trim(text), '\\s+'))) AS w FROM documents),\n"
    "h AS (SELECT doc_id, " + hex4_sql_duck("md5(w)") + " AS h FROM tok),\n"
    "sums AS (SELECT doc_id, "
    + ", ".join(
        f"sum(CASE WHEN (h // {2 ** b}) % 2 = 1 THEN 1 ELSE -1 END) AS s_{b}"
        for b in range(SIMHASH_BITS))
    + " FROM h GROUP BY doc_id)\n"
    "SELECT doc_id, ("
    + " + ".join(
        f"CASE WHEN s_{b} > 0 THEN {2 ** b} ELSE 0 END"
        for b in range(SIMHASH_BITS))
    + ")::BIGINT AS simhash FROM sums"
)


NGRAM_N = 3
NGRAM_THRESHOLD = 0.05
COSINE_THRESHOLD = 0.30


def shingle_sql_spark(w: str = "w", n: int = NGRAM_N) -> str:
    """Distinct word n-shingles of a token-array column as a Spark SQL
    expression string — ONE definition of the shingle for the batch
    verifier, decontamination, and the streaming flags (previously three
    hand-written 3-gram copies; the width now actually follows ``n``,
    e.g. 13 for a Gopher-style web-scale run).

    Linear time per row: the k-th shingle is the k-th struct of
    ``arrays_zip`` over the ``n`` shifted slices of ``w``, cut to the
    ``size(w) - n + 1`` full rows (the zip pads shorter slices with
    NULL, which ``concat_ws`` would skip). ``w`` appears only OUTSIDE
    the lambda: when Catalyst inlines ``w = split(...)`` into an
    inferred filter (the ``size(ss) > 0`` pre-filter of a downstream
    ``explode``), the split then runs a fixed number of times per row;
    a ``w[i]`` inside the lambda would re-split the whole text once per
    shingle (quadratic). Nothing indexes an array either, so the
    expression is total: fewer than ``n`` words give ``[]``, NULL
    ``w`` gives NULL (as :func:`shingle_sql_duck` does), and no row
    order or filter reordering can raise INVALID_ARRAY_INDEX."""
    shifted = ", ".join(f"slice({w}, {j + 1}, size({w}))" for j in range(n))
    parts = ", ".join(f"z['{j}']" for j in range(n))
    return (f"array_distinct(slice(transform(arrays_zip({shifted}), "
            f"z -> concat_ws(' ', {parts})), "
            f"1, greatest(size({w}) - {n - 1}, 0)))")


def shingle_sql_duck(w: str = "w", n: int = NGRAM_N) -> str:
    """DuckDB mirror of :func:`shingle_sql_spark` (1-based lists)."""
    parts = " || ' ' || ".join(f"{w}[i+{j}]" if j else f"{w}[i]"
                               for j in range(n))
    return (f"list_distinct(list_transform("
            f"generate_series(1, len({w}) - {n - 1}), i -> {parts}))")


def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word 3-gram (shingle) Jaccard verification of the LSH candidate
    pairs: shingles capture local word ORDER, not just vocabulary — the
    stricter second-stage verifier over the same MinHash-LSH candidate
    set as q_dedup_jaccard_pairs (candidates from cheap token-level LSH,
    verification on the order-sensitive shingle sets; pairs where either
    doc has < NGRAM_N words cannot form a shingle and are skipped on both
    engines)."""
    cands = banded_candidate_pairs(_docs(spark, sf_dir), 1, N_BANDS)
    d = (_docs(spark, sf_dir)
         .withColumn("w", F.split(F.trim("text"), r"\s+"))
         .where(F.size("w") >= NGRAM_N))
    sets = d.select("doc_id", F.expr(shingle_sql_spark()).alias("ss"))
    sa = sets.select(F.col("doc_id").alias("doc_a"), F.col("ss").alias("ga"))
    sb = sets.select(F.col("doc_id").alias("doc_b"), F.col("ss").alias("gb"))
    shared = F.size(F.array_intersect("ga", "gb"))
    jac = F.round(shared /
                  (F.size("ga") + F.size("gb") - shared), 4)
    return (cands.join(sa, "doc_a").join(sb, "doc_b")
            .select("doc_a", "doc_b", jac.alias("jaccard"))
            .where(F.col("jaccard") >= NGRAM_THRESHOLD))


SQL_DEDUP_NGRAM_JACCARD = _SQL_CANDS_PREFIX + f""",
d AS (
  SELECT doc_id, string_split_regex(trim(text), '\\s+') AS w
  FROM documents
), sets AS (
  SELECT doc_id, {shingle_sql_duck()} AS ss
  FROM d WHERE len(w) >= {NGRAM_N}
), scored AS (
  SELECT c.doc_a, c.doc_b,
         round(len(list_intersect(a.ss, b.ss)) /
               (len(a.ss) + len(b.ss) - len(list_intersect(a.ss, b.ss))), 4)
           AS jaccard
  FROM cands c
  JOIN sets a ON a.doc_id = c.doc_a
  JOIN sets b ON b.doc_id = c.doc_b
)
SELECT doc_a, doc_b, jaccard FROM scored
WHERE jaccard >= {NGRAM_THRESHOLD}
"""


EMB_BANDS = 2               # hyperplane sets (bands) for sign-LSH banding
EMB_BAND_BITS = 8           # bits per band (band k uses dims [8k, 8k+8))


def emb_candidate_pairs(spark: SparkSession, sf_dir: str,
                        bands: int = EMB_BANDS,
                        bits: int = EMB_BAND_BITS) -> DataFrame:
    """Banded sign-LSH candidate pairs over the embeddings table: band k
    buckets on the sign pattern of ``bits`` dims at offset ``k*bits``; a
    pair is a candidate iff it collides in ANY band (union, distinct).

    Scale dial (the fix for a fixed-width single bucket): ``bits`` bounds
    the in-bucket population — at 10^12 vectors, size it so
    2^bits ≈ n_vectors / target_bucket_size, keeping in-bucket all-pairs
    verification linear-ish; each band alone then has lower recall (a
    near-dup pair survives a band only if no sign among its ``bits`` dims
    flips), and ``bands`` independent hyperplane sets multiply the chance
    a true pair collides somewhere: P(candidate) = 1-(1-p^bits)^bands.
    Band 0 equals the previous single fixed bucket, so the banded
    candidate set provably contains the old one (test-asserted)."""
    keyed = _emb(spark, sf_dir).select(
        "vec_id",
        *[_sign_bucket("vec", bits, k * bits).alias(f"b{k}")
          for k in range(bands)])
    stacked = _band_unpivot(keyed, [f"b{k}" for k in range(bands)],
                            ("vec_id",))
    return _band_pairs(stacked, "vec_id", "id_a", "id_b")


def q_dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded sign-LSH candidates (see
    emb_candidate_pairs — never all-pairs, bucket width and band count
    are the scale/recall dials), exact cosine verified on candidates
    only. Vectors are L2-normalized so dot == cosine; the candidate dots
    run in the numpy fold kernel (veckernel — bit-identical to the
    zip_with/aggregate fold), rounding stays JVM-side."""
    from .veckernel import fold_dots
    cands = emb_candidate_pairs(spark, sf_dir)
    e = _emb(spark, sf_dir)
    va = e.select(F.col("vec_id").alias("id_a"), F.col("vec").alias("va"))
    vb = e.select(F.col("vec_id").alias("id_b"), F.col("vec").alias("vb"))
    dotted = fold_dots(cands.join(va, "id_a").join(vb, "id_b"),
                       [("va", "vb", "_d")])
    return (dotted.select("id_a", "id_b",
                          F.round("_d", 4).alias("cosine"))
            .where(F.col("cosine") >= COSINE_THRESHOLD))


SQL_DEDUP_EMBEDDING_COSINE = (
    "WITH keyed AS (SELECT vec_id, embedding::DOUBLE[] AS v, "
    + ", ".join(
        f"{_sql_sign_bucket(k * EMB_BAND_BITS, EMB_BAND_BITS)} AS b{k}"
        for k in range(EMB_BANDS))
    + " FROM embeddings),\n"
    "stacked AS ("
    + _sql_stacked("keyed", [f"b{k}" for k in range(EMB_BANDS)], "vec_id")
    + "),\n" + _sql_cands("vec_id", "id_a", "id_b") + "\n"
    + f"""SELECT c.id_a, c.id_b,
       round(list_dot_product(x.v, y.v), 4) AS cosine
FROM cands c
JOIN keyed x ON x.vec_id = c.id_a
JOIN keyed y ON y.vec_id = c.id_b
WHERE round(list_dot_product(x.v, y.v), 4) >= {COSINE_THRESHOLD}
"""
)


CC_ROUNDS = 8


def lsh_edges_frame(docs: DataFrame) -> DataFrame:
    """Candidate-duplicate edges from LSH banding: each doc connects to
    its bucket's min doc (star edges — same components as the clique,
    linear edge count). The signature subtree is localCheckpoint'ed (not
    cache()'d): it feeds both sides of the self-join, and an eager
    checkpoint is released by GC when the frame goes out of scope —
    a cache() here would accumulate executor storage for the session
    lifetime across the driver's 50-query run."""
    stacked = minhash_band_keys(docs, 1, N_BANDS).localCheckpoint(eager=True)
    return (stacked.join(_lsh_buckets(stacked), ["band", "key"])
            .where(F.col("doc_id") != F.col("a"))
            .select("a", F.col("doc_id").alias("b"))
            .distinct())


def cc_labels(edges: DataFrame) -> DataFrame:
    """Min-label propagation (connected components) over the star edges
    ``(a, b)`` of :func:`lsh_edges_frame`, symmetrized here: ``(node,
    label)``, label = the smallest node id within ``CC_ROUNDS`` hops.

    Each round is one join + one aggregation. The loop stops after the
    first round that changes no label, or after ``CC_ROUNDS``: a round
    is a pure function of (edges, labels), so a fixpoint stays one and
    the result equals the ``CC_ROUNDS``-round labels of the DuckDB twin
    (``SQL_DEDUP_CC_CLUSTERS``). ``sum(label < old)`` is observed on the
    round's eager checkpoint; an Observation AQE never filled (empty
    plan) reads 0, i.e. stop. localCheckpoint, not cache(): the label
    frame references itself through the round's join (the plan would
    double per round), and a checkpoint is GC-released with the frame.
    """
    sym = edges.selectExpr("a AS src", "b AS dst").unionByName(
        edges.selectExpr("b AS src", "a AS dst")).localCheckpoint(eager=True)
    labels = sym.select(F.col("src").alias("node")).distinct() \
        .withColumn("label", F.col("node"))
    for _ in range(1, CC_ROUNDS + 1):
        nbmin = (sym.join(labels, sym.dst == labels.node)
                 .groupBy("src").agg(F.min("label").alias("nbmin")))
        labels, counts = sinks.observe(
            labels.join(nbmin, labels.node == nbmin.src, "left")
            .select(F.col("node"),
                    F.least(F.col("label"),
                            F.coalesce(F.col("nbmin"), F.col("label")))
                    .alias("label"),
                    F.col("label").alias("old")),
            changed=sinks.n_true(F.col("label") < F.col("old")))
        labels = labels.drop("old").localCheckpoint(eager=True)
        if not counts()["changed"]:
            break
    return labels


def q_dedup_cc_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster assignment: min-label propagation (connected
    components, :func:`cc_labels`) over the LSH candidate graph — the
    step that turns pairwise near-dup evidence into keep/drop groups in
    a large-scale dedup pipeline. ``CC_ROUNDS`` bounds the rounds so
    both engines compute the identical deterministic result: labels
    travel at most 8 hops, and bucket-min star edges chained across
    bands could in principle exceed that (a component split across two
    reported clusters); tests check the labels against a union-find on
    the corpus."""
    labels = cc_labels(lsh_edges_frame(_docs(spark, sf_dir)))
    return (labels.groupBy("label")
            .agg(F.count("*").alias("cluster_size"),
                 F.min("node").alias("min_doc"))
            .withColumnRenamed("label", "cluster"))


def _sql_cc() -> str:
    base = (
        _SQL_LSH_STACKED + ",\n" + _SQL_BUCKETS + ",\n"
        "edges AS (SELECT DISTINCT m.a, s.doc_id AS b\n"
        "          FROM stacked s JOIN buckets m USING (band, key)\n"
        "          WHERE s.doc_id <> m.a),\n"
        "sym AS MATERIALIZED (SELECT a AS src, b AS dst FROM edges\n"
        "        UNION ALL SELECT b AS src, a AS dst FROM edges),\n"
        "l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym)"
    )
    steps = []
    # AS MATERIALIZED: each label level is referenced twice (by nb{k} and
    # l{k}); inlined CTEs would double the plan per round (2^rounds)
    for k in range(1, CC_ROUNDS + 1):
        steps.append(
            f"nb{k} AS MATERIALIZED (SELECT e.src, min(l.label) AS nbmin FROM sym e\n"
            f"          JOIN l{k-1} l ON e.dst = l.node GROUP BY e.src),\n"
            f"l{k} AS MATERIALIZED (SELECT l.node,\n"
            f"              least(l.label, coalesce(n.nbmin, l.label)) AS label\n"
            f"         FROM l{k-1} l LEFT JOIN nb{k} n ON l.node = n.src)")
    return (base + ",\n" + ",\n".join(steps)
            + f"\nSELECT label AS cluster, count(*) AS cluster_size,"
              f" min(node) AS min_doc FROM l{CC_ROUNDS} GROUP BY label")


SQL_DEDUP_CC_CLUSTERS = _sql_cc()


def dedup_decision_frame(docs: DataFrame,
                         quality: DataFrame | None = None) -> DataFrame:
    """The dedup pipeline's END PRODUCT over any ``(doc_id, text)``
    frame: one keep/drop decision per document. Docs in a near-dup
    cluster keep only the cluster's canonical survivor; docs in no
    cluster are kept. This is the frame a training pipeline semi-joins
    the corpus against — candidates (LSH) → clusters (CC) → keep-list →
    filtered corpus. One extra join over the cluster labels; the corpus
    side stays a scan + broadcast-able decision join at 10^12 rows (the
    decision frame is |clustered docs| rows, tiny relative to the
    corpus).

    ``quality``: optional ``(doc_id, score)`` frame — the survivor
    becomes the cluster's HIGHEST-score doc (ties and unscored docs
    fall back to min doc_id), the keep-the-best-copy dial a curation
    pipeline feeds from its quality signals (e.g. token count). One
    broadcast-shaped extra join on the clustered-docs side only; the
    default stays the stable quality-free min-doc canonical."""
    labels = cc_labels(lsh_edges_frame(docs))
    if quality is None:
        keepers = labels.groupBy("label").agg(F.min("node").alias("keeper"))
    else:
        scored = labels.join(
            quality.select(F.col("doc_id").alias("node"), "score"),
            "node", "left")
        # min_by on (-score, node): best score wins, ties deterministic
        # on the smallest doc_id (node may be a string url — only the
        # score is negated); unscored docs rank below any score
        rank = F.struct(
            (-F.coalesce(F.col("score").cast("double"),
                         F.lit(float("-inf")))).alias("s"),
            F.col("node").alias("tie"))
        keepers = scored.groupBy("label").agg(
            F.min_by("node", rank).alias("keeper"))
    decision = (labels.join(keepers, "label")
                .select(F.col("node").alias("doc_id"),
                        (F.col("node") == F.col("keeper")).alias("keep")))
    d = docs.select("doc_id")
    return (d.join(decision, "doc_id", "left")
            .select("doc_id",
                    F.coalesce(F.col("keep"), F.lit(True)).alias("keep")))


def q_dedup_keep_list(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`dedup_decision_frame` (pure-dedup form;
    the registered keep-list adds decontamination, decontam.q_keep_list)."""
    return dedup_decision_frame(_docs(spark, sf_dir))


def _sql_keep_list() -> str:
    base = SQL_DEDUP_CC_CLUSTERS.rsplit("\nSELECT", 1)[0]
    return (base + f""",
keepers AS (SELECT label, min(node) AS keeper
            FROM l{CC_ROUNDS} GROUP BY label),
decision AS (SELECT l.node AS doc_id, l.node = k.keeper AS keep
             FROM l{CC_ROUNDS} l JOIN keepers k USING (label))
SELECT d.doc_id, coalesce(dec.keep, true) AS keep
FROM documents d LEFT JOIN decision dec ON d.doc_id = dec.doc_id
""")


SQL_DEDUP_KEEP_LIST = _sql_keep_list()


# -- incremental (cross-snapshot) dedup --------------------------------------

IDX_SIGS = 8                # minhashes stored per doc in the dedup index
IDX_MIN_AGREE = 5           # >= 5/8 agreeing minhashes ≈ Jaccard >= 0.6
IDX_KEY_WIDTH = 2           # minhashes per probe key (b, sig[2b] || sig[2b+1])
# The probe's candidate keys miss no near-dup (pigeonhole): a pair that
# agrees on no whole key agrees on at most IDX_KEY_WIDTH - 1 positions
# of each of the IDX_SIGS / IDX_KEY_WIDTH keys, fewer than IDX_MIN_AGREE.
assert IDX_SIGS % IDX_KEY_WIDTH == 0 and IDX_MIN_AGREE > \
    IDX_SIGS // IDX_KEY_WIDTH * (IDX_KEY_WIDTH - 1)
_IDX_KEYS = ["concat({})".format(", ".join(
    f"sig[{p}]" for p in range(k, k + IDX_KEY_WIDTH)))
    for k in range(0, IDX_SIGS, IDX_KEY_WIDTH)]


def build_dedup_index(docs: DataFrame) -> DataFrame:
    """Compact per-document signature index for CROSS-SNAPSHOT dedup:
    ``(doc_id, norm_md5, sig array<string>)`` — the whitespace/case-
    normalized exact-dup key plus {IDX_SIGS} independent minhashes, in
    ONE scan-speed projection. ~300 bytes per doc: the refresh job
    dedups tomorrow's crawl against this table, never against the
    corpus text — at 10^12 docs the index is ~0.3% of the corpus bytes
    and the 100 TB text is NOT rescanned per refresh.

    Empty/NULL-text docs are excluded (nothing to match on) — the
    decision side keeps them.
    """
    d, sigs = _minhashes(docs, IDX_SIGS)
    sig = F.array(*sigs)
    norm = F.md5(F.regexp_replace(F.lower(F.trim(F.col("text"))),
                                  r"\s+", " ").cast("binary"))
    # length(trim(...)) > 0, not size(w) > 0: split("") yields [""], so
    # a size test would index empty docs on the "" token and match them
    # to each other (NULL text: the condition is NULL -> excluded)
    return (d.where(F.length(F.trim(F.col("text"))) > 0)
            .select("doc_id", norm.alias("norm_md5"), sig.alias("sig")))


def dedup_against_index(new_docs: DataFrame, index: DataFrame,
                        exclude_self: bool = False,
                        new_idx: DataFrame | None = None) -> DataFrame:
    """Dedup a NEW batch against an existing :func:`build_dedup_index`
    table — the daily-refresh operator: a re-crawled or boilerplate-
    near-dup page is dropped without touching the stored corpus text.

    Per new doc: ``exact_dup`` (normalized-text md5 present in the
    index), ``near_dup`` (>= {IDX_MIN_AGREE} of {IDX_SIGS} minhashes
    agree position by position with some indexed doc — the standard
    signature-agreement Jaccard estimate, so verification needs ONLY
    the index), ``n_sig_agree`` (the best such agreement),
    ``matched_doc`` (the smallest such indexed doc_id), and ``keep``.
    ``exclude_self`` ignores index rows carrying the new doc's own
    doc_id, so a replayed epoch whose index shard already landed gets
    the same decisions.

    Scale shape: the work follows the batch, not the index. The batch
    collapses to its distinct signature arrays (a million re-serves of
    one page probe once), which the planner broadcasts while they are
    small, as an epoch's are (no hint: a corpus-sized first batch is
    shuffled instead); the index is read in ONE streaming pass — a
    projection of the stored arrays, no text, no grouping — and joined
    to them on the keys ``(b, sig[2b] ||
    sig[2b+1])`` (``_IDX_KEYS``). These keys miss no near-dup, by
    pigeonhole (asserted next to ``IDX_SIGS``): a pair agreeing on 5 of
    8 positions agrees on both positions of some key. A key of two
    minhashes is also far more selective than one: a boilerplate value
    shared by much of the index collides only where its neighbour is
    shared too. Each hit is verified by its exact count of agreeing
    positions, and only verified hits reach a shuffle, folded to one
    row per batch array (plus one per hit on an index row of the batch
    itself, which ``exclude_self`` needs and the batch bounds). The
    exact flag is one SEMI equi-join on the 32-byte norm key (k indexed
    copies of a boilerplate page cost one probe, not k rows); both
    flags fold into one per-doc aggregation.

    ``new_idx`` is the new batch's own :func:`build_dedup_index` rows.
    The probe reads them up to four times (exact key, distinct arrays,
    doc→array map, and the own ids for ``exclude_self``), so a caller
    that also appends the kept docs' rows to the index builds them
    once, materializes them and passes them here; ``None`` builds them
    from ``new_docs`` inside the plan.
    """
    if new_idx is None:
        new_idx = build_dedup_index(new_docs)
    id_type = dict(index.dtypes)["doc_id"]
    # exact flag is MEMBERSHIP only — LEFT SEMI on norm_md5; the
    # ``exclude_self`` test rides the join condition
    exact_cond = F.col("n.norm_md5") == F.col("i.norm_md5")
    if exclude_self:
        exact_cond = exact_cond & (F.col("n.doc_id") != F.col("i.doc_id"))
    exact = (new_idx.alias("n")
             .join(index.alias("i"), exact_cond, "left_semi")
             .select("doc_id", F.lit(True).alias("exact_dup"),
                     F.lit(None).cast("int").alias("n_agree"),
                     F.lit(None).cast(id_type).alias("match")))

    gkey = F.md5(F.concat_ws("|", "sig").cast("binary"))
    probe = _band_unpivot(
        new_idx.select("sig").distinct().select(gkey.alias("gn"), "sig"),
        _IDX_KEYS, keep=("gn", "sig AS nsig"))
    agree = F.expr(" + ".join(f"CAST(nsig[{p}] = sig[{p}] AS INT)"
                              for p in range(IDX_SIGS)))
    hits = (_band_unpivot(index, _IDX_KEYS, keep=("doc_id AS i_doc", "sig"))
            .join(probe, ["band", "key"])
            .select("gn", "i_doc", agree.alias("n_agree"))
            .where(F.col("n_agree") >= IDX_MIN_AGREE))
    keys = ["gn"]
    if exclude_self:
        # only an index row whose doc_id is in the batch can be a doc's
        # own: it keeps that id as ``own``; a NULL id is no doc's own
        # and, as in the exact probe's ``!=``, matches nothing
        own = new_idx.select(F.col("doc_id").alias("i_doc"),
                             F.col("doc_id").alias("own"))
        hits = (hits.where(F.col("i_doc").isNotNull())
                .join(own, "i_doc", "left"))
        keys.append("own")
    near = (hits.groupBy(*keys)
            .agg(F.max("n_agree").alias("n_agree"),
                 F.min("i_doc").alias("match"))
            .join(new_idx.select("doc_id", gkey.alias("gn")), "gn"))
    if exclude_self:
        near = near.where(F.col("own").isNull()
                          | (F.col("own") != F.col("doc_id")))
    best = (exact.unionByName(near.select(
                "doc_id", F.lit(None).cast("boolean").alias("exact_dup"),
                "n_agree", "match"))
            .groupBy("doc_id")
            .agg(F.max("exact_dup").alias("exact_dup"),
                 F.max("n_agree").alias("n_sig_agree"),
                 F.min("match").alias("matched_doc")))

    # ``best`` holds only the batch's duplicates, but its planner
    # estimate is a product of join sizes: without the hint the batch's
    # doc ids are shuffled before AQE turns the join into a broadcast
    out = new_docs.select("doc_id").join(F.broadcast(best), "doc_id", "left")
    exact_dup = F.coalesce("exact_dup", F.lit(False))
    near_dup = F.col("matched_doc").isNotNull()
    return out.select(
        "doc_id", exact_dup.alias("exact_dup"), near_dup.alias("near_dup"),
        "n_sig_agree", "matched_doc",
        (~(exact_dup | near_dup)).alias("keep"))


def dedup_increment(docs: DataFrame,
                    index: DataFrame) -> tuple[DataFrame, DataFrame]:
    """One incremental dedup step of a fresh batch ``docs(doc_id, text)``
    against the signature ``index``: ``(decisions, index_rows)``. The
    batch's signatures are built and materialized once; the probe reads
    them with ``exclude_self`` (a replayed batch gets identical
    decisions) and is materialized; ``index_rows``, the kept docs'
    signatures, is lazy. The caller stamps, writes and counts both."""
    sigs = build_dedup_index(docs).localCheckpoint(eager=True)
    dec = dedup_against_index(docs, index, exclude_self=True,
                              new_idx=sigs).localCheckpoint(eager=True)
    return dec, dec.where("keep").select("doc_id").join(sigs, "doc_id")


def compact_dedup_index(index: DataFrame, url_keyed: bool = False,
                        order_col: str | None = None,
                        ttl_min_order: int | None = None) -> DataFrame:
    """Maintenance compaction for a :func:`build_dedup_index` table —
    the signature-index analogue of Iceberg's OPTIMIZE / expire, run
    BETWEEN drains (never inside an epoch, so
    streaming.run_incremental_dedup's torn-epoch idempotence is
    untouched):

    * **merge epochs** — replayed ``mode=append`` epochs duplicate
      rows; one row per doc_id survives (the greatest
      (order, norm_md5, sig) struct — deterministic on ties);
    * **drop superseded revisions** (``url_keyed=True``, doc ids are
      urls) — re-crawls of the same page accumulate one index row per
      revision URL; rows collapse on the canonical-URL key
      (functions/urls.canonical_url_cols) keeping the greatest
      (order, doc_id) row. Invalid/unparseable urls keep their raw id
      as the key (never silently merged);
    * **TTL** (``ttl_min_order``) — when the caller's index carries an
      ordering column (e.g. an ``epoch`` stamp), rows below the floor
      expire.

    Decisions are preserved for the rows a compaction is FOR (exact
    re-appends, same-content revisions); dropping a *different-content*
    revision row narrows matching by design — that is the retention
    policy, not an accident (test-pinned both ways).

    Scale shape: one groupBy per collapse level on model-sized keys
    (the index is ~0.3% of corpus bytes; compaction never reads corpus
    text). ``order_col=None`` orders by doc_id.
    """
    order = F.col(order_col) if order_col else F.col("doc_id")
    if ttl_min_order is not None:
        if order_col is None:
            raise ValueError("ttl_min_order needs order_col")
        index = index.where(F.col(order_col) >= ttl_min_order)
    cols = index.columns
    # one row per doc_id (replay/append merge)
    per_doc = (index
               .groupBy("doc_id")
               .agg(F.max(F.struct(
                   order.alias("_o"),
                   *[F.col(c) for c in cols if c != "doc_id"])).alias("m"))
               .select("doc_id", "m.*").drop("_o"))
    if not url_keyed:
        return per_doc.select(*cols)
    from .urls import canonical_url_cols
    canon = per_doc.select(
        "*", *canonical_url_cols("doc_id")[:2])  # canon_url, url_valid
    key = F.when(F.col("url_valid"), F.col("canon_url")) \
        .otherwise(F.col("doc_id"))
    latest = (canon.select(key.alias("_k"), *cols)
              .groupBy("_k")
              .agg(F.max(F.struct(
                  order.alias("_o"),
                  *[F.col(c) for c in cols])).alias("m"))
              .select("m.*").drop("_o"))
    return latest.select(*cols)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-engine-checkable demo of the incremental operator pair:
    index the even-doc_id half of the corpus, dedup the odd half
    against it (the synthetic corpus is near-dup-rich, so both flag
    kinds fire). Outside the driver window; parity-checked by
    tools/parity_check.py and the hostile gate."""
    d = _docs(spark, sf_dir)
    index = build_dedup_index(d.where("doc_id % 2 = 0"))
    return dedup_against_index(
        d.where("doc_id % 2 = 1").select("doc_id", "text"), index)


def _sql_dedup_incremental() -> str:
    def stack(side: str) -> str:
        return _sql_stacked(side, [f"sig_{i}" for i in range(IDX_SIGS)])
    return f"""
WITH {_sql_minhash_ctes(IDX_SIGS, "length(trim(text)) > 0")},
norm AS (
  SELECT doc_id,
         md5(regexp_replace(lower(trim(text)), '\\s+', ' ', 'g'))
           AS norm_md5
  FROM documents WHERE length(trim(text)) > 0
), idx_sigs AS (SELECT * FROM sigs WHERE doc_id % 2 = 0),
new_sigs AS (SELECT * FROM sigs WHERE doc_id % 2 = 1),
idx_stacked AS ({stack('idx_sigs')}),
new_stacked AS ({stack('new_sigs')}),
exact AS (
  SELECT DISTINCT n.doc_id FROM norm n
  JOIN norm i ON n.norm_md5 = i.norm_md5
  WHERE n.doc_id % 2 = 1 AND i.doc_id % 2 = 0
), agree AS (
  SELECT n.doc_id AS new_id, i.doc_id AS idx_id, count(*) AS n_agree
  FROM new_stacked n JOIN idx_stacked i USING (band, key)
  GROUP BY 1, 2
), best AS (
  SELECT new_id, max(n_agree) AS n_sig_agree, min(idx_id) AS matched_doc
  FROM agree WHERE n_agree >= {IDX_MIN_AGREE} GROUP BY new_id
)
SELECT d.doc_id,
       e.doc_id IS NOT NULL AS exact_dup,
       b.matched_doc IS NOT NULL AS near_dup,
       b.n_sig_agree, b.matched_doc,
       NOT (e.doc_id IS NOT NULL OR b.matched_doc IS NOT NULL) AS keep
FROM documents d
LEFT JOIN exact e ON d.doc_id = e.doc_id
LEFT JOIN best b ON d.doc_id = b.new_id
WHERE d.doc_id % 2 = 1
"""


SQL_DEDUP_INCREMENTAL = _sql_dedup_incremental()


SPAN_K = 10                 # words per exact-dedup span (C4 uses 3 sentences)


def span_dedup_frame(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """C4-style exact span dedup across the whole corpus: every disjoint
    ``k``-word span that occurs more than once anywhere is removed from
    every document except its canonical first occurrence (min
    ``(doc_id, span_no)``), and each document's kept text is reassembled
    in span order — the "discard all but one of any three-sentence span
    occurring more than once" rule of the C4 recipe, at word-span
    granularity so it composes with the whitespace tokenizer the rest of
    the suite uses.

    Returns one row per document: span counts, how many spans were
    duplicated / dropped, the post-dedup word count, and the md5 of the
    reassembled kept text (hash-verified cross-engine, so the oracle pins
    the reassembly byte-for-byte without shipping the text through the
    driver compare).

    Scale shape (the reason this form survives 10^12 docs):

    * span build is a per-row PROJECTION (``transform(sequence(...))`` +
      one ``posexplode``) — no shuffle before the spans exist, row blowup
      bounded by n_words/k (~1/k of the token count);
    * the duplicate decision is ONE ``groupBy`` on a 32-char span hash
      with tiny aggregate state (count + min struct) — partial (map-side)
      aggregation soaks up locally repeated boilerplate spans before the
      exchange;
    * the verdict rejoins on the same hash key (AQE co-locates the two
      shuffles; a span duplicated 10^9 times is one decision row, so the
      join fans out 1:1 with occurrences and AQE skew-split handles hot
      boilerplate keys);
    * reassembly is one ``groupBy doc_id`` of (span_no, span) pairs —
      the same A1/A2 ordered-reassembly shape as the extraction sink.

    NULL/empty text yields zero spans and an empty kept text (not a
    dropped row), so the corpus grain is preserved — one verdict row per
    input document, same as dedup_keep_list.
    """
    out, kept_text = _span_dedup_core(docs, k)
    return out.select(
        "doc_id",
        F.coalesce("n_spans", F.lit(0)).cast("int").alias("n_spans"),
        F.coalesce("n_dup_spans", F.lit(0)).cast("int")
        .alias("n_dup_spans"),
        F.coalesce("n_dropped_spans", F.lit(0)).cast("int")
        .alias("n_dropped_spans"),
        (F.col("n_w") - F.coalesce("n_dropped_spans", F.lit(0)) * k)
        .cast("int").alias("n_kept_words"),
        F.md5(kept_text.cast("binary")).alias("kept_md5"))


def span_dedup_text(docs: DataFrame, k: int = SPAN_K) -> DataFrame:
    """The content-rewrite form of :func:`span_dedup_frame`: returns
    ``(doc_id, text, n_dropped_spans)`` with ``text`` REASSEMBLED post-
    dedup (whitespace-normalized to single spaces by construction) — the
    frame the curation pipeline chains between the quality gate and the
    training sink. Same plan as span_dedup_frame; only the projection
    differs."""
    out, kept_text = _span_dedup_core(docs, k)
    return out.select(
        "doc_id", kept_text.alias("text"),
        F.coalesce("n_dropped_spans", F.lit(0)).cast("int")
        .alias("n_dropped_spans"))


def _span_dedup_core(docs: DataFrame, k: int):
    from .textstats import words_empty_safe
    w = words_empty_safe("text")
    d = docs.select("doc_id", w.alias("w")).withColumn("n_w", F.size("w"))
    spans_arr = F.when(
        F.col("n_w") >= k,
        F.expr(f"transform(sequence(0, cast(n_w / {k} as int) - 1), "
               f"i -> array_join(slice(w, i * {k} + 1, {k}), ' '))")
    ).otherwise(F.array().cast("array<string>"))
    spans = (d.select("doc_id", F.posexplode(spans_arr)
                      .alias("span_no", "span"))
             .withColumn("h", F.md5(F.col("span").cast("binary"))))
    decision = spans.groupBy("h").agg(
        F.count("*").alias("n_occ"),
        F.min(F.struct("doc_id", "span_no")).alias("first"))
    flagged = (spans.join(decision, "h")
               .withColumn("keep_span",
                           (F.col("n_occ") == 1)
                           | ((F.col("first.doc_id") == F.col("doc_id"))
                              & (F.col("first.span_no")
                                 == F.col("span_no")))))
    per_doc = (flagged.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum((F.col("n_occ") > 1).cast("int")).alias("n_dup_spans"),
        F.sum((~F.col("keep_span")).cast("int")).alias("n_dropped_spans"),
        F.array_sort(F.collect_list(
            F.when(F.col("keep_span"), F.struct("span_no", "span"))))
        .alias("kept")))
    tail = F.expr(f"array_join(slice(w, cast(n_w / {k} as int) * {k} + 1, "
                  f"n_w - cast(n_w / {k} as int) * {k}), ' ')")
    out = (d.withColumn("tail_s", tail)
           .join(per_doc, "doc_id", "left")
           .withColumn("kept_body",
                       F.expr("array_join(transform(kept, s -> s.span), "
                              "' ')")))
    kept_text = F.expr("array_join(filter(array(coalesce(kept_body, ''), "
                       "tail_s), x -> x != ''), ' ')")
    return out, kept_text


def q_dedup_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver entry for :func:`span_dedup_frame` over the documents table."""
    return span_dedup_frame(_docs(spark, sf_dir))


SQL_DEDUP_SPANS = f"""
WITH d AS (
  SELECT doc_id,
         CASE WHEN text IS NULL OR length(trim(text)) = 0
              THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w
  FROM documents
), dn AS (
  SELECT doc_id, w, len(w) AS n_w FROM d
), s AS (
  SELECT doc_id, i AS span_no,
         array_to_string(w[i * {SPAN_K} + 1 : i * {SPAN_K} + {SPAN_K}],
                         ' ') AS span
  FROM dn,
       UNNEST(generate_series(0, CAST(n_w // {SPAN_K} AS BIGINT) - 1))
       AS g(i)
  WHERE n_w >= {SPAN_K}
), dec AS (
  SELECT md5(span) AS h, count(*) AS n_occ,
         min({{'d': doc_id, 'c': span_no}}) AS first
  FROM s GROUP BY 1
), flagged AS (
  SELECT s.doc_id, s.span_no, s.span, dec.n_occ,
         (dec.n_occ = 1 OR (dec.first.d = s.doc_id
                            AND dec.first.c = s.span_no)) AS keep_span
  FROM s JOIN dec ON md5(s.span) = dec.h
), per_doc AS (
  SELECT doc_id, count(*) AS n_spans,
         sum(CASE WHEN n_occ > 1 THEN 1 ELSE 0 END) AS n_dup_spans,
         sum(CASE WHEN keep_span THEN 0 ELSE 1 END) AS n_dropped_spans,
         coalesce(string_agg(CASE WHEN keep_span THEN span END, ' '
                             ORDER BY span_no), '') AS kept_body
  FROM flagged GROUP BY doc_id
)
SELECT dn.doc_id,
       coalesce(p.n_spans, 0)::INTEGER AS n_spans,
       coalesce(p.n_dup_spans, 0)::INTEGER AS n_dup_spans,
       coalesce(p.n_dropped_spans, 0)::INTEGER AS n_dropped_spans,
       (dn.n_w - coalesce(p.n_dropped_spans, 0) * {SPAN_K})::INTEGER
         AS n_kept_words,
       -- coalesce both joins: DuckDB array_to_string([]) is NULL where
       -- Spark array_join([]) is ''
       md5(coalesce(array_to_string(list_filter(
             [coalesce(p.kept_body, ''),
              coalesce(array_to_string(
                w[(n_w // {SPAN_K}) * {SPAN_K} + 1 : n_w], ' '), '')],
             x -> x != ''), ' '), '')) AS kept_md5
FROM dn LEFT JOIN per_doc p ON dn.doc_id = p.doc_id
"""


# dedup_keep_list is registered by decontam.py (the keep-list is the
# full curation decision: dedup AND NOT contaminated).
REGISTRY = {
    "dedup_minhash_signatures": (q_dedup_minhash, SQL_DEDUP_MINHASH),
    "dedup_lsh_buckets": (q_dedup_lsh_buckets, SQL_DEDUP_LSH_BUCKETS),
    "dedup_cc_clusters": (q_dedup_cc_clusters, SQL_DEDUP_CC_CLUSTERS),
    "dedup_exact": (q_dedup_exact, SQL_DEDUP_EXACT),
    "dedup_spans": (q_dedup_spans, SQL_DEDUP_SPANS),
    "dedup_ngram_jaccard": (q_dedup_ngram_jaccard, SQL_DEDUP_NGRAM_JACCARD),
    "dedup_embedding_cosine": (q_dedup_embedding_cosine,
                               SQL_DEDUP_EMBEDDING_COSINE),
    "dedup_jaccard_pairs": (q_dedup_jaccard_pairs, SQL_DEDUP_JACCARD_PAIRS),
    "dedup_simhash": (q_dedup_simhash, SQL_DEDUP_SIMHASH),
    "dedup_incremental": (q_dedup_incremental, SQL_DEDUP_INCREMENTAL),
}
