"""Similarity search over the ``embeddings`` table (``array<float>``).

* brute-force cosine top-k — the correctness baseline: one broadcast of the
  query vector, dot products evaluated JVM-side with higher-order array
  functions (``zip_with`` + ``aggregate``) — no Python, no shuffle except
  the final top-k.
* sign-LSH buckets — the scale path: an 8-bit hyperoctant key from the
  signs of the leading dimensions turns ANN into an equi-join; at 10^12
  vectors the bucket key is the shuffle key and each bucket is a small
  local top-k.

Embeddings in the test corpus are L2-normalized (dot == cosine); both
engines compute in float64 and round to 4 decimals so the hash compare is
stable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window as W
from pyspark.sql import functions as F

TOP_K = 10
QUERY_VEC_ID = 0
SIGN_BITS = 8


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    return (spark.read.parquet(f"{sf_dir}/embeddings.parquet")
            .withColumn("vec", F.expr(
                "transform(embedding, x -> cast(x as double))")))


def _dot(a: str, b: str):
    """Interpreted HOF fold — kept as the semantic reference (and for
    one-off tiny arrays). Hot paths use veckernel.fold_dots, which is
    bit-identical (same IEEE op sequence) but vectorized."""
    return F.expr(
        f"aggregate(zip_with({a}, {b}, (x, y) -> x * y), "
        f"cast(0.0 as double), (acc, v) -> acc + v)")


def q_knn_brute_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k neighbors of the query vector by cosine, brute force.

    Dots are the JVM HOF fold (:func:`_dot`), NOT the Arrow kernel:
    this shape does only 3 dots per row but would ship vec + the
    broadcast-duplicated qvec through Arrow both ways, and a clean
    interleaved A/B at sf0.1 / 10x / 100x rows (BENCH.md r5) measured
    the HOF form 1.2-1.5x faster at every scale — the r4 kernel swap
    here was a real regression (0.35 -> 0.51 s) and is reverted. The
    kernel stays where it wins: many-dots-per-row shapes (fold_dot_
    matrix in ann_ivf_probe / ann_recall_eval, C dots amortize one
    Arrow pass)."""
    e = _emb(spark, sf_dir)
    q = (e.where(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("vec").alias("qvec")))
    # try_divide: a zero-norm vector yields cosine NULL (exactly DuckDB's
    # float division-by-zero semantics) instead of an ANSI
    # DIVIDE_BY_ZERO failing the whole job — zero vectors are routine in
    # real embedding corpora (hostile-corpus regression)
    paired = (e.where(F.col("vec_id") != QUERY_VEC_ID)
              .crossJoin(F.broadcast(q)))
    scored = paired.select(
        "vec_id", "label",
        F.round(F.try_divide(
            _dot("vec", "qvec"),
            F.sqrt(_dot("vec", "vec")) * F.sqrt(_dot("qvec", "qvec"))),
            4).alias("cosine"))
    return (scored.orderBy(F.col("cosine").desc(), F.col("vec_id"))
            .limit(TOP_K))


SQL_KNN_BRUTE_COSINE = f"""
WITH q AS (
  SELECT embedding::DOUBLE[] AS qvec FROM embeddings WHERE vec_id = {QUERY_VEC_ID}
), scored AS (
  SELECT e.vec_id, e.label,
         round(list_dot_product(e.embedding::DOUBLE[], q.qvec)
               / (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))
                  * sqrt(list_dot_product(q.qvec, q.qvec))), 4) AS cosine
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> {QUERY_VEC_ID}
)
SELECT vec_id, label, cosine FROM scored
ORDER BY cosine DESC, vec_id LIMIT {TOP_K}
"""


def _sign_bucket(vec: str, bits: int = SIGN_BITS, offset: int = 0):
    """Sign-LSH bucket key from ``bits`` consecutive dims starting at
    ``offset``. ``bits`` is the recall/cost dial: each extra bit halves
    the expected bucket population (so in-bucket pair counts stay bounded
    as the corpus grows — size bits ~ log2(n_vectors / target_bucket)),
    at the cost of splitting true neighbor pairs across buckets; banding
    over multiple offsets (see dedup_embedding_cosine) buys the recall
    back without re-inflating any single bucket."""
    cols = [
        F.when(F.element_at(F.col(vec), offset + b + 1) >= 0,
               F.lit(2 ** b)).otherwise(0)
        for b in range(bits)
    ]
    out = F.lit(0)
    for b in cols:
        out = out + b
    return out.cast("int")


def _sql_sign_bucket(offset: int, bits: int) -> str:
    """DuckDB twin of :func:`_sign_bucket` over the ``embedding`` column
    (1-based lists); the caller casts."""
    return "(" + " + ".join(
        f"CASE WHEN embedding[{offset + k + 1}] >= 0 THEN {2 ** k} ELSE 0 END"
        for k in range(bits)) + ")"


def q_ann_sign_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hyperoctant LSH bucketing: 8-bit sign key over leading dims."""
    e = _emb(spark, sf_dir)
    return (e.select(_sign_bucket("vec").alias("bucket"))
            .groupBy("bucket").agg(F.count("*").alias("n_vecs")))


SQL_ANN_SIGN_BUCKETS = (
    f"WITH b AS (SELECT {_sql_sign_bucket(0, SIGN_BITS)}::INTEGER AS bucket"
    " FROM embeddings)\n"
    "SELECT bucket, count(*) AS n_vecs FROM b GROUP BY bucket"
)


def q_ann_bucketed_knn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN: top-k within the query's sign bucket only (the equi-join
    candidate set), cosine-ranked. Recall < 1.0 by design; the bucket key
    is what makes the join shuffle-bounded at scale."""
    from .veckernel import fold_dots
    e = _emb(spark, sf_dir).withColumn("bucket", _sign_bucket("vec"))
    q = (e.where(F.col("vec_id") == QUERY_VEC_ID)
         .select(F.col("vec").alias("qvec"), F.col("bucket").alias("qbucket")))
    cands = (e.join(F.broadcast(q), F.col("bucket") == F.col("qbucket"))
             .where(F.col("vec_id") != QUERY_VEC_ID))
    scored = fold_dots(cands, [("vec", "qvec", "_d")]).select(
        "vec_id", "label", F.round("_d", 4).alias("dot"))
    return scored.orderBy(F.col("dot").desc(), F.col("vec_id")).limit(TOP_K)


SQL_ANN_BUCKETED_KNN = f"""
WITH b AS (SELECT vec_id, label, embedding,
                  {_sql_sign_bucket(0, SIGN_BITS)}::INTEGER AS bucket
           FROM embeddings),
q AS (SELECT embedding::DOUBLE[] AS qvec, bucket AS qbucket FROM b
      WHERE vec_id = {QUERY_VEC_ID})
SELECT vec_id, label,
       round(list_dot_product(embedding::DOUBLE[], q.qvec), 4) AS dot
FROM b JOIN q ON b.bucket = q.qbucket
WHERE vec_id <> {QUERY_VEC_ID}
ORDER BY dot DESC, vec_id LIMIT {TOP_K}
"""


NLIST = 16                  # IVF coarse centroids (deterministic: first 16 vecs)
NPROBE = 4                  # cells probed per query


#: JVM argmax over the emitted raw-dots array: round each dot to 4dp
#: (the SAME Spark Round the old all-JVM form applied — bit-exact
#: cross-engine behavior preserved), pick highest dot / lowest cid.
_ARGMAX_CDOTS = ("array_max(transform(cdots, (d, i) -> "
                 "struct(round(d, 4) AS cdot, -i AS negcid)))")


def _assign_dots(e: DataFrame, cents: dict[int, list[float]],
                 vec_col: str = "vec",
                 keep: tuple[str, ...] = ("vec_id", "label", "vec")
                 ) -> DataFrame:
    """keep + ``cdots array<double>``: raw left-fold dots of every row
    against the centroid matrix (index i == cid i), one zero-exchange
    numpy mapInArrow stage (veckernel — bit-identical to the HOF fold).
    The 4dp rounding the argmax / ranking needs stays JVM-side."""
    from .veckernel import fold_dot_matrix
    assert sorted(cents) == list(range(len(cents))), "dense centroid ids"
    mat = [cents[i] for i in sorted(cents)]
    return fold_dot_matrix(e, vec_col, mat, "cdots", keep=keep)


def ivf_assign(e: DataFrame, cents: dict[int, list[float]]) -> DataFrame:
    """Coarse-quantize every vector to its nearest centroid as a SINGLE
    shuffle-free map stage: raw dots against the centroid matrix come
    from the vectorized fold kernel (one mapInArrow, zero exchanges,
    zero row blowup — plan-asserted in tests), the per-row cell id is
    the JVM argmax over (rounded dot, -cid) structs — lexicographic
    ``array_max`` picks the highest dot, lowest cid on ties, on exactly
    the doubles the interpreted form produced. The crossJoin +
    row_number shape this replaced was a NLIST× row blowup plus a full
    vector shuffle; at 10^12 vectors this stays a map stage. Centroids
    arrive as a driver-side dict (the 'trained' coarse quantizer —
    NLIST rows, the moral equivalent of a broadcast)."""
    best = F.expr(_ARGMAX_CDOTS)
    return _assign_dots(e, cents).select(
        "vec_id", "label", "vec", (-best["negcid"]).cast("int").alias("cid"))


CENT_SCALE = 1_000_000      # 1e-6 fixed-point for exact Lloyd averaging


def train_ivf_centroids(e: DataFrame, k: int = NLIST,
                        rounds: int = 3) -> dict[int, list[float]]:
    """Distributed k-means (Lloyd) training of the IVF coarse quantizer
    — the 'trained' step the probe's docstring defers to, as DataFrame
    ops:

    * ASSIGN is the zero-exchange argmax projection (ivf_assign) against
      the current centroid literal matrix — the same map-stage shape the
      probe uses, so training costs ``rounds`` scans and ``rounds``
      k×dim-row aggregations, never a vector shuffle;
    * UPDATE sums per-(cell, dimension) in ×10^6 FIXED-POINT LONGS
      (posexplode → partial-aggregated groupBy): integer addition is
      associative, so the new centroids are bit-identical across
      partitionings, parallelism levels, and retries — double sums are
      not (per-partition order varies), and a last-bit wobble can flip
      an assignment and cascade;
    * the collect is k×dim rows per round (the model, not the data —
      same budget as the probe's quantizer math); empty cells keep
      their previous centroid (standard Lloyd).

    Init is deterministic: the first ``k`` vec_ids (exactly the probe's
    untrained quantizer, so training strictly refines what the oracle
    query pins). Returns the same ``{cid: vector}`` dict ivf_assign
    takes.

    PRECONDITION (ADVICE r3): inputs must be L2-normalized — the corpus
    invariant this module states up top. Assignment is by max DOT
    PRODUCT (MIPS) while the Lloyd update is an arithmetic mean: on
    unit vectors that is the standard spherical-k-means round (the mean
    direction; its < 1 norm only damps ties uniformly), but on
    UN-normalized corpora a large-norm centroid can out-dot every rival
    and absorb all points — normalize before training. Centroids are
    deliberately NOT re-normalized between rounds: the quantizer must
    stay exactly what the bit-deterministic update produced (re-scaling
    would break the fixed-point bit-identity this function guarantees).
    """
    # driver collect bound: k centroid rows
    cents = {r["vec_id"]: list(r["vec"]) for r in
             e.where(F.col("vec_id") < k).select("vec_id", "vec")
              .collect()}
    assert len(cents) == k, "corpus smaller than k"
    cents = {i: cents[i] for i in sorted(cents)}
    dim = len(cents[0])
    for _ in range(rounds):
        assigned = ivf_assign(e, cents)
        # driver collect bound: k x dim rows, one per (cid, pos)
        sums = (assigned
                .select("cid", F.posexplode("vec").alias("pos", "val"))
                .select("cid", "pos",
                        F.round(F.col("val") * CENT_SCALE)
                        .cast("long").alias("v"))
                .groupBy("cid", "pos")
                .agg(F.sum("v").alias("s"), F.count("*").alias("n"))
                .collect())
        new = {}
        for r in sums:
            acc = new.setdefault(r["cid"], [0] * dim + [0])
            acc[r["pos"]] = r["s"]
            acc[dim] = r["n"]
        cents = {cid: ([x // acc[dim] / CENT_SCALE for x in acc[:dim]]
                       if (acc := new.get(cid)) else old)
                 for cid, old in cents.items()}
    return cents


def q_ann_ivf_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN: coarse-quantize every vector to its nearest of NLIST
    centroids (one shuffle-free argmax projection — the inverted-file
    build, see ivf_assign), then search only the NPROBE cells nearest the
    query. At 10^12 vectors the cell id is the partition/shuffle key and
    the probed fraction bounds the work; the centroid 'training' is
    deterministic (first NLIST vectors) so both engines agree exactly.
    Ranking uses dots rounded to 4dp with id tie-breaks — FP-stable
    across engines.

    One Arrow map stage does ALL the vector math: the raw dots against
    the centroid matrix serve both the cell assignment (JVM argmax over
    rounded dots) and the final query scoring — the query vector IS
    centroid QUERY_VEC_ID, so its dot is ``cdots[QUERY_VEC_ID]``; no
    join, no second scan, and the float→double cast happens exactly
    (numpy widening) without an interpreted transform."""
    e = _emb(spark, sf_dir)
    # driver collect bound: NLIST centroid rows
    cents = {r["vec_id"]: list(r["vec"]) for r in
             e.where(F.col("vec_id") < NLIST)
              .select("vec_id", "vec").collect()}
    d = _assign_dots(e, cents, keep=("vec_id", "label"))
    best = F.expr(_ARGMAX_CDOTS)
    assigned = d.select(
        "vec_id", "label", "cdots",
        (-best["negcid"]).cast("int").alias("cid"))
    # the query's NPROBE nearest cells: pure driver-side quantizer math
    # (NLIST x NLIST dots on the already-collected 'trained' centroids).
    # The sequential-sum dot mirrors both engines' left-fold exactly,
    # and the (round 4dp desc, cid asc) ordering matches the oracle's
    # ORDER BY.
    qvec = cents[QUERY_VEC_ID]

    def _pydot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += x * y
        return acc

    def _round4_half_up(x):
        # both engines round HALF_UP (away from zero); Python's round()
        # is banker's — a dyadic 4dp midpoint would pick different cells
        import math
        return math.copysign(
            math.floor(abs(x) * 10000 + 0.5), x) / 10000

    probe = sorted(((-_round4_half_up(_pydot(qvec, c)), cid)
                    for cid, c in cents.items()))[:NPROBE]
    probe_cids = [cid for _nd, cid in probe]
    return (assigned
            .where(F.col("cid").isin(probe_cids)
                   & (F.col("vec_id") != QUERY_VEC_ID))
            .select("vec_id", "label", "cid",
                    F.round(F.element_at("cdots", QUERY_VEC_ID + 1), 4)
                    .alias("dot"))
            .orderBy(F.col("dot").desc(), F.col("vec_id"))
            .limit(TOP_K))


SQL_ANN_IVF_PROBE = f"""
WITH e AS (
  SELECT vec_id, label, embedding::DOUBLE[] AS v FROM embeddings
), cents AS (
  SELECT vec_id AS cid, v AS cvec FROM e WHERE vec_id < {NLIST}
), scored AS (
  SELECT e.vec_id, e.label, e.v, c.cid,
         round(list_dot_product(e.v, c.cvec), 4) AS cdot
  FROM e CROSS JOIN cents c
), assigned AS (
  SELECT vec_id, label, v, cid FROM (
    SELECT *, row_number() OVER (PARTITION BY vec_id
                                 ORDER BY cdot DESC, cid) AS rk
    FROM scored) WHERE rk = 1
), qcells AS (
  SELECT a.v AS qvec, c.cid,
         round(list_dot_product(a.v, c.cvec), 4) AS qdot
  FROM assigned a CROSS JOIN cents c
  WHERE a.vec_id = {QUERY_VEC_ID}
  ORDER BY qdot DESC, c.cid LIMIT {NPROBE}
)
SELECT a.vec_id, a.label, a.cid,
       round(list_dot_product(a.v, q.qvec), 4) AS dot
FROM assigned a JOIN qcells q ON a.cid = q.cid
WHERE a.vec_id <> {QUERY_VEC_ID}
ORDER BY dot DESC, a.vec_id LIMIT {TOP_K}
"""


SAMPLE_MOD = 8              # recall eval: 1-in-SAMPLE_MOD hash-sampled queries
RECALL_EVAL_BITS = 4        # bucket width under eval: 2^bits ~ n/target_bucket
#   (500-vector corpus -> 16 buckets of ~31: a top-10 can actually fill;
#   the production 8-bit key would leave ~2 candidates per bucket here —
#   the eval measures the dial AT the corpus size it runs on)


def sampled_query_ids():
    """Deterministic hash-sample membership for the recall-eval probe set
    (~n/SAMPLE_MOD queries — ≥50 at sf0.01): the same stateless
    hash-mod filter as textstats.q_sample_stratified_hash, so the probe
    set is reproducible across runs/engines and its size scales with the
    corpus, never with a hardwired id list."""
    from .hashing import doc_lottery_col
    h = doc_lottery_col("vec_id")
    return F.pmod(h, F.lit(SAMPLE_MOD)) == 0


def q_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN quality evaluation: recall@k of the sign-bucketed ANN against
    brute-force ground truth over a HASH-SAMPLED probe set — 'measure,
    don't guess' as an operator, with the brute-force cost bounded by
    the sample, not the corpus.

    Both sides are batch-query joins (the decontam.q_decon_embedding_knn
    shape): the sampled probe frame (n/SAMPLE_MOD rows) is BROADCAST, so
    the corpus scans once per side and never shuffles for the join —
    brute side work is |sample| x |corpus| dot products (the bounded
    eval budget), ANN side is bucket collisions only. The probe filter
    is a derived hash expression, so it evaluates in the scan stage but
    cannot reach parquet row-group pruning (only raw-column predicates
    push down); a production run stores the sample key as a partition
    column to prune at the source. Recall = |truth ∩ approx| over all
    sampled queries. The |sample| × corpus dots run in the numpy fold
    kernel (bit-identical to the HOF fold; rounding stays JVM-side).

    Truth side: the sampled query vectors ride the mapInArrow closure
    as a matrix (the ivf_assign pattern — the probe set IS the eval's
    model), so the corpus makes ONE Arrow pass emitting |sample| raw
    dots per row; only narrow (pos, dot) pairs explode afterwards,
    JVM-side. The crossJoin form this replaced shipped BOTH embedding
    arrays per (corpus × sample) pair through the Python runner —
    ~dim× more Arrow traffic for identical doubles (fold_dot_matrix
    keeps the fold's operand and accumulation order; IEEE multiply is
    commutative, so vec·q == q·vec bit-for-bit)."""
    from .veckernel import fold_dot_matrix, fold_dots
    e = _emb(spark, sf_dir)
    q = (e.where(sampled_query_ids())
         .select(F.col("vec_id").alias("query_id"),
                 F.col("vec").alias("qvec"),
                 _sign_bucket("vec", RECALL_EVAL_BITS).alias("qbucket")))

    def topk(cands: DataFrame) -> DataFrame:
        rk = F.row_number().over(
            W.partitionBy("query_id")
            .orderBy(F.col("dot").desc(), F.col("vec_id")))
        return (cands.withColumn("rank", rk)
                .where(F.col("rank") <= TOP_K)
                .select("query_id", "vec_id"))

    def scored(paired: DataFrame) -> DataFrame:
        return fold_dots(paired, [("vec", "qvec", "_d")]).select(
            "query_id", "vec_id", F.round("_d", 4).alias("dot"))

    id_type = dict(e.dtypes)["vec_id"]
    qrows = sorted((r["query_id"], list(r["qvec"]))
                   for r in q.select("query_id", "qvec").collect())
    if qrows:
        idmap = spark.createDataFrame(
            [(i, qid) for i, (qid, _v) in enumerate(qrows)],
            f"pos int, query_id {id_type}")
        pairs = (fold_dot_matrix(e, "vec", [v for _qid, v in qrows],
                                 "qdots", keep=("vec_id",))
                 .select("vec_id", F.posexplode("qdots").alias("pos", "_d"))
                 .join(F.broadcast(idmap), "pos"))
        scored_t = (pairs.where(F.col("vec_id") != F.col("query_id"))
                    .select("query_id", "vec_id",
                            F.round("_d", 4).alias("dot")))
    else:                       # empty probe sample (tiny/hostile corpus)
        scored_t = spark.createDataFrame(
            [], f"query_id {id_type}, vec_id {id_type}, dot double")
    truth = topk(scored_t)
    approx = topk(scored(e.withColumn("bucket",
                                      _sign_bucket("vec", RECALL_EVAL_BITS))
                         .join(F.broadcast(q),
                               F.col("bucket") == F.col("qbucket"))
                         .where(F.col("vec_id") != F.col("query_id"))))
    hits = truth.join(approx, ["query_id", "vec_id"])
    # n_queries derived in-plan (brute truth always yields exactly K rows
    # per query on a corpus > K): no separate driver-side count() action
    t = truth.agg(F.count("*").alias("n_truth"))
    h = hits.agg(F.count("*").alias("n_hits"))
    return t.crossJoin(h).select(
        F.lit(TOP_K).alias("k"),
        (F.col("n_truth") / TOP_K).cast("long").alias("n_queries"),
        F.col("n_hits").cast("long").alias("n_hits"),
        F.round(F.col("n_hits") / F.col("n_truth"), 4)
        .alias("recall_at_k"))


def _sql_recall_eval() -> str:
    from .hashing import hex4_sql_duck
    bucket = _sql_sign_bucket(0, RECALL_EVAL_BITS) + "::INTEGER"
    sample = (hex4_sql_duck("md5(CAST(vec_id AS VARCHAR))")
              + f" % {SAMPLE_MOD} = 0")
    return f"""
WITH e AS (
  SELECT vec_id, embedding::DOUBLE[] AS v, {bucket} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, v AS qvec, bucket AS qbucket
  FROM e WHERE {sample}
), truth AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_dot_product(e.v, q.qvec), 4) DESC,
                      e.vec_id) AS rank
    FROM e CROSS JOIN q WHERE e.vec_id <> q.query_id)
  WHERE rank <= {TOP_K}
), approx AS (
  SELECT query_id, vec_id FROM (
    SELECT q.query_id, e.vec_id,
           row_number() OVER (PARTITION BY q.query_id
             ORDER BY round(list_dot_product(e.v, q.qvec), 4) DESC,
                      e.vec_id) AS rank
    FROM e JOIN q ON e.bucket = q.qbucket WHERE e.vec_id <> q.query_id)
  WHERE rank <= {TOP_K}
)
SELECT {TOP_K} AS k,
       ((SELECT count(*) FROM truth) / {TOP_K})::BIGINT AS n_queries,
       count(*)::BIGINT AS n_hits,
       round(count(*) / (SELECT count(*) FROM truth), 4)
         AS recall_at_k
FROM truth t JOIN approx a USING (query_id, vec_id)
"""


SQL_ANN_RECALL_EVAL = _sql_recall_eval()


REGISTRY = {
    "knn_brute_cosine": (q_knn_brute_cosine, SQL_KNN_BRUTE_COSINE),
    "ann_sign_buckets": (q_ann_sign_buckets, SQL_ANN_SIGN_BUCKETS),
    "ann_bucketed_knn": (q_ann_bucketed_knn, SQL_ANN_BUCKETED_KNN),
    "ann_recall_eval": (q_ann_recall_eval, SQL_ANN_RECALL_EVAL),
    "ann_ivf_probe": (q_ann_ivf_probe, SQL_ANN_IVF_PROBE),
}
