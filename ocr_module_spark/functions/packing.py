"""Sequence packing: curated documents → fixed-length training sequences.

The last transform a pretraining pipeline runs before the tokenizer sink:
concatenate the (shuffled) document token streams and split them into
fixed-SEQ_LEN training sequences, letting a document span two sequences
rather than padding (GPT-style concat-and-split packing — the reference's
A8 prompt assembly, ``azure_openai_repository.py:214-258``, is the same
"pack many small units into one fixed-budget payload" shape; here the
budget is the model context window instead of a prompt).

The operator emits the PACKING PLAN, not the packed text: one row per
(document × overlapping sequence) with the doc-relative token slice and
its offset inside the sequence. The sink that materializes token ids
joins this plan against the tokenized corpus and writes sequences; the
plan frame is what has to be exact, deterministic and cheap — text bytes
never ride its shuffles (same decision-frame discipline as
``dedup_keep_list`` / ``budget_select``).

Scale shape (the whole point at 10^12 documents):

* ONE shuffle: the running token offset is a window over the
  ``source`` partition key (url-host analogue — the same key the
  curation chain already partitions by, so a pipeline that just ran
  budget_select reuses the exchange). No global window, no driver-side
  order: sequences are numbered per source, so a 1000-executor cluster
  packs every host independently and writes per-host shards.
* The document order inside a source is ``hex4(md5(doc_id))`` — the
  suite's RNG-free shuffle (hashing.py): packing wants adjacent docs
  decorrelated (a training batch should not be one crawl directory in
  order), and the hash order is identical across runs, retries,
  parallelism levels, and engines — no ``rand()`` seed to lose.
* The explode is bounded: a document overlaps at most
  ``n_tokens // seq_len + 1`` sequences, so output rows ≈ corpus
  tokens / seq_len + n_docs — linear, no all-pairs anywhere.
* Skewed hosts: a single giant source serializes its own window; the
  ``salt_buckets`` dial splits it into independent exact streams keyed
  ``(source, hash % buckets)`` — off by default because an unskewed
  corpus prefers one tail sequence per host over one per bucket.

Sequence-boundary semantics: sequences are [seq_no*L, (seq_no+1)*L)
token windows over the concatenated per-source stream; the final
sequence of a source is short (callers pad or drop it — both engines
see the same fill, so the policy stays downstream).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from .hashing import doc_lottery_col, doc_lottery_sql_duck, hex4_col, hex4_sql_duck
from .textstats import _words

SEQ_LEN = 64      # tokens per packed sequence — testdata-sized; a real
                  # deployment dials 2048/4096/8192 (context window)


def pack_assignments(base: DataFrame, seq_len: int = SEQ_LEN,
                     key_col: str = "source",
                     salt_buckets: int = 0) -> DataFrame:
    """Packing plan over any ``(doc_id, <key_col>, n_tokens)`` frame.

    ``salt_buckets > 0`` is the hot-host dial: the window key becomes
    ``(key_col, hex4(md5(doc_id)) % salt_buckets)`` so a 10^9-page host
    packs as ``salt_buckets`` independent streams instead of one
    serialized window partition. Any disjoint partition of the documents
    is a valid packing (each bucket's sequences are internally exact);
    the cost is up to one short tail sequence per bucket instead of one
    per host. The salt rides in the output ``pack_salt`` column so
    (key, pack_salt, seq_no) stays a dense, shardable sequence id; the
    salt derives from the same engine-portable hash as the document
    order, so plans stay deterministic and oracle-able.

    Returns one row per (document × overlapping sequence):

    * ``source``/``key_col``, ``seq_no`` — the output sequence;
    * ``doc_id`` — the contributing document;
    * ``tok_start``/``tok_end`` — the doc-relative token slice
      [tok_start, tok_end) this sequence takes;
    * ``seq_off`` — where that slice lands inside the sequence.

    Zero-token documents pack nothing and are excluded (they were
    already dropped by the quality gate upstream).
    """
    keys = [key_col] + (["pack_salt"] if salt_buckets > 0 else [])
    w = (Window.partitionBy(*keys)
         .orderBy("h", "doc_id")
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    c = (base.where(F.col("n_tokens") > 0)
         .withColumn("h", doc_lottery_col()))
    if salt_buckets > 0:
        c = c.withColumn(
            "pack_salt", F.pmod("h", F.lit(salt_buckets)).cast("int"))
    c = (c.withColumn("end", F.sum("n_tokens").over(w).cast("long"))
         .withColumn("start", (F.col("end") - F.col("n_tokens"))
                     .cast("long")))
    seq_no = F.explode(F.sequence(
        F.expr(f"start div {seq_len}"),
        F.expr(f"(end - 1) div {seq_len}"))).alias("seq_no")
    e = c.select(*keys, "doc_id", "start", "end", seq_no)
    seq_lo = F.col("seq_no") * seq_len
    take_from = F.greatest(F.col("start"), seq_lo)
    take_to = F.least(F.col("end"), seq_lo + seq_len)
    return e.select(
        *keys, F.col("seq_no").cast("long").alias("seq_no"), "doc_id",
        (take_from - F.col("start")).cast("long").alias("tok_start"),
        (take_to - F.col("start")).cast("long").alias("tok_end"),
        (take_from - seq_lo).cast("long").alias("seq_off"))


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver/oracle surface: pack the documents table into SEQ_LEN-token
    sequences per source (whitespace tokens, the suite's token unit)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tokens = F.when(F.length(F.trim("text")) == 0, 0) \
        .otherwise(F.size(F.split(F.trim("text"), r"\s+"))).cast("long")
    base = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    return pack_assignments(base)


_H = doc_lottery_sql_duck()

SQL_PACK_SEQUENCES = f"""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           ::BIGINT AS n_tokens,
         {_H} AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         -- sum() OVER widens to HUGEINT in DuckDB; pin BIGINT so the
         -- range() unnest and the hash compare see the Spark types
         CAST(sum(n_tokens) OVER (PARTITION BY source ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS "end"
  FROM d WHERE n_tokens > 0
), s AS (
  SELECT doc_id, source, "end", "end" - n_tokens AS "start",
         unnest(range(("end" - n_tokens) // {SEQ_LEN},
                      ("end" - 1) // {SEQ_LEN} + 1)) AS seq_no
  FROM c
)
SELECT source, CAST(seq_no AS BIGINT) AS seq_no, doc_id,
       CAST(greatest("start", seq_no * {SEQ_LEN}) - "start" AS BIGINT)
         AS tok_start,
       CAST(least("end", seq_no * {SEQ_LEN} + {SEQ_LEN}) - "start" AS BIGINT)
         AS tok_end,
       CAST(greatest("start", seq_no * {SEQ_LEN}) - seq_no * {SEQ_LEN}
            AS BIGINT) AS seq_off
FROM s
"""


def packed_sequences_from_tokens(base: DataFrame,
                                 seq_len: int = SEQ_LEN,
                                 key_col: str = "source",
                                 checkpoint: bool = False,
                                 modality_col: str | None = None
                                 ) -> DataFrame:
    """Materialize packed sequences from a PRE-TOKENIZED frame: join the
    packing plan back to the per-document token arrays, slice each
    document's contribution, and assemble every sequence's stream in
    seq_off order.

    Input ``base`` is ``(doc_id, <key_col>, w)`` where ``w`` is the
    per-document token array — any element type (whitespace words for
    the oracle surface, BPE token ids via ``bpe.encode_corpus`` for the
    production sink). Output is one row per sequence: ``(<key_col>,
    seq_no, n_fill, tokens array<same element>, doc_starts
    array<long>)``. ``doc_starts`` holds the in-sequence offsets where
    a NEW document begins (continuations of split docs are not
    boundaries) — the attention-reset / loss-mask positions
    packed-batch training needs.

    Scale shape: the plan build is the one window exchange
    (pack_assignments), the join back is a doc_id equi-join (plan rows
    carry only ids and offsets — token payloads ride the join ONCE,
    never the window), and assembly is a single groupBy (key, seq_no)
    whose per-group payload is bounded by seq_len tokens. In-sequence
    order is reconstructed from seq_off via array_sort over
    (seq_off, piece) structs — no window, deterministic (one piece per
    doc per sequence, offsets are distinct by construction).

    ``checkpoint=True`` localCheckpoints the tokenized base so the plan
    branch and the join branch share one materialization (same dial as
    budget_select; default stays declarative for the oracle).

    ``modality_col``: when the base is MULTIMODAL (each row an item —
    text doc, image region, audio clip — tagged with a modality and
    costed in tokens), the output additionally carries
    ``start_modalities array<string>`` aligned 1:1 with ``doc_starts``,
    so the trainer's modality-boundary mask (which spans are text loss,
    which are image-embedding slots) falls out of the same aggregation
    at zero extra cost.
    """
    base = base.withColumn("n_tokens", F.size("w").cast("long"))
    if checkpoint:
        base = base.localCheckpoint(eager=False)
    plan = pack_assignments(
        base.select("doc_id", key_col, "n_tokens"), seq_len, key_col)
    side = ["doc_id", "w"] + ([modality_col] if modality_col else [])
    joined = plan.join(base.select(*side), "doc_id")
    piece = F.slice("w", F.col("tok_start").cast("int") + 1,
                    (F.col("tok_end") - F.col("tok_start")).cast("int"))
    # a document STARTS here only when the piece is the document's
    # own first slice — a split doc's continuation (tok_start > 0)
    # lands at seq_off 0 of the next sequence but is NOT a boundary
    start_payload = F.col("seq_off") if not modality_col else \
        F.struct(F.col("seq_off"), F.col(modality_col).alias("_m"))
    pieces = joined.select(
        key_col, "seq_no", "seq_off", piece.alias("piece"),
        F.when(F.col("tok_start") == 0, start_payload).alias("dstart"))
    # doc_starts: in-sequence offsets where a document begins — the
    # attention-reset / loss-mask boundaries a trainer consumes (cross-
    # document tokens must not attend to each other in packed batches);
    # same aggregation, zero extra cost
    assembled = pieces.groupBy(key_col, "seq_no").agg(
        F.flatten(F.transform(
            F.array_sort(F.collect_list(F.struct("seq_off", "piece"))),
            lambda s: s["piece"])).alias("tokens"),
        F.array_sort(F.collect_list("dstart")).alias("_starts"))
    starts = F.col("_starts") if not modality_col else \
        F.transform("_starts", lambda s: s["seq_off"])
    out = [key_col, "seq_no",
           F.size("tokens").cast("long").alias("n_fill"),
           F.col("tokens"), starts.alias("doc_starts")]
    if modality_col:
        out.append(F.transform("_starts", lambda s: s["_m"])
                   .alias("start_modalities"))
    return assembled.select(*out)


def packed_sequences(docs: DataFrame, seq_len: int = SEQ_LEN,
                     key_col: str = "source",
                     checkpoint: bool = False) -> DataFrame:
    """Whitespace-token surface over packed_sequences_from_tokens:
    input ``docs`` is ``(doc_id, <key_col>, text)`` — the oracle-able
    demo tokenization (a production sink feeds BPE ids instead, see
    ``bpe.packed_bpe_sequences``)."""
    base = docs.select("doc_id", key_col, _words().alias("w"))
    return packed_sequences_from_tokens(base, seq_len, key_col, checkpoint)


IMG_TOKEN_COST = 16   # context-window slots one image item occupies —
                      # testdata-sized; a deployment dials the vision
                      # encoder's patch-sequence length (e.g. 256/576)


def multimodal_pack_base(docs: DataFrame, media: DataFrame,
                         img_token_cost: int = IMG_TOKEN_COST,
                         key_col: str = "source") -> DataFrame:
    """Modality-tagged packing base ``(doc_id, <key_col>, modality, w)``
    over text documents UNIONed with media items — the multimodal
    training-sample assembly step.

    * text: ``docs (doc_id, <key_col>, text)`` → whitespace words,
      modality ``'text'``;
    * image: ``media (item_id, <key_col>)`` → ``img_token_cost``
      placeholder slots ``<img:item:j>`` (the positions a vision
      encoder's embeddings occupy in the packed batch — the id sink
      swaps them for embedding-slot sentinels), modality ``'image'``.

    Item ids are modality-prefixed (``txt:``/``img:``): ids can never
    collide across modalities, and the packing plan's portable-hash
    document order interleaves modalities within a source stream
    (training batches should not be all-text then all-image runs).
    Token COSTS, not payloads, drive the plan — image bytes never ride
    any shuffle (same decision-frame discipline as the text plan)."""
    wt = _words()
    text_base = docs.select(
        F.concat(F.lit("txt:"), F.col("doc_id").cast("string"))
        .alias("doc_id"),
        F.col(key_col), F.lit("text").alias("modality"), wt.alias("w"))
    slots = F.expr(
        f"transform(sequence(1, {img_token_cost}), "
        "j -> concat('<img:', item_id, ':', j, '>'))")
    media_base = media.select(
        F.concat(F.lit("img:"), F.col("item_id").cast("string"))
        .alias("doc_id"),
        F.col(key_col), F.lit("image").alias("modality"),
        slots.alias("w"))
    return text_base.unionByName(media_base)


def packed_multimodal_sequences(docs: DataFrame, media: DataFrame,
                                seq_len: int = SEQ_LEN,
                                key_col: str = "source",
                                img_token_cost: int = IMG_TOKEN_COST
                                ) -> DataFrame:
    """Multimodal packed sequences: ``(<key_col>, seq_no, n_fill,
    tokens, doc_starts, start_modalities)`` — text spans and image
    placeholder spans interleaved in one fixed-length stream, with the
    per-item boundary offsets AND their modalities (the loss/embedding
    mask). Same plan shape as text packing: ONE window exchange, one
    equi-join, one bounded groupBy."""
    base = multimodal_pack_base(docs, media, img_token_cost, key_col)
    return packed_sequences_from_tokens(
        base, seq_len, key_col, modality_col="modality")


def q_pack_materialize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle surface for the materialized sink: per-sequence fill and
    the md5 of the space-joined token stream (order-sensitive — any
    mis-assembly, wrong slice, or wrong offset changes the hash)."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    seqs = packed_sequences(d.select("doc_id", "source", "text"))
    starts = F.array_join(
        F.transform("doc_starts", lambda x: x.cast("string")), ",")
    return seqs.select(
        "source", "seq_no", "n_fill",
        F.md5(F.array_join("tokens", " ").cast("binary")).alias("seq_md5"),
        starts.alias("doc_starts_csv"))


SQL_PACK_MATERIALIZE = f"""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN []::VARCHAR[]
              ELSE string_split_regex(trim(text), '\\s+') END AS w,
         {_H} AS h
  FROM documents
), c AS (
  SELECT doc_id, source, w, len(w)::BIGINT AS n_tokens,
         CAST(sum(len(w)) OVER (PARTITION BY source ORDER BY h, doc_id
                                ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS "end"
  FROM d WHERE len(w) > 0
), s AS (
  SELECT doc_id, source, w, "end", "end" - n_tokens AS "start",
         unnest(range(("end" - n_tokens) // {SEQ_LEN},
                      ("end" - 1) // {SEQ_LEN} + 1)) AS seq_no
  FROM c
), p AS (
  SELECT source, seq_no, doc_id,
         greatest("start", seq_no * {SEQ_LEN}) - "start" AS tok_start,
         least("end", seq_no * {SEQ_LEN} + {SEQ_LEN}) - "start" AS tok_end,
         greatest("start", seq_no * {SEQ_LEN}) - seq_no * {SEQ_LEN}
           AS seq_off,
         w
  FROM s
)
SELECT source, CAST(seq_no AS BIGINT) AS seq_no,
       CAST(sum(tok_end - tok_start) AS BIGINT) AS n_fill,
       md5(string_agg(
             array_to_string(w[tok_start + 1 : tok_end], ' '), ' '
             ORDER BY seq_off)) AS seq_md5,
       coalesce(string_agg(
             CASE WHEN tok_start = 0 THEN CAST(seq_off AS VARCHAR) END,
             ',' ORDER BY seq_off), '') AS doc_starts_csv
FROM p
GROUP BY source, seq_no
"""


SALT_DEMO = 4       # oracle surface for the hot-host dial


def q_pack_sequences_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hot-host dial, value-verified cross-engine: same plan frame
    as q_pack_sequences but windowed per (source, h % SALT_DEMO) — the
    salt derives from the portable hash, so DuckDB mirrors it exactly."""
    d = spark.read.parquet(f"{sf_dir}/documents.parquet")
    n_tokens = F.when(F.length(F.trim("text")) == 0, 0) \
        .otherwise(F.size(F.split(F.trim("text"), r"\s+"))).cast("long")
    base = d.select("doc_id", "source", n_tokens.alias("n_tokens"))
    return pack_assignments(base, salt_buckets=SALT_DEMO)


SQL_PACK_SEQUENCES_SALTED = f"""
WITH d AS (
  SELECT doc_id, source,
         CASE WHEN length(trim(text)) = 0 THEN 0
              ELSE len(string_split_regex(trim(text), '\\s+')) END
           ::BIGINT AS n_tokens,
         {_H} AS h
  FROM documents
), c AS (
  SELECT doc_id, source, n_tokens,
         CAST(h % {SALT_DEMO} AS INTEGER) AS pack_salt,
         CAST(sum(n_tokens) OVER (PARTITION BY source, h % {SALT_DEMO}
                                  ORDER BY h, doc_id
                                  ROWS UNBOUNDED PRECEDING) AS BIGINT)
           AS "end"
  FROM d WHERE n_tokens > 0
), s AS (
  SELECT doc_id, source, pack_salt, "end", "end" - n_tokens AS "start",
         unnest(range(("end" - n_tokens) // {SEQ_LEN},
                      ("end" - 1) // {SEQ_LEN} + 1)) AS seq_no
  FROM c
)
SELECT source, pack_salt, CAST(seq_no AS BIGINT) AS seq_no, doc_id,
       CAST(greatest("start", seq_no * {SEQ_LEN}) - "start" AS BIGINT)
         AS tok_start,
       CAST(least("end", seq_no * {SEQ_LEN} + {SEQ_LEN}) - "start" AS BIGINT)
         AS tok_end,
       CAST(greatest("start", seq_no * {SEQ_LEN}) - seq_no * {SEQ_LEN}
            AS BIGINT) AS seq_off
FROM s
"""


N_SHARDS = 8      # testdata-sized; a deployment dials shards so
                  # corpus_bytes / n_shards hits the target file size


def shard_assignments(plan: DataFrame, n_shards: int = N_SHARDS,
                      key_col: str = "source",
                      salt_col: str | None = None) -> DataFrame:
    """Training-shard assignment over a packing plan — the last-mile
    step between :func:`pack_assignments` and the data-loader files:
    every packed sequence gets a ``shard_id`` (which output file) and a
    ``pos_in_shard`` (its read order inside that file), both
    deterministic functions of the data alone.

    * ``shard_id = hex4(md5(key '#' seq_no)) % n_shards`` — the
      engine-portable hash, so shard membership is identical across
      runs, retries, parallelism levels, and engines, and uniform by
      construction (no hot shard possible: the hash decorrelates the
      sequence id from the host that produced it, which ALSO means one
      host's sequences scatter across shards — a data loader reading
      any one shard sees an unbiased corpus sample).
    * ``pos_in_shard`` = dense 0-based rank by (hash, key, seq_no)
      inside the shard — the within-shard read order is itself the
      RNG-free shuffle (same discipline as the packing doc order).

    Scale shape: sequence grain is ONE partial-aggregated groupBy of
    the plan (rows ≈ corpus_tokens / seq_len; ids and counts only —
    token payloads never enter); the shard hash is a projection; the
    rank is ONE window exchange on ``shard_id`` whose per-shard
    partition is exactly one output file's worth of rows — the same
    rows a single writer task must serialize anyway, and ``n_shards``
    is dialed by target file size, so the window partition fits a task
    by construction.

    Input is any frame with ``(key_col, seq_no, tok_start, tok_end)``
    at (doc × sequence) grain; output is one row per sequence:
    ``(key_col[, salt_col], seq_no, n_fill, n_docs, shard_id,
    pos_in_shard)``. ``salt_col`` extends the sequence identity for
    salted packing plans (seq_no restarts per salt bucket — the same
    key discipline as the CLI's sequences_packed counter).
    """
    gkeys = [key_col] + ([salt_col] if salt_col else []) + ["seq_no"]
    seqs = (plan.groupBy(*gkeys)
            .agg(F.sum(F.col("tok_end") - F.col("tok_start"))
                 .cast("long").alias("n_fill"),
                 F.count(F.lit(1)).cast("long").alias("n_docs")))
    return shard_sequences(seqs, n_shards, key_col, salt_col)


def shard_sequences(seqs: DataFrame, n_shards: int = N_SHARDS,
                    key_col: str = "source",
                    salt_col: str | None = None) -> DataFrame:
    """The shard identity over an ALREADY sequence-grain frame (e.g.
    the materialized output of packed_sequences_from_tokens /
    packed_bpe_sequences): same hash and in-shard order as
    :func:`shard_assignments`, which aggregates a PLAN to sequence
    grain first — the two agree row-for-row on the same corpus
    (test-pinned), so a loader can shard either artifact."""
    gkeys = [key_col] + ([salt_col] if salt_col else []) + ["seq_no"]
    h = hex4_col(F.md5(F.concat_ws(
        "#", *[F.col(k).cast("string") for k in gkeys])
        .cast("binary")))
    w = (Window.partitionBy("shard_id")
         .orderBy("_h", *gkeys))
    return (seqs
            .withColumn("_h", h)
            .withColumn("shard_id",
                        F.pmod("_h", F.lit(n_shards)).cast("int"))
            .withColumn("pos_in_shard",
                        (F.row_number().over(w) - 1).cast("long"))
            .drop("_h"))


def write_training_shards(seqs: DataFrame, out_dir: str,
                          n_shards: int = N_SHARDS,
                          key_col: str = "source",
                          salt_col: str | None = None) -> dict:
    """The data-loader files themselves: shard the materialized
    sequences (:func:`shard_sequences`) and write ``<out>/data``
    partitioned by ``shard_id`` with rows sorted by ``pos_in_shard``
    inside every file, plus the ``<out>/manifest`` rollup (the frame a
    loader reads before opening any shard). Returns the accounting
    dict ``{shards, sequences, tokens}``.

    Write shape: one repartition on ``shard_id`` + an in-task sort —
    each shard is one writer task's rows by construction (``n_shards``
    is dialed by target file size), so every shard directory holds
    ordered files; a loader that concatenates a shard's files in
    filename order and trusts ``pos_in_shard`` (also stored per row)
    gets the deterministic global read order with zero shuffling on
    its side."""
    out = out_dir.rstrip("/")
    sharded = shard_sequences(seqs, n_shards, key_col, salt_col)
    (sharded.repartition("shard_id")
     .sortWithinPartitions("shard_id", "pos_in_shard")
     .write.mode("overwrite").partitionBy("shard_id")
     .parquet(f"{out}/data"))
    manifest = shard_manifest(
        seqs.sparkSession.read.parquet(f"{out}/data"))
    manifest.coalesce(1).write.mode("overwrite") \
        .parquet(f"{out}/manifest")
    rows = manifest.collect()       # driver collect bound: n_shards rows
    return {"shards": len(rows),
            "sequences": int(sum(r["n_sequences"] for r in rows)),
            "tokens": int(sum(r["n_tokens"] for r in rows))}


def shard_manifest(sharded: DataFrame) -> DataFrame:
    """Per-shard rollup of a :func:`shard_assignments` frame — the
    manifest a data loader reads before opening any shard file:
    ``(shard_id, n_sequences, n_tokens)``. One partial-aggregated
    groupBy over the (already tiny) sequence-grain frame."""
    return (sharded.groupBy("shard_id")
            .agg(F.count(F.lit(1)).cast("long").alias("n_sequences"),
                 F.sum("n_fill").cast("long").alias("n_tokens")))


def q_curate_shards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle surface: shard the q_pack_sequences plan into N_SHARDS
    training shards."""
    return shard_assignments(q_pack_sequences(spark, sf_dir))


def q_curate_shards_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Oracle surface for the SALTED shard identity: the sequence key is
    (source, pack_salt, seq_no) — the salt must ride the shard hash AND
    the in-shard order, or sequences from different salt buckets of one
    host would collide into one (shard, pos) stream."""
    return shard_assignments(q_pack_sequences_salted(spark, sf_dir),
                             salt_col="pack_salt")


_SH = hex4_sql_duck(
    "md5(concat_ws('#', source, CAST(seq_no AS VARCHAR)))")

SQL_CURATE_SHARDS = f"""
WITH plan AS ({SQL_PACK_SEQUENCES}
), seqs AS (
  SELECT source, seq_no,
         CAST(sum(tok_end - tok_start) AS BIGINT) AS n_fill,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM plan GROUP BY source, seq_no
), sh AS (
  SELECT *, {_SH} AS h FROM seqs
)
SELECT source, seq_no, n_fill, n_docs,
       CAST(h % {N_SHARDS} AS INTEGER) AS shard_id,
       CAST(row_number() OVER (
              PARTITION BY h % {N_SHARDS}
              ORDER BY h, source ASC NULLS FIRST, seq_no) - 1
            AS BIGINT) AS pos_in_shard
FROM sh
"""


_SH3 = hex4_sql_duck(
    "md5(concat_ws('#', source, CAST(pack_salt AS VARCHAR),"
    " CAST(seq_no AS VARCHAR)))")

SQL_CURATE_SHARDS_SALTED = f"""
WITH plan AS ({SQL_PACK_SEQUENCES_SALTED}
), seqs AS (
  SELECT source, pack_salt, seq_no,
         CAST(sum(tok_end - tok_start) AS BIGINT) AS n_fill,
         CAST(count(*) AS BIGINT) AS n_docs
  FROM plan GROUP BY source, pack_salt, seq_no
), sh AS (
  SELECT *, {_SH3} AS h FROM seqs
)
SELECT source, pack_salt, seq_no, n_fill, n_docs,
       CAST(h % {N_SHARDS} AS INTEGER) AS shard_id,
       CAST(row_number() OVER (
              PARTITION BY h % {N_SHARDS}
              ORDER BY h, source ASC NULLS FIRST, pack_salt, seq_no) - 1
            AS BIGINT) AS pos_in_shard
FROM sh
"""


REGISTRY = {
    "curate_pack_sequences": (q_pack_sequences, SQL_PACK_SEQUENCES),
    "curate_pack_salted": (q_pack_sequences_salted,
                           SQL_PACK_SEQUENCES_SALTED),
    "curate_pack_materialize": (q_pack_materialize, SQL_PACK_MATERIALIZE),
    "curate_shards": (q_curate_shards, SQL_CURATE_SHARDS),
    "curate_shards_salted": (q_curate_shards_salted,
                             SQL_CURATE_SHARDS_SALTED),
}
