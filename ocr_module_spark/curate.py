"""End-to-end corpus curation: the composed pipeline this engine exists
for, as one library call —

    pages (url, warc_ts, html, text, lang)
      → main-content extraction        (pipeline.extract — one Arrow stage)
      → quality gate                   (textstats.qf_reasons, Gopher-style)
      → near-dup keep-list             (dedup.dedup_decision_frame, MinHash-LSH → CC)
      → eval-set decontamination       (decontam.ngram_hits_frame, shingle join)
      → token-budget mixture selection (mix_from_audit, optional final stage)
      → curated corpus + per-stage counters

plus the optional training-sink stages the CLI chains after it:
leakage-safe host splits (split_from_curated), temperature-sampled
mixture epochs (mixture_from_curated), sequence packing
(pack_plan_from_curated) and training-shard assignment
(shards_from_pack_plan).

Every stage is the same DataFrame builder the driver registry checks in
isolation (50/50 DuckDB-parity green); this module only CHAINS them, so
the composition inherits each stage's scale shape: extraction never
shuffles raw bytes, the quality gate is a scan-speed projection, the
signature build is shuffle-free, the dedup/contamination decisions are
broadcast-sized frames joined back on doc_id. The quality gate is the
one stage not called through its registry frame: its verdict (the
``qf_reasons`` bitmask ``quality_frame``'s ``keep`` is made of) is a
column of the checkpointed docs, so the later gates filter that frame
instead of joining a quality frame back onto it. ``tools/curate.py`` is
the spark-submit CLI.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from . import pipeline
from .functions.decontam import contaminated, ngram_hits_frame
from .functions.dedup import dedup_decision_frame, span_dedup_text
from .functions.textstats import (_words, budget_select, pii_scrub,
                                  qf_reasons, tier_expr)


def curate(spark: SparkSession, pages: DataFrame,
           bench_docs: DataFrame,
           model_weights: DataFrame | None = None,
           langid: bool = False,
           normalize: bool = False) \
        -> tuple[DataFrame, DataFrame]:
    """Run the full curation chain. Returns ``(curated, audit)``:

    * ``curated`` — (url, text, n_tokens) of documents that survive
      every gate, ready for the training sink;
    * ``audit`` — one row per extracted document with its per-stage
      verdicts (quality_keep, dup_keep, contaminated, kept) — the frame
      per-stage counters and drop-reason dashboards aggregate from.

    ``bench_docs`` is the (doc_id, text) benchmark/eval table to
    decontaminate against.

    ``model_weights`` (optional) is a trained (word, w_x1000) classifier
    table (functions/model_score): when given, the quality gate is the
    AND of the rule-based Gopher filter and the model's keep verdict —
    the CCNet-recipe combination, landing in the audit's
    ``quality_keep`` column. The broadcast-join scoring adds no corpus
    shuffle (see model_score).

    ``langid=True`` appends a label-verification stage (functions/
    langid): the char-trigram posterior grid self-trains on the crawl's
    own ``lang`` labels over the EXTRACTED text, every document is
    re-classified, and the audit gains three columns — ``lang`` (crawl
    label), ``pred_lang`` ('und' when no in-vocabulary trigram), and
    ``lang_agree``. Verification, not a gate: mismatches are counted
    (stage_counters), never dropped — label repair is a downstream
    policy decision. Production trains once on a hash sample and
    persists the grid (train_langid_weights); the self-train here is
    the demo path, same convention as model_score's weights_frame.

    ``normalize=True`` inserts the unicode canon + mojibake-repair pass
    (functions/textnorm) between extraction and every gate, so quality
    ratios, line dedup and packing all see one normal form ("café" ==
    "cafe\\u0301" == "cafÃ©"). Opt-in: the default path keeps the
    extraction invariant byte-exact (BASELINE.json — byte-identical
    text per url vs the reference). The pass fuses into the extraction
    Arrow stage (zero extra exchanges); the audit gains
    ``norm_changed``/``norm_repaired`` and stage_counters reports
    ``docs_normalized``/``docs_mojibake_repaired``.
    """
    extracted = pipeline.extract(pages).select("url", "text")
    norm_cols: list = []
    if normalize:
        from .functions.textnorm import normalize_docs
        extracted = normalize_docs(extracted)
        norm_cols = ["norm_changed", "norm_repaired"]
    # the unique url IS the doc key (the dedup/decon machinery only needs
    # a totally-ordered doc_id: min() picks the lexicographically first
    # url as the cluster canonical). A hashed key would be narrower on
    # the shuffle wire but collides at ~n^2/2^65 — at the 10^12-doc
    # design point that is tens of thousands of silently-merged docs
    # quality_keep is quality_frame's keep (same bitmask, same words),
    # computed in the checkpoint so no gate joins it back on doc_id
    docs = (extracted
            .select(F.col("url").alias("doc_id"), "url", "text",
                    *norm_cols)
            .withColumn("w", _words())
            .withColumn("quality_keep", qf_reasons() == 0)
            .drop("w"))
    # consumers below: the dedup and decontamination gates (through
    # passing), the audit base, and the optional model and langid stages
    docs = docs.localCheckpoint(eager=True)

    gated = docs
    if model_weights is not None:
        from .functions.model_score import score_frame
        model = score_frame(docs, model_weights).select(
            "doc_id", F.col("keep").alias("model_keep"))
        gated = (docs.join(model, "doc_id", "left")
                 .withColumn("quality_keep",
                             F.col("quality_keep")
                             & F.coalesce("model_keep", F.lit(False)))
                 .drop("model_keep"))
    passing = gated.where(F.col("quality_keep"))

    dup = dedup_decision_frame(passing).withColumnRenamed(
        "keep", "dup_keep")
    # only the docs with a shingle: the audit's coalesce gives the rest
    # the verdict ngram_flags_frame gives them (false)
    flags = ngram_hits_frame(passing, bench_docs).select(
        "doc_id", contaminated(F.col("n_shingles"), F.col("n_hits"))
        .alias("contaminated"))

    base = (gated.join(dup, "doc_id", "left")
            .join(flags, "doc_id", "left"))
    cols = ["url", "text", "quality_keep",
            F.coalesce("dup_keep", F.lit(False)).alias("dup_keep"),
            F.coalesce("contaminated", F.lit(False)).alias("contaminated"),
            *norm_cols]
    if langid:
        from .functions.langid import (langid_score_frame,
                                       train_langid_weights)
        labeled = (docs.join(pages.select("url", "lang"), "url", "left")
                   .select("doc_id", "text", "lang"))
        grid = train_langid_weights(labeled)
        preds = langid_score_frame(docs, grid) \
            .select("doc_id", "pred_lang")
        base = (base.join(pages.select("url", "lang"), "url", "left")
                .join(preds, "doc_id", "left"))
        pred = F.coalesce("pred_lang", F.lit("und"))
        # a doc with NO crawl label can neither agree nor mismatch:
        # lang_agree stays NULL (stage_counters counts neither way) —
        # coalescing the label to 'und' would report every unlabeled doc
        # as a mismatch whenever the classifier finds a language
        cols += ["lang", pred.alias("pred_lang"),
                 F.when(F.col("lang").isNull(),
                        F.lit(None).cast("boolean"))
                 .otherwise(F.col("lang") == pred).alias("lang_agree")]
    audit = base.select(*cols).withColumn(
        "kept",
        F.col("quality_keep") & F.col("dup_keep")
        & ~F.col("contaminated"))
    return curated_from_audit(audit), audit


def curated_from_audit(audit: DataFrame, scrub: bool = False,
                       span_dedup: bool = False,
                       strip_boiler: bool = False,
                       line_filter: bool = False,
                       exact_substr: bool = False,
                       boiler_flags: DataFrame | None = None) -> DataFrame:
    """(url, text, n_tokens) of the surviving documents. Callers that
    materialize the audit (localCheckpoint / write) should derive the
    curated output from THAT frame — deriving it from the pre-checkpoint
    plan re-executes the whole decision pipeline a second time.

    ``span_dedup=True`` additionally rewrites the kept text through
    C4-style exact span dedup (dedup.span_dedup_text) across the
    SURVIVING corpus — document-level dedup drops whole near-dup docs,
    span dedup then strips the cross-document boilerplate the doc-level
    pass cannot see. n_tokens counts the emitted (post-span-dedup) text,
    because removed spans genuinely leave the token budget.

    ``scrub=True`` redacts PII (email/IPv4/phone, textstats.pii_scrub)
    from the emitted text — the production default for a training sink;
    off here because the repo's headline invariant is byte-identical
    extracted text per url vs the reference. n_tokens is counted BEFORE
    redaction (the token-budget number must not change with the
    redaction dial).

    ``strip_boiler=True`` first rewrites the kept text through
    host-level boilerplate line stripping (functions/linededup,
    grouped on url_host) — the CCNet-style pass that removes lines
    repeated across most pages of a host. It runs BEFORE span dedup:
    line-grain host-local boilerplate first, then the span-grain
    cross-corpus pass over what remains. n_tokens counts the emitted
    text for the same reason as span dedup — removed lines leave the
    token budget.

    ``line_filter=True`` then applies the C4/RefinedWeb line-wise rules
    (functions/linededup.line_quality_filter — nav fragments,
    mainly-uppercase/digit lines, policy phrases leave the text;
    zero-exchange projection) and DROPS documents whose ``doc_drop``
    verdict fires (most of the doc was junk lines). The full RefinedWeb
    order is strip_boiler → line_filter → span_dedup: host-repetition
    first, rule-based line noise second, cross-corpus spans last.

    ``exact_substr=True`` finishes with the ExactSubstr pass
    (functions/exactsubstr) — arbitrary-alignment duplicated runs of
    >= MIN_RUN words that the disjoint-span grain cannot see are
    removed from every non-canonical occurrence. It runs LAST: the
    coarser passes shrink the corpus the winnowing anchors scan."""
    kept = audit.where("kept").select("url", "text")
    if strip_boiler:
        from .functions.linededup import strip_boilerplate_lines
        from .pipeline import with_host
        # boiler_flags: a precomputed/checkpointed flagged_lines frame —
        # tools/curate.py passes the one its flag counters ride on, so
        # the exploded-lines aggregation runs once, not per consumer
        kept = (strip_boilerplate_lines(
                    with_host(kept), group_col="url_host", key_col="url",
                    flags=boiler_flags)
                .select("url", F.col("text_clean").alias("text")))
    if line_filter:
        from .functions.linededup import line_quality_filter
        kept = (line_quality_filter(kept)
                .where(~F.col("doc_drop"))
                .select("url", F.col("text_filtered").alias("text")))
    if span_dedup:
        # url is the totally-ordered doc key, same as curate()'s chain
        kept = (span_dedup_text(
            kept.select(F.col("url").alias("doc_id"), "text"))
            .select(F.col("doc_id").alias("url"), "text"))
    if exact_substr:
        from .functions.exactsubstr import exact_substr_text
        kept = (exact_substr_text(
            kept.select(F.col("url").alias("doc_id"), "text"))
            .select(F.col("doc_id").alias("url"), "text"))
    n_tokens = F.when(F.length("text") == 0, 0).otherwise(
        F.size(F.split(F.trim("text"), r"\s+")))
    kept = kept.select("url", "text", n_tokens.alias("n_tokens"))
    return pii_scrub(kept) if scrub else kept


def mix_from_audit(audit: DataFrame,
                   budgets: dict[str, int] | None = None) -> DataFrame:
    """Token-budget mixture selection over the curation survivors — the
    final stage that turns a curated corpus into a training mix. Keyed
    on the url HOST (the crawl-skew axis the north_rule names): no host
    contributes more than the cap, then each quality tier's token
    budget fills deterministically (textstats.budget_select — salted
    two-phase cap, bucketed prefix-sum cutoff, no tier-only window).

    Returns ``(url, tier, n_tokens, cum_tokens)`` — a decision frame to
    equi-join the curated output against; text bytes never ride the
    mix's window shuffles.
    """
    kept = pipeline.with_host(audit.where("kept").select("url", "text"))
    d = kept.withColumn("w", _words())
    base = d.select(F.col("url").alias("doc_id"),
                    F.col("url_host").alias("source"),
                    tier_expr().alias("tier"),
                    F.coalesce(F.size("w"), F.lit(0)).cast("long")
                    .alias("n_tokens"))
    return budget_select(base, budgets, checkpoint=True).select(
        F.col("doc_id").alias("url"), "tier", "n_tokens", "cum_tokens")


def pack_plan_from_curated(curated: DataFrame,
                           seq_len: int | None = None,
                           salt_buckets: int = 0) -> DataFrame:
    """Sequence-packing plan over the curated output — the step that
    turns the curated corpus into fixed-length training sequences
    (functions/packing.pack_assignments). Keyed on the url HOST, the
    same partition key the mix stage uses, so sequences shard by host
    and the window reuses the crawl-skew axis the north_rule names.

    Input is ``(url, text, n_tokens)`` from :func:`curated_from_audit`
    (n_tokens already counts the POST-span-dedup text when that dial is
    on — removed spans genuinely leave the packing stream). Returns the
    plan frame ``(url_host, seq_no, url, tok_start, tok_end, seq_off)``;
    the token-id sink joins it back against the tokenized text, so text
    bytes never ride the packing shuffle.
    """
    from .functions.packing import SEQ_LEN, pack_assignments
    base = pipeline.with_host(curated).select(
        F.col("url").alias("doc_id"),
        F.col("url_host").alias("source"), "n_tokens")
    plan = pack_assignments(base, seq_len or SEQ_LEN,
                            salt_buckets=salt_buckets)
    salt = ["pack_salt"] if salt_buckets > 0 else []
    return plan.select(F.col("source").alias("url_host"), *salt,
                       "seq_no", F.col("doc_id").alias("url"),
                       "tok_start", "tok_end", "seq_off")


def split_from_curated(curated: DataFrame) -> DataFrame:
    """Leakage-safe train/val/test labels over the curated output,
    keyed on the url HOST (functions/splits): within-host near-dups can
    never straddle the eval boundary, and the next snapshot keeps every
    known host in its old split. Returns the input columns plus
    ``split`` — a zero-shuffle projection; the CLI restricts every
    downstream TRAINING artifact (mixture, packs, BPE) to the train
    split so eval rows never leak into the sink."""
    from .functions.splits import split_expr
    return (pipeline.with_host(curated)
            .withColumn("split", split_expr("url_host"))
            .drop("url_host"))


def dsir_from_curated(curated: DataFrame, pages: DataFrame,
                      target_lang: str = "en", k: int = 1000) -> DataFrame:
    """DSIR importance selection over the curation survivors
    (functions/dsir): rank every curated document by how well its
    hashed-n-gram distribution matches the ``target_lang`` slice and
    keep the Gumbel-top-k — the domain-targeting stage (Xie et al.
    2023) that runs AFTER the quality/dedup/decontamination gates and
    BEFORE the budget/mixture stages (select the domain first, then
    weigh what survived). Returns the decision frame ``(url, logw,
    key)`` — equi-join the curated output against it; text bytes never
    ride the selection's shuffles (grams hash to integer buckets before
    the first exchange). The crawl ``lang`` label comes from the pages
    table; unlabeled docs score against the raw model only (they can
    be selected, never contribute to the target model)."""
    from .functions.dsir import dsir_select
    labeled = (curated.select("url", "text")
               .join(pages.select("url", "lang"), "url", "left"))
    docs = labeled.select(F.col("url").alias("doc_id"), "lang", "text")
    return (dsir_select(docs, target_lang=target_lang, k=k,
                        checkpoint=True)
            .select(F.col("doc_id").alias("url"), "logw", "key"))


def mixture_from_curated(curated: DataFrame, budget: int) -> DataFrame:
    """Temperature-sampled mixture over the curated output
    (functions/mixture): groups are the quality tiers (low excluded —
    quality gate first, mixture second), alpha = 0.5, per-doc repeats by
    deterministic hash lottery. Returns ``(url, tier, n_tokens,
    target_tokens, epochs_x1000, n_repeats)`` — n_repeats > 1 upsamples
    a doc for the packer (mixture.epoch_assignments), 0 subsamples it
    out. ``n_tokens`` is the curated frame's own count (post span-dedup
    when that dial is on). Complementary to :func:`mix_from_audit`:
    budget-mix TRUNCATES to a budget, mixture REWEIGHTS toward one.

    The tier is computed from the curated frame's EMITTED text —
    deliberately: the mixture weighs what the trainer will actually
    see, so with the scrub/span-dedup dials on a doc's tier here can
    differ from the raw-text tier the quality gate (and mix_from_audit)
    used; docs tiering 'low' on the emitted text drop out of the
    mixture, and the CLI surfaces that as ``docs_mixture_excluded``."""
    from .functions.mixture import doc_repeats
    d = curated.withColumn("w", _words())
    base = (d.select(F.col("url").alias("doc_id"),
                     tier_expr().alias("tier"),
                     F.col("n_tokens").cast("long").alias("n_tokens"))
            .where(F.col("tier") != "low"))
    return doc_repeats(base, ("tier",), budget=budget,
                       checkpoint=True) \
        .select(F.col("doc_id").alias("url"), "tier", "n_tokens",
                "target_tokens", "epochs_x1000", "n_repeats")


def pack_plan_from_mixture(curated: DataFrame, mixt: DataFrame,
                           seq_len: int | None = None,
                           salt_buckets: int = 0) -> DataFrame:
    """Sequence-packing plan over the REWEIGHTED corpus: join the
    mixture's per-doc repeat counts back onto the curated frame (an
    equi-join on url — the mixture frame is doc-grain ids and counts,
    text never enters), explode to training-pass grain and pack each
    pass as its own item (mixture.pack_base_from_epochs — item id
    ``url#epoch_no``). The returned plan has the same schema as
    :func:`pack_plan_from_curated` with the item id in ``url``; an
    upsampled document appears once per epoch at hash-distinct
    positions, a subsampled-out one never enters the stream."""
    from .functions.mixture import pack_base_from_epochs
    from .functions.packing import SEQ_LEN, pack_assignments
    base = (pipeline.with_host(curated)
            .select(F.col("url").alias("doc_id"),
                    F.col("url_host").alias("source"))
            .join(mixt.select(F.col("url").alias("doc_id"), "n_tokens",
                              "n_repeats"), "doc_id"))
    plan = pack_assignments(pack_base_from_epochs(base),
                            seq_len or SEQ_LEN, salt_buckets=salt_buckets)
    salt = ["pack_salt"] if salt_buckets > 0 else []
    return plan.select(F.col("source").alias("url_host"), *salt,
                       "seq_no", F.col("doc_id").alias("url"),
                       "tok_start", "tok_end", "seq_off")


def shards_from_pack_plan(plan: DataFrame, n_shards: int,
                          salted: bool = False) -> DataFrame:
    """Training-shard assignment over the CLI's pack-plan artifact
    (functions/packing.shard_assignments on the ``url_host`` key;
    ``salted=True`` when the plan was built with --pack-salt, so the
    sequence identity includes the salt bucket)."""
    from .functions.packing import shard_assignments
    return shard_assignments(plan, n_shards=n_shards, key_col="url_host",
                             salt_col="pack_salt" if salted else None)


def stage_counters(audit: DataFrame) -> dict:
    """Per-stage drop accounting from the audit frame, one aggregation
    job: every count is derived from the same verdict columns the rows
    carry, so the numbers always sum (docs_extracted = kept + each
    drop-stage count)."""
    def n(cond, name):
        # coalesce: F.sum over ZERO rows is NULL — an empty corpus must
        # report zeros, not crash int(None)
        return F.coalesce(F.sum(F.when(cond, 1).otherwise(0)),
                          F.lit(0)).alias(name)

    aggs = [
        F.count("*").alias("docs_extracted"),
        n(~F.col("quality_keep"), "dropped_quality"),
        n(F.col("quality_keep") & ~F.col("dup_keep"),
          "dropped_duplicate"),
        n(F.col("quality_keep") & F.col("dup_keep")
          & F.col("contaminated"), "dropped_contaminated"),
        n(F.col("kept"), "docs_kept"),
    ]
    if "lang_agree" in audit.columns:
        # verification rollup (curate(langid=True)): mismatches counted,
        # never dropped — so these do NOT enter the sum invariant above
        aggs.append(n(~F.col("lang_agree"), "docs_lang_mismatch"))
        aggs.append(n(F.col("pred_lang") == "und", "docs_lang_und"))
    if "norm_changed" in audit.columns:
        # normalization rollup (curate(normalize=True)): repair is a
        # rewrite, not a drop — outside the sum invariant like langid
        aggs.append(n(F.col("norm_changed"), "docs_normalized"))
        aggs.append(n(F.col("norm_repaired"), "docs_mojibake_repaired"))
    row = audit.agg(*aggs).first()
    return {k: int(row[k]) for k in row.asDict()}
