"""End-to-end corpus curation CLI (spark-submit entry point).

    spark-submit --py-files pkg.zip tools/curate.py \
        --input  <pages.parquet>        # (url, warc_ts, html, text, lang)
        --bench  <bench_docs.parquet>   # (doc_id, text) eval/benchmark set
        --output <dir>                  # curated parquet + audit + stats

Runs extraction → quality gate → near-dup keep-list → eval-set
decontamination (ocr_module_spark.curate) and writes:

* ``<out>/curated``  — (url, text, n_tokens) surviving documents
* ``<out>/audit``    — per-document stage verdicts (drop-reason dashboard)
* ``<out>/mix``      — (url, tier, n_tokens, cum_tokens) token-budget
  mixture selection (``--budget-mix``; curated is restricted to it)
* ``<out>/dsir``     — (url, logw, key) DSIR importance-resampling
  decision frame toward ``--dsir-target``'s language slice
  (``--dsir K``; curated is restricted to the K selected docs)
* ``<out>/packs``    — (url_host, seq_no, url, tok_start, tok_end,
  seq_off) sequence-packing plan (``--pack SEQ_LEN``; ``--pack-salt``
  splits hot hosts into independent streams)
* ``<out>/bpe_merges`` — (merge_no, a, b) trained BPE merge table
  (``--train-bpe N``)
* ``<out>/hosts``     — host-grain verdict rollup + crawl blocklist
  (``--host-stats``)
* ``<out>/hostgraph`` — (host, rank_x, in_hosts, out_hosts) host-level
  webgraph PageRank from the raw pages' out-links (``--link-graph``)
* ``<out>/token_ids`` — (url, token_ids, n_bpe) the curated corpus
  encoded with the trained merges (``--encode-bpe``)
* ``<out>/packs_bpe`` — (url_host, seq_no, n_fill, tokens, doc_starts)
  token-ID training sequences (``--encode-bpe`` + ``--pack``)
* ``<out>/mixture``  — (url, tier, n_tokens, target_tokens,
  epochs_x1000, n_repeats) temperature-sampled mixture plan + per-doc
  repeats (``--mixture BUDGET``)
* ``<out>/shards``   — (url_host[, pack_salt], seq_no, n_fill, n_docs,
  shard_id, pos_in_shard) training-shard assignment over the pack plan
  (``--shards N``, requires ``--pack``)
* ``<out>/shards_bpe`` — the data-loader files: token-ID sequences
  partitioned by shard_id, pos-ordered inside every file, with a
  manifest (``--shards`` + ``--encode-bpe``)
* ``<out>/wet``      — the curated text as WET-style WARC containers
  + manifest (``--wet``; ``--wet-files`` dials the container count)
* ``<out>/embeddings`` — (url, emb array<long>) feature-hash document
  embeddings of the curated output (``--embed``)
* ``<out>/compress_stats`` — (url, raw_len, comp_len, ratio_x1000,
  too_repetitive, incompressible) zlib quality audit
  (``--compress-stats``)
* ``<out>/badwords`` — (url, n_bad_words, bad_flag) policy-wordlist
  verdict (C4 blocklist stage; list supplied via --badwords FILE)
* ``<out>/datacard_examples`` — (dim, value, rank, url, n_tokens,
  preview) k deterministic exemplar docs per card group
* ``<out>/datacard`` — (dim, value, n_docs, n_hosts, n_tokens,
  n_chars) one-pass dataset-card rollup of the curated output
* ``<out>/lm_model`` + ``<out>/lm_tiers`` — the Stupid-Backoff trigram
  LM trained on the curated output and its per-lang head/middle/tail
  perplexity terciles (``--lm-tiers``)
* stdout             — ONE JSON line of per-stage counters

``--input-format warc`` curates straight off raw ``.warc/.warc.gz``
containers (sources/warc.py) — with ``--wet`` the CLI runs
container-to-container. ``--strip-boilerplate`` / ``--line-filter``
rewrite the kept text through the line-grain curation passes
(functions/linededup) ahead of ``--span-dedup``; ``--exact-substr``
finishes with the arbitrary-alignment ExactSubstr run dedup
(functions/exactsubstr).

``--split`` adds a leakage-safe host-hashed train/val/test column to
``<out>/curated`` and restricts every training artifact (mixture,
packs, BPE, shards) to the train split.
"""

from __future__ import annotations

import argparse
import json
import pathlib
import sys

REPO = pathlib.Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO))


def main() -> int:
    ap = argparse.ArgumentParser(description="corpus curation pipeline")
    ap.add_argument("--input", required=True)
    ap.add_argument("--input-format", choices=("parquet", "warc"),
                    default="parquet",
                    help="'warc' curates straight off raw .warc/.warc.gz "
                         "containers (sources/warc.py) instead of a "
                         "pages parquet")
    ap.add_argument("--bench", required=True)
    ap.add_argument("--output", required=True)
    ap.add_argument("--resume", action="store_true",
                    help="skip extraction + curation gates and replay the "
                         "training-sink stages (--split/--mixture/--pack/"
                         "--train-bpe/--shards/--wet/--host-stats) off an "
                         "existing <out>/audit + <out>/curated — iterate "
                         "on packing/shard dials without re-curating")
    ap.add_argument("--wet", action="store_true",
                    help="also export the curated text as WET-style "
                         "containers at <out>/wet (sources/warc.write_wet; "
                         "counters gain wet_files/wet_records)")
    ap.add_argument("--wet-files", type=int, default=8,
                    help="WET container count (size toward ~1 GB each "
                         "in production)")
    ap.add_argument("--coalesce", type=int, default=0,
                    help="output files (0 = leave to AQE)")
    ap.add_argument("--scrub-pii", action="store_true",
                    help="redact email/IPv4/phone in the curated text "
                         "(audit keeps the raw text; counters unchanged)")
    ap.add_argument("--strip-boilerplate", action="store_true",
                    help="strip host-level boilerplate lines (CCNet-style "
                         "local dedup, functions/linededup) from the kept "
                         "text before span dedup; counters gain "
                         "boiler_hosts + boiler_lines_flagged")
    ap.add_argument("--line-filter", action="store_true",
                    help="apply the C4/RefinedWeb line-wise quality rules "
                         "(functions/linededup.line_quality_filter) to the "
                         "kept text after --strip-boilerplate; documents "
                         "whose doc_drop verdict fires are dropped and "
                         "counted (docs_line_dropped)")
    ap.add_argument("--exact-substr", action="store_true",
                    help="ExactSubstr pass over the surviving corpus "
                         "(functions/exactsubstr): remove arbitrary-"
                         "alignment duplicated runs >= 25 words that "
                         "the disjoint --span-dedup grain cannot see; "
                         "runs last of the text rewrites")
    ap.add_argument("--span-dedup", action="store_true",
                    help="C4-style exact span dedup across the surviving "
                         "corpus: strip cross-document boilerplate spans "
                         "the doc-level keep-list cannot see (rewrites "
                         "the curated text; audit/counters unchanged)")
    ap.add_argument("--model-weights", default="", metavar="PARQUET",
                    help="trained (word, w_x1000) classifier table: AND "
                         "the model's keep verdict into the quality gate "
                         "(broadcast-join scoring, no corpus shuffle)")
    ap.add_argument("--pack", type=int, default=0, metavar="SEQ_LEN",
                    help="emit the sequence-packing plan over the final "
                         "curated output (concat-and-split into SEQ_LEN-"
                         "token training sequences per url-host); writes "
                         "<out>/packs and adds sequence counters")
    ap.add_argument("--pack-salt", type=int, default=0, metavar="BUCKETS",
                    help="hot-host packing dial: split each host into "
                         "BUCKETS independent packing streams")
    ap.add_argument("--train-bpe", type=int, default=0, metavar="N_MERGES",
                    help="train an N-merge BPE table on the curated "
                         "output (deterministic tie-breaks); writes "
                         "<out>/bpe_merges and a bpe_merges counter")
    ap.add_argument("--encode-bpe", action="store_true",
                    help="apply the --train-bpe merge table to the whole "
                         "curated corpus (one Arrow stage): writes "
                         "<out>/token_ids (url, token_ids, n_bpe); with "
                         "--pack also writes <out>/packs_bpe — SEQ_LEN "
                         "token-ID training sequences with doc_starts "
                         "(the pretraining sink's real payload)")
    ap.add_argument("--budget-mix", action="store_true",
                    help="token-budget mixture selection as the final "
                         "stage: cap per-host contribution, fill each "
                         "quality tier's token budget deterministically; "
                         "writes <out>/mix and restricts <out>/curated "
                         "to the selected documents")
    ap.add_argument("--dsir", type=int, default=0, metavar="K",
                    help="DSIR importance selection (hashed-n-gram "
                         "importance resampling toward --dsir-target's "
                         "language slice, Gumbel-top-K): writes the "
                         "(url, logw, key) decision frame to <out>/dsir "
                         "and restricts <out>/curated to the K selected "
                         "documents; runs after --budget-mix, before "
                         "--split")
    ap.add_argument("--dsir-target", default="en", metavar="LANG",
                    help="target lang label for --dsir (default en)")
    ap.add_argument("--link-graph", action="store_true",
                    help="harvest out-links from the raw pages, build "
                         "the host-level webgraph and its fixed-point "
                         "PageRank centrality; writes <out>/hostgraph "
                         "(host, rank_x, in_hosts, out_hosts)")
    ap.add_argument("--host-stats", action="store_true",
                    help="host-grain rollup of the audit's per-stage "
                         "verdicts with the crawl blocklist verdict "
                         "(block a host with >= 5 docs under a 20% "
                         "keep rate): writes <out>/hosts and a "
                         "hosts_blocked counter — the feedback table "
                         "the NEXT snapshot's scan anti-joins "
                         "(hostrep.apply_host_blocklist)")
    ap.add_argument("--split", action="store_true",
                    help="leakage-safe train/val/test labels hashed on "
                         "the url HOST (no host straddles): adds a "
                         "split column to <out>/curated, per-split "
                         "counters, and restricts every downstream "
                         "TRAINING artifact (--mixture/--pack/"
                         "--train-bpe) to the train split")
    ap.add_argument("--mixture", type=int, default=0, metavar="BUDGET",
                    help="temperature-sampled mixture (alpha=0.5) over "
                         "the curated output toward a BUDGET-token mix: "
                         "writes <out>/mixture (url, tier, n_tokens, "
                         "target_tokens, epochs_x1000, n_repeats) — "
                         "repeats realize fractional epochs by "
                         "deterministic hash lottery (upsample >1, "
                         "subsample 0); with --pack the packing plan "
                         "consumes the reweighted corpus (one item per "
                         "training pass, url#epoch ids)")
    ap.add_argument("--shards", type=int, default=0, metavar="N",
                    help="assign every packed sequence to one of N "
                         "training-shard files with a deterministic "
                         "in-shard read order (requires --pack): writes "
                         "<out>/shards and shard-balance counters")
    ap.add_argument("--normalize", action="store_true",
                    help="unicode-normalize extracted text before every "
                         "gate (NFC, CRLF->LF, C0/C1 strip, space-zoo "
                         "map, ftfy-style mojibake repair): audit gains "
                         "norm_changed/norm_repaired and the counters "
                         "gain docs_normalized + docs_mojibake_repaired; "
                         "fused into the extraction Arrow stage, zero "
                         "extra exchanges")
    ap.add_argument("--embed", action="store_true",
                    help="derive feature-hash embeddings for the "
                         "curated output (signed hashing trick, "
                         "all-integer artifact): writes "
                         "<out>/embeddings (url, emb array<long>)")
    ap.add_argument("--compress-stats", action="store_true",
                    help="zlib compression-ratio audit of the curated "
                         "output (repetition / encoded-payload flags): "
                         "writes <out>/compress_stats and the "
                         "docs_too_repetitive / docs_incompressible "
                         "counters; annotation, not a gate")
    ap.add_argument("--lm-tiers", action="store_true",
                    help="train the Stupid-Backoff trigram LM on the "
                         "curated output and bucket it into CCNet-style "
                         "head/middle/tail perplexity terciles (per "
                         "crawl lang when available, global under "
                         "--resume): writes <out>/lm_model + "
                         "<out>/lm_tiers and docs_ppl_* counters; "
                         "annotation, not a gate — tier-based dropping "
                         "is a downstream mixture policy")
    ap.add_argument("--badwords", default="", metavar="FILE",
                    help="policy-wordlist verdict over the curated "
                         "output (C4 blocklist stage; FILE = one "
                         "lowercase word per line — the engine ships no "
                         "list of its own): writes <out>/badwords and "
                         "the docs_badwords_flagged counter; "
                         "annotation, not a gate — dropping is a "
                         "downstream policy")
    ap.add_argument("--datacard", action="store_true",
                    help="one-pass GROUPING SETS datasheet of the "
                         "curated output (totals / per-lang / "
                         "length-decade rows over docs, hosts, tokens, "
                         "chars — the dataset-card table): writes "
                         "<out>/datacard; annotation, not a gate")
    ap.add_argument("--langid", action="store_true",
                    help="verify the crawl's lang labels with the "
                         "trained char-trigram classifier (self-trained "
                         "on this corpus): audit gains lang / pred_lang "
                         "/ lang_agree columns and the counters gain "
                         "docs_lang_mismatch + docs_lang_und; "
                         "verification only — nothing is dropped")
    args = ap.parse_args()
    # flag validation BEFORE any Spark work: a bad combination must die
    # at parse time, not after the curation pipeline has executed
    if args.shards > 0 and args.pack <= 0:
        ap.error("--shards requires --pack SEQ_LEN")
    if args.encode_bpe and args.train_bpe <= 0:
        ap.error("--encode-bpe requires --train-bpe N")
    if args.resume and args.link_graph:
        ap.error("--link-graph reads the raw pages' html, which the "
                 "stored audit does not keep; run it on a full (non "
                 "--resume) pass")
    if args.resume and args.dsir > 0:
        ap.error("--dsir reads the raw pages' lang labels, which the "
                 "stored audit does not keep; run it on a full (non "
                 "--resume) pass")
    if args.resume and (args.budget_mix or args.strip_boilerplate
                        or args.line_filter or args.span_dedup
                        or args.exact_substr
                        or args.scrub_pii or args.langid
                        or args.normalize):
        ap.error("--resume replays only the training-sink stages off the "
                 "existing <out>/audit + <out>/curated; the text-stage "
                 "dials (--budget-mix/--strip-boilerplate/--line-filter/"
                 "--span-dedup/--exact-substr/--scrub-pii/--langid/"
                 "--normalize) are "
                 "already baked into that artifact and cannot be "
                 "re-specified")

    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F
    spark = SparkSession.builder.appName("curate").getOrCreate()
    from ocr_module_spark.curate import (curate, curated_from_audit,
                                         stage_counters)
    from ocr_module_spark.deploy import ensure_pyfiles
    from ocr_module_spark.sinks import n_true, observe
    ensure_pyfiles(spark)

    # every counter rides on the write or eager checkpoint that produces
    # its artifact (sinks.observe); the driver actions left are named
    # with their bound where they run
    rows = F.count(F.lit(1))

    def checkpoint(df, **aggs):
        """``df`` materialized once, ``aggs`` counted on that pass."""
        df, counts = observe(df, **aggs)
        df = df.localCheckpoint(eager=True)
        counters.update(counts())
        return df

    def write(df, part, **aggs):
        """``df`` to ``<out>/<part>``, ``aggs`` counted on the write."""
        df, counts = observe(df, **aggs)
        df.write.mode("overwrite").parquet(f"{out}/{part}")
        counters.update(counts())

    out = args.output.rstrip("/")
    if args.resume:
        # replay mode: the decision pipeline already ran — load its
        # materializations and recompute only the training sinks.
        # stage_counters works on the text-dropped audit (verdict
        # columns only), so stdout stays one coherent counters line.
        import os
        for part in ("audit", "curated"):
            if not os.path.exists(f"{out}/{part}/_SUCCESS"):
                ap.error(f"--resume: {out}/{part} missing (run the "
                         "full pipeline once first)")
        audit = spark.read.parquet(f"{out}/audit")
        counters = stage_counters(audit)    # one aggregation job
        counters["resumed"] = True
    else:
        if args.input_format == "warc":
            from ocr_module_spark.sources.warc import read_warc, warc_pages
            pages = warc_pages(read_warc(spark, args.input))
        else:
            pages = spark.read.parquet(args.input)
        bench = spark.read.parquet(args.bench)
        weights = (spark.read.parquet(args.model_weights)
                   if args.model_weights else None)
        _, audit = curate(spark, pages, bench, model_weights=weights,
                          langid=args.langid, normalize=args.normalize)
        # one materialization of the decision pipeline; counters AND both
        # sinks read the checkpoint (deriving curated from the original plan
        # would re-run extraction/dedup/decontamination a second time)
        audit = audit.localCheckpoint(eager=True)
        counters = stage_counters(audit)    # one aggregation job
        # the boilerplate flag frame is small (one row per host) but COSTS a
        # full exploded-lines aggregation — compute it once, checkpoint it
        # (its counters ride on that checkpoint), and let the line-filter
        # census and the curated write below consume that materialization
        boiler_flags = None
        if args.strip_boilerplate:
            from ocr_module_spark.functions.linededup import flagged_lines
            from ocr_module_spark.pipeline import with_host
            boiler_flags = checkpoint(
                flagged_lines(
                    with_host(audit.where("kept").select("url", "text")),
                    group_col="url_host", key_col="url"),
                boiler_hosts=rows,
                boiler_lines_flagged=F.sum(F.size("boiler_lines")))
        curated = curated_from_audit(audit, scrub=args.scrub_pii,
                                     span_dedup=args.span_dedup,
                                     strip_boiler=args.strip_boilerplate,
                                     line_filter=args.line_filter,
                                     exact_substr=args.exact_substr,
                                     boiler_flags=boiler_flags)
        if args.line_filter:
            # doc_drop census: one count job over the kept docs
            # (zero-exchange projection plus the checkpointed flag join
            # when --strip-boilerplate is also on — the same text the
            # filter stage itself sees). It cannot ride on the curated
            # write: the filter runs inside curated_from_audit, and the
            # curated frame also feeds --dsir's selection
            from ocr_module_spark.functions.linededup import (
                line_quality_filter)
            base = curated_from_audit(
                audit, strip_boiler=args.strip_boilerplate,
                boiler_flags=boiler_flags).select("url", "text")
            counters["docs_line_dropped"] = int(
                line_quality_filter(base).where("doc_drop").count())
        if args.link_graph:
            # host-grain from the first groupBy on: anchors never leave
            # their scan partition, the rank rounds shuffle host-grain
            # longs only
            from ocr_module_spark.functions.linkgraph import (
                extract_links, host_centrality, host_link_graph)
            graph = checkpoint(host_link_graph(extract_links(pages)),
                               graph_edges=rows)
            write(host_centrality(graph), "hostgraph", graph_hosts=rows)
        if args.host_stats:
            from ocr_module_spark.functions.hostrep import host_stats_from_audit
            write(host_stats_from_audit(audit), "hosts",
                  hosts_blocked=n_true(F.col("blocked")))
        if args.budget_mix:
            from ocr_module_spark.curate import mix_from_audit
            mix = checkpoint(mix_from_audit(audit), docs_mixed=rows,
                             tokens_mixed=F.sum("n_tokens"))
            mix.write.mode("overwrite").parquet(f"{out}/mix")
            # decision frame joined back on url — the text column never
            # rides the mix's window shuffles
            curated = curated.join(mix.select("url"), "url")
        if args.dsir > 0:
            from ocr_module_spark.curate import dsir_from_curated
            sel = checkpoint(dsir_from_curated(curated, pages,
                                               args.dsir_target, args.dsir),
                             docs_dsir_selected=rows)
            sel.write.mode("overwrite").parquet(f"{out}/dsir")
            # decision frame joined back on url, same shape as --budget-mix
            curated = curated.join(sel.select("url"), "url")
        if args.split:
            from ocr_module_spark.curate import split_from_curated
            curated = split_from_curated(curated)
        cur = curated if args.coalesce <= 0 else curated.coalesce(args.coalesce)
        cur, curated_counts = observe(cur, docs=rows)
        cur.write.mode("overwrite").parquet(f"{out}/curated")
    if args.wet:
        # export off the materialized parquet, not the curation plan —
        # the WET writer is a second consumer and must not re-run the
        # decision pipeline
        from ocr_module_spark.sources.warc import write_wet
        acc = write_wet(spark.read.parquet(f"{out}/curated"),
                        f"{out}/wet", n_files=args.wet_files)
        counters["wet_files"] = acc["wet_files"]
        counters["wet_records"] = acc["records"]
    if args.embed:
        from ocr_module_spark.functions.embed import embed_hashing
        write(embed_hashing(
                  spark.read.parquet(f"{out}/curated")
                  .select(F.col("url").alias("doc_id"), "text"))
              .withColumnRenamed("doc_id", "url"), "embeddings",
              docs_embedded=rows)

    if args.compress_stats:
        from ocr_module_spark.functions.compress import compression_frame
        write(compression_frame(
                  spark.read.parquet(f"{out}/curated")
                  .select(F.col("url").alias("doc_id"), "text"))
              .withColumnRenamed("doc_id", "url"), "compress_stats",
              docs_too_repetitive=n_true(F.col("too_repetitive")),
              docs_incompressible=n_true(F.col("incompressible")))

    if args.lm_tiers:
        from ocr_module_spark.functions.ngramlm import (
            score_ngram_lm, train_ngram_lm, with_ppl_tiers)
        # train on the curated output itself — post-gate text IS the
        # pipeline's best "reference corpus" (the CCNet Wikipedia seat);
        # checkpoint the model so the scorer's three broadcast builds
        # read one materialization instead of re-running the trainer
        base = spark.read.parquet(f"{out}/curated") \
            .select(F.col("url").alias("doc_id"), "text")
        model = checkpoint(train_ngram_lm(base), lm_model_rows=rows)
        model.write.mode("overwrite").parquet(f"{out}/lm_model")
        scored = score_ngram_lm(base, model)
        if not args.resume:
            scored = scored.join(
                pages.select(F.col("url").alias("doc_id"), "lang"),
                "doc_id", "left")
        else:
            # the stored artifact keeps no crawl lang — global terciles
            scored = scored.withColumn("lang", F.lit(None).cast("string"))
        # every tier is a key, 0 when empty (the counters line is
        # diffed across runs)
        write(with_ppl_tiers(scored).withColumnRenamed("doc_id", "url"),
              "lm_tiers",
              **{f"docs_ppl_{t}": n_true(F.col("ppl_tier") == t)
                 for t in ("head", "middle", "tail")})

    if args.badwords:
        from ocr_module_spark.functions.badwords import badwords_flags
        with open(args.badwords, encoding="utf-8") as fh:
            words = sorted({w.strip().lower()
                            for w in fh if w.strip()})
        write(badwords_flags(
                  spark.read.parquet(f"{out}/curated").select("url", "text"),
                  words, id_col="url"), "badwords",
              docs_badwords_flagged=n_true(F.col("bad_flag")))

    if args.datacard:
        from ocr_module_spark.functions.datacard import (
            corpus_datacard, datacard_exemplars)
        from ocr_module_spark.pipeline import with_host
        base = with_host(spark.read.parquet(f"{out}/curated")
                         .select("url", "text"))
        if not args.resume:
            base = base.join(pages.select("url", "lang"), "url", "left")
        else:
            # the stored artifact keeps no crawl lang — single 'und' row
            base = base.withColumn("lang", F.lit(None).cast("string"))
        write(corpus_datacard(base, lang_col="lang", host_col="url_host"),
              "datacard", datacard_rows=rows)
        # the card's "examples" column: k deterministic exemplar docs
        # per card group, url-keyed (same hash-lottery family as the
        # sampling/packing keys)
        write(datacard_exemplars(base, lang_col="lang", id_col="url")
              .withColumnRenamed("doc_id", "url"), "datacard_examples",
              datacard_example_rows=rows)

    # every artifact a trainer consumes comes from this frame: the full
    # curated corpus, or its train split when --split is on (val/test
    # rows must never reach the mixture/packing/BPE sink)
    train = spark.read.parquet(f"{out}/curated")
    if args.split:
        if args.resume and "split" not in train.columns:
            # the original run didn't split; derive it on the fly (the
            # assignment is a deterministic host-hash projection) without
            # rewriting the stored curated parquet
            from ocr_module_spark.curate import split_from_curated
            train = split_from_curated(train)
        # seed all three keys: an empty split must report 0, not a
        # missing key (the counters line is diffed across runs)
        for s in ("train", "val", "test"):
            counters[f"docs_{s}"] = 0
        # driver collect bound: 3 rows. A census, not an observe:
        # --resume rewrites no curated output it could ride on
        for r in train.groupBy("split").count().collect():
            counters[f"docs_{r['split']}"] = int(r["count"])
        train = train.where("split = 'train'")
    if args.mixture > 0:
        from ocr_module_spark.curate import mixture_from_curated
        mixt = checkpoint(
            mixture_from_curated(train, args.mixture), docs_mixture=rows,
            docs_upsampled=n_true(F.col("n_repeats") >= 2),
            docs_subsampled_out=n_true(F.col("n_repeats") == 0),
            tokens_realized=F.sum(F.col("n_tokens") * F.col("n_repeats")))
        mixt.write.mode("overwrite").parquet(f"{out}/mixture")
        if args.split:
            n_train = counters["docs_train"]
        elif args.resume:
            n_train = train.count()   # one job: no curated write to ride on
        else:
            n_train = curated_counts()["docs"]
        # docs the mixture never weighs (tier 'low' on the EMITTED text,
        # or zero tokens) — visible, not silent: with --scrub-pii or
        # --span-dedup the emitted text can tier differently than the
        # raw text the quality gate saw (deliberate: the mixture weighs
        # what the trainer will actually see)
        counters["docs_mixture_excluded"] = \
            n_train - counters["docs_mixture"]
    if args.pack > 0:
        # packing reads only (url, n_tokens) of the final curated frame
        # (post mix restriction / span dedup / split), never the text;
        # with --mixture the pack plan consumes the REWEIGHTED corpus
        # (one item per training pass, url#epoch ids)
        from ocr_module_spark.curate import (pack_plan_from_curated,
                                             pack_plan_from_mixture)
        if args.mixture > 0:
            plan = pack_plan_from_mixture(
                train, mixt, args.pack, salt_buckets=args.pack_salt)
        else:
            plan = pack_plan_from_curated(
                train, args.pack, salt_buckets=args.pack_salt)
        # every sequence (url_host[, pack_salt], seq_no) has exactly one
        # slice at offset 0 — the count an observe can take (it rejects
        # DISTINCT aggregates)
        plan = checkpoint(
            plan, sequences_packed=n_true(F.col("seq_off") == 0),
            tokens_packed=F.sum(F.col("tok_end") - F.col("tok_start")))
        plan.write.mode("overwrite").parquet(f"{out}/packs")
        if args.shards > 0:
            from ocr_module_spark.curate import shards_from_pack_plan
            from ocr_module_spark.functions.packing import shard_manifest
            sharded = shards_from_pack_plan(
                plan, args.shards, salted=args.pack_salt > 0) \
                .localCheckpoint(eager=True)
            sharded.write.mode("overwrite").parquet(f"{out}/shards")
            # driver collect bound: n_shards rows (min/max over groups
            # cannot be observed)
            man = shard_manifest(sharded).collect()
            counters["shards"] = len(man)
            counters["shard_sequences_min"] = \
                min((int(r["n_sequences"]) for r in man), default=0)
            counters["shard_sequences_max"] = \
                max((int(r["n_sequences"]) for r in man), default=0)
    if args.train_bpe > 0:
        from ocr_module_spark.functions.bpe import train_bpe_merges
        cur_docs = (train.select("url", "text")
                    .withColumnRenamed("url", "doc_id"))
        merges = train_bpe_merges(cur_docs, n_merges=args.train_bpe)
        spark.createDataFrame(
            [(i, a, b) for i, (a, b) in enumerate(merges)],
            "merge_no int, a string, b string") \
            .coalesce(1).write.mode("overwrite") \
            .parquet(f"{out}/bpe_merges")
        counters["bpe_merges"] = len(merges)
        if args.encode_bpe:
            # deployment half of the trainer: ids over the WHOLE curated
            # corpus (alphabet from the same corpus, GPT-2-convention
            # vocab — both deterministic, so ids are stable across runs)
            from ocr_module_spark.functions.bpe import (bpe_vocab,
                                                        corpus_alphabet,
                                                        encode_corpus,
                                                        packed_bpe_sequences)
            from ocr_module_spark.pipeline import with_host
            vocab = bpe_vocab(corpus_alphabet(cur_docs), merges)
            write(encode_corpus(cur_docs, merges, vocab)
                  .withColumnRenamed("doc_id", "url"), "token_ids",
                  bpe_tokens_total=F.sum("n_bpe"))
            from ocr_module_spark.functions.bpe import vocab_size
            counters["bpe_vocab_size"] = vocab_size(vocab)
            if args.pack > 0:
                # with --mixture the id sink realizes the SAME
                # reweighting as <out>/packs (encode once, explode the
                # id arrays per training pass)
                rep = None
                if args.mixture > 0:
                    rep = mixt.select(F.col("url").alias("doc_id"),
                                      "n_repeats")
                write(packed_bpe_sequences(
                          with_host(cur_docs, "doc_id"), merges, vocab,
                          seq_len=args.pack, key_col="url_host",
                          repeats=rep),
                      "packs_bpe", bpe_sequences_packed=rows)
                if args.shards > 0:
                    # the data-loader files themselves: token-ID
                    # sequences partitioned by shard, pos-ordered
                    from ocr_module_spark.functions.packing import (
                        write_training_shards)
                    acc = write_training_shards(
                        spark.read.parquet(f"{out}/packs_bpe"),
                        f"{out}/shards_bpe", n_shards=args.shards,
                        key_col="url_host")
                    counters["bpe_shards"] = acc["shards"]
                    counters["bpe_shard_tokens"] = acc["tokens"]
    if not args.resume:
        # --resume read the stored audit lazily; it is unchanged, and
        # overwriting a path Spark is still reading from is an error
        audit.drop("text").write.mode("overwrite").parquet(f"{out}/audit")

    print(json.dumps(counters))
    return 0


if __name__ == "__main__":
    sys.exit(main())
