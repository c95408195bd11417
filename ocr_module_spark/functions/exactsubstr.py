"""ExactSubstr dedup: arbitrary-alignment duplicated-run removal.

The one dedup grain the suite's other operators cannot see: span dedup
(dedup.span_dedup_frame) removes DISJOINT k-word spans, so a duplicated
passage that straddles a span boundary — or starts at word 3 of one doc
and word 4,007 of another — survives it. The ExactSubstr discipline
(Lee et al. 2022, "Deduplicating Training Data Makes Language Models
Better") removes every duplicated run of >= L tokens at ANY alignment.
The paper builds a corpus-wide suffix array; that is a driver-sized
object at 10^12 documents, so this module gets the same answer with a
two-phase anchor/verify plan whose every stage is a bounded relational
shape:

* ANCHOR — per-document winnowing (Schleimer et al. 2003): hash every
  k-word gram (md5, the house hash), then in every window of w
  consecutive k-grams select the (hash, pos)-minimal one. All in-row
  higher-order functions — no shuffle until the anchors exist, and the
  selected set is ~2/(w+1) of the k-grams, 40-byte rows. The winnowing
  GUARANTEE: any two occurrences of a common run of >= w + k - 1 words
  contain a content-identical window of w k-grams, whose hash-minimal
  k-gram is selected in BOTH documents at the same content offset (ties
  broken by position inside a content-identical window land on the same
  relative k-gram) — so every duplicated run of >= MIN_RUN words is
  covered by a shared anchor hash. No suffix array needed.
* DECIDE — one partial-aggregated ``groupBy`` on the 32-char anchor
  hash: occurrence count flags the duplicated hashes (boilerplate
  anchors repeated 10^9 times are one decision row); the per-round
  canonical minima are computed in VERIFY over the flagged frame only.
* VERIFY — each occurrence fetches a bounded word window (+-ext
  around its anchor; ONE equi-join to the corpus on doc_id, then
  hash-keyed joins over the checkpointed window frame only) and
  extends the match forward / backward with ``zip_with``
  word-equality + first-mismatch — exact WORD comparison, JVM-side,
  so the output has ZERO false positives (an md5 collision fails the
  word compare and drops out). Verification is ROUND-BASED (default
  ROUNDS=3, the cc_labels bounded-round discipline): a context-less
  decoy occurrence of the anchor k-gram cannot shadow a genuine run —
  each round's canonical keeps and leaves the queue, unmatched
  occurrences re-verify against the next surviving canonical (see
  exact_substr_matched). The cap ``ext`` bounds per-row work and
  shuffle width (a fully-duplicated 10^6-word page still verifies in
  O(ext), its uncovered middle caught by its own later anchors).
* REWRITE — matched intervals merge per document (sort + one
  ``aggregate`` fold) and the kept text reassembles in-row; the
  canonical occurrence of every run is preserved (keep-first, min
  (doc_id, pos) — the same canonical rule as span/keep-list dedup).
  Self-overlapping periodic text (period < anchor spacing) is the one
  shape where a later same-doc occurrence's extension reaches across
  the copy gap; those intervals are CLAMPED to stay disjoint from the
  pair's canonical matched span, so the canonical region survives
  even on fully-periodic pages (regression-pinned in
  tests/test_exactsubstr.py).

Reference tie: the reference deduplicates nothing (it re-OCRs every
page it is handed, translate_pdf.py); this operator exists for the
100 TB training-data curation mission the brief layers on top.

Cross-engine value pinning follows the test_bpe convention: a pure-
Python reference twin (:func:`exact_substr_twin`) mirrors every stage
bit-for-bit and the frame exposes ``kept_md5`` so tests pin the
reassembled bytes without shipping text through a compare.
"""

from __future__ import annotations

import hashlib
import re

from pyspark.sql import DataFrame, functions as F

K = 8          # words per k-gram
W = 18         # winnowing window (k-grams)
MIN_RUN = W + K - 1   # 25 words — exactly the winnowing guarantee
EXT_CAP = 512  # max verified extension (words, each side of the anchor)
ROUNDS = 3     # verification rounds (decoy-canonical peeling, see below)

_IVT = "array<struct<start:bigint,end:bigint>>"


def _words_col(col: str = "text"):
    """The suite's whitespace tokenizer; NULL/empty -> empty array
    (the shared textstats definition — one source for the word grain)."""
    from .textstats import words_empty_safe
    return words_empty_safe(col)


def winnow_anchors(docs: DataFrame, k: int = K, w: int = W) -> DataFrame:
    """Per-document winnowing fingerprints: ``(doc_id, h, pos)`` — the
    declarative higher-order-function form.

    ``pos`` is the selected k-gram's word offset; ``h`` its md5. Docs
    shorter than ``k`` words emit nothing (they cannot contain a run).
    Documents with fewer than ``w`` k-grams winnow over one whole-doc
    window, so every doc with >= k words emits >= 1 anchor. Pure
    projection + one posexplode — no shuffle.

    NOTE: Catalyst runs ``transform``/``aggregate`` lambdas interpreted
    (never whole-stage codegen — the r3-verdict lesson the veckernel
    module fixed for embedding dots), and this form is O(n_kgrams * w)
    struct builds per document on top of the per-k-gram md5. The
    operator's anchor path is therefore :func:`winnow_anchors_arrow` —
    one Arrow stage running the shared O(n) deque kernel; this form
    stays as the declarative reference, pinned equal in tests.
    """
    d = (docs.select("doc_id", _words_col().alias("wds"))
         .withColumn("n_w", F.size("wds"))
         .where(F.col("n_w") >= k)
         .withColumn("n_kg", F.col("n_w") - F.lit(k) + 1)
         .withColumn("hs", F.expr(
             f"transform(sequence(0, n_kg - 1), i -> "
             f"md5(cast(array_join(slice(wds, i + 1, {k}), ' ') "
             f"as binary)))"))
         .withColumn("ww", F.least(F.col("n_kg"), F.lit(w))))
    sel = ("array_distinct(transform(sequence(0, n_kg - ww), j -> "
           "array_min(transform(sequence(j, j + ww - 1), p -> "
           "named_struct('h', element_at(hs, p + 1), 'pos', p)))))")
    return (d.select("doc_id", F.explode(F.expr(sel)).alias("a"))
            .select("doc_id", F.col("a.h").alias("h"),
                    F.col("a.pos").cast("long").alias("pos")))


def _winnow_positions(hs: list, ww: int) -> list:
    """Selected positions of the winnowing over hash list ``hs`` with
    effective window ``ww``: for every window of ``ww`` consecutive
    k-grams the (hash, pos)-minimal one, leftmost on hash ties — O(n)
    via a monotonic deque. The ONE selection definition, shared by the
    executor kernel and the pure-Python twin (and pinned equal to the
    declarative HOF form in tests)."""
    from collections import deque
    dq: deque = deque()
    sel = set()
    for p in range(len(hs)):
        while dq and hs[dq[-1]] > hs[p]:
            dq.pop()
        dq.append(p)
        if dq[0] <= p - ww:
            dq.popleft()
        if p >= ww - 1:
            sel.add(dq[0])
    return sorted(sel)


def _winnow_doc(words: list, k: int, w: int) -> list:
    """Anchor ``(hex_hash, pos)`` pairs of one tokenized document."""
    n_kg = len(words) - k + 1
    if n_kg < 1:
        return []
    hs = [hashlib.md5(" ".join(words[i:i + k]).encode()).hexdigest()
          for i in range(n_kg)]
    return [(hs[p], p) for p in _winnow_positions(hs, min(n_kg, w))]


def winnow_anchors_arrow(docs: DataFrame, k: int = K,
                         w: int = W) -> DataFrame:
    """Arrow-kernel twin of :func:`winnow_anchors` — identical rows,
    one ``mapInArrow`` stage (zero exchanges): per batch the shared
    O(n) deque kernel tokenizes (byte-exact ASCII split mirror of the
    engine's ``split(trim(text), '\\s+')``), hashes k-grams with C-speed
    hashlib md5, and selects window minima — replacing the interpreted
    O(n*w) HOF lambda chain. ``doc_id`` passes through typed (long ids
    and string urls both work)."""
    import pyarrow as pa

    id_field = docs.schema["doc_id"]
    out_schema = f"doc_id {id_field.dataType.simpleString()}, " \
                 "h string, pos long"
    narrow = docs.select("doc_id", "text")

    def gen(batches):
        for batch in batches:
            id_type = batch.column(0).type   # exact pass-through type
            ids = batch.column(0).to_pylist()
            texts = batch.column(1).to_pylist()
            o_id, o_h, o_pos = [], [], []
            for i, t in zip(ids, texts):
                for h, p in _winnow_doc(_twin_words(t), k, w):
                    o_id.append(i)
                    o_h.append(h)
                    o_pos.append(p)
            yield pa.RecordBatch.from_arrays(
                [pa.array(o_id, type=id_type),
                 pa.array(o_h, type=pa.string()),
                 pa.array(o_pos, type=pa.int64())],
                ["doc_id", "h", "pos"])

    return narrow.mapInArrow(gen, out_schema)


def _first_mismatch(a: str, b: str) -> str:
    """SQL: common-prefix length of two word arrays (exact compare).

    ``zip_with`` pads the shorter side with NULL and ``<=>`` makes the
    pad compare false; the appended sentinel false means
    ``array_position`` always finds a first mismatch, so the -1 is the
    match length."""
    return (f"array_position(concat(zip_with({a}, {b}, "
            f"(x, y) -> x <=> y), array(false)), false) - 1")


def exact_substr_matched(docs: DataFrame, k: int = K, w: int = W,
                         min_run: int = MIN_RUN, ext: int = EXT_CAP,
                         rounds: int = ROUNDS) -> DataFrame:
    """Verified duplicated-run intervals per non-canonical occurrence:
    ``(doc_id, start, end)`` word intervals (end exclusive), each an
    exact word-for-word match of >= ``min_run`` words against a
    surviving canonical (min (doc_id, pos)) occurrence.

    WHY ROUNDS: an anchor k-gram (k words) is less specific than the
    run (>= min_run words) it covers — the group's (doc_id, pos)-min
    occurrence can be a DECOY that carries the k-gram without the run's
    context (a short quote, a fragment). One canonical-only pass would
    verify genuine run occurrences against the decoy, fail the
    word-compare, and silently keep both copies. So verification is
    ROUND-BASED, the cc_labels bounded-round discipline: each round's
    canonical keeps and leaves the queue, matched occurrences drop out,
    and only unmatched occurrences re-verify against the NEXT surviving
    canonical — each round peels exactly one never-matching decoy (or
    one foreign run's first occurrence, which takes its whole run's
    occurrences with it). A duplicated run is therefore caught unless
    MORE than ``rounds - 1`` never-matching occurrences of its anchor
    hash precede its first occurrence in (doc_id, pos) order; unmatched
    residue is KEPT (conservative — no false positives ever). Rounds
    run off one checkpointed bounded-window frame: the corpus is
    scanned once and joined once, regardless of ``rounds``."""
    if rounds < 1:
        raise ValueError("rounds must be >= 1 (0 would silently "
                         "disable dedup)")
    # narrow (doc_id, h, pos) rows; checkpointed so the winnowing pass
    # runs ONCE (it feeds both sides of the decision self-join — the
    # dedup.py house rule for exactly this shape)
    anchors = winnow_anchors_arrow(docs, k, w).localCheckpoint(eager=False)
    dec = (anchors.groupBy("h").agg(F.count("*").alias("n_occ"))
           .where(F.col("n_occ") >= 2).select("h"))
    flagged = anchors.join(dec, "h")
    wide = docs.select("doc_id", _words_col().alias("wds"))
    lo = F.greatest(F.lit(0), F.col("pos") - F.lit(ext))
    # ONE corpus-text join total: the verification rounds below run
    # entirely off this checkpointed bounded-window frame
    wins = (flagged.join(wide, "doc_id")
            .select("doc_id", "h", "pos",
                    (F.col("pos") - lo).alias("off"),
                    F.expr(f"slice(wds, greatest(0L, pos - {ext}) + 1, "
                           f"pos - greatest(0L, pos - {ext}) "
                           f"+ {k} + {ext})").alias("win"))
            .localCheckpoint(eager=False))
    fwd = F.expr(_first_mismatch(
        "slice(win, off + 1, size(win) - off)",
        "slice(cwin, coff + 1, size(cwin) - coff)"))
    bwd = F.expr(_first_mismatch(
        "reverse(slice(win, 1, off))", "reverse(slice(cwin, 1, coff))"))
    spark = docs.sparkSession
    matched = spark.createDataFrame(
        [], f"doc_id {docs.schema['doc_id'].dataType.simpleString()}, "
            "start bigint, end bigint")
    active = wins
    for r in range(rounds):
        first = (active.groupBy("h")
                 .agg(F.min(F.struct("doc_id", "pos")).alias("first")))
        a2 = active.join(first, "h")
        is_canon = ((F.col("doc_id") == F.col("first.doc_id"))
                    & (F.col("pos") == F.col("first.pos")))
        canon = (a2.where(is_canon)
                 .select("h", F.col("win").alias("cwin"),
                         F.col("off").alias("coff"),
                         F.col("doc_id").alias("cdoc"),
                         F.col("pos").alias("cpos")))
        # checkpoint the verified pairs ONCE per round: the matched
        # branch (below) and the next round's residual both read it, and
        # Spark does not dedupe common subplans across DataFrame
        # branches — without this the join + zip_with compare would run
        # twice per non-final round
        pairs = (a2.where(~is_canon).drop("first").join(canon, "h")
                 .select("doc_id", "h", "pos", "off", "win", "cdoc",
                         "cpos", fwd.alias("fwd"), bwd.alias("bwd"))
                 .localCheckpoint(eager=False))
        hit = F.col("fwd") + F.col("bwd") >= min_run
        # periodic-text clamp: in the canonical's OWN document a later
        # occurrence's backward extension can reach across the copy gap
        # and below cpos (self-overlapping text with period < anchor
        # spacing), and the merged interval would swallow the canonical
        # region — emptying every copy corpus-wide. The pair's matched
        # span in canonical coordinates is [cpos - bwd, cpos + fwd), so
        # clamping the same-doc interval start to cpos + fwd makes it
        # disjoint from that span; since pos > cpos there, end stays
        # > start for any genuine residue and empty intervals drop.
        start = F.when(F.col("doc_id") == F.col("cdoc"),
                       F.greatest(F.col("pos") - F.col("bwd"),
                                  F.col("cpos") + F.col("fwd"))) \
                 .otherwise(F.col("pos") - F.col("bwd"))
        matched = matched.unionByName(
            pairs.where(hit).select(
                "doc_id", start.alias("start"),
                (F.col("pos") + F.col("fwd")).alias("end"))
            .where(F.col("start") < F.col("end")))
        if r == rounds - 1:
            break
        # the round's canonicals KEEP and leave the queue; matched
        # occurrences drop out; only unmatched occurrences re-verify
        # against the next surviving canonical (one decoy peeled/round).
        # Lazy checkpoints: lineage-cut + computed once per action with
        # no extra job barrier; a converged (empty) round is a no-op
        # stage, so no driver-side early-exit action is spent on it.
        active = pairs.where(~hit).select("doc_id", "h", "pos", "off",
                                          "win")
    return matched


_MERGE = f"""aggregate(ivs, cast(array() as {_IVT}), (acc, x) ->
  case when size(acc) > 0 and element_at(acc, -1).end >= x.start
       then concat(slice(acc, 1, size(acc) - 1),
                   array(named_struct(
                       'start', element_at(acc, -1).start,
                       'end', greatest(element_at(acc, -1).end, x.end))))
       else concat(acc, array(x)) end)"""

_KEPT = """transform(filter(
  transform(wds, (x, i) -> named_struct('x', x, 'i', cast(i as bigint))),
  s -> not exists(mi, m -> s.i >= m.start and s.i < m.end)),
  s -> s.x)"""


def _rewritten(docs: DataFrame, matched: DataFrame) -> DataFrame:
    per_doc = (matched.groupBy("doc_id")
               .agg(F.array_sort(F.collect_list(F.struct("start", "end")))
                    .alias("ivs"))
               .select("doc_id", F.expr(_MERGE).alias("mi")))
    return (docs.select("doc_id", _words_col().alias("wds"))
            .join(per_doc, "doc_id", "left")
            .withColumn("mi", F.coalesce(
                "mi", F.expr(f"cast(array() as {_IVT})")))
            .withColumn("kept", F.expr(_KEPT)))


def exact_substr_frame(docs: DataFrame, k: int = K, w: int = W,
                       min_run: int = MIN_RUN, ext: int = EXT_CAP,
                       rounds: int = ROUNDS) -> DataFrame:
    """Per-document verdict frame: one row per input doc (grain
    preserved, NULL/empty included) with the duplicated-run audit and
    the md5 of the reassembled kept text."""
    out = _rewritten(docs, exact_substr_matched(docs, k, w, min_run,
                                                ext, rounds))
    kept_text = F.array_join("kept", " ")
    return out.select(
        "doc_id",
        F.size("wds").alias("n_words"),
        F.size("mi").alias("n_dup_runs"),
        F.expr("aggregate(mi, 0L, (acc, m) -> acc + m.end - m.start)")
        .alias("dup_words"),
        F.size("kept").alias("kept_words"),
        F.md5(kept_text.cast("binary")).alias("kept_md5"))


def exact_substr_text(docs: DataFrame, k: int = K, w: int = W,
                      min_run: int = MIN_RUN, ext: int = EXT_CAP,
                      rounds: int = ROUNDS) -> DataFrame:
    """Content-rewrite form: ``(doc_id, text, n_dup_runs)`` with every
    non-canonical duplicated run removed (whitespace-normalized to
    single spaces by construction) — chains between the quality gate
    and the training sink like span_dedup_text."""
    out = _rewritten(docs, exact_substr_matched(docs, k, w, min_run,
                                                ext, rounds))
    return out.select("doc_id", F.array_join("kept", " ").alias("text"),
                      F.size("mi").cast("int").alias("n_dup_runs"))


def q_dedup_exactsubstr(spark, sf_dir: str) -> DataFrame:
    """Registry-shaped form over the documents table (plan-sweep +
    informational bench entry; values are twin-gated — the anchor/verify
    composition has no tractable single-query SQL oracle)."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    return exact_substr_frame(docs.select("doc_id", "text"))


REGISTRY = {"dedup_exactsubstr": (q_dedup_exactsubstr, None)}


# ---------------------------------------------------------------------------
# pure-Python reference twin (mirrors every stage; tests pin equality)

# Java-regex \s (ASCII-only), as Spark's split sees it
_JWS = re.compile(r"[ \t\n\x0b\f\r]+")


def _twin_words(text) -> list[str]:
    """Byte-exact mirror of the engine's ``split(trim(text), '\\s+')``:
    Spark ``trim`` strips only SPACES (not tabs/newlines), Java ``\\s``
    is ASCII-only (U+3000 etc. are word bytes), and Spark ``split`` with
    the default limit KEEPS leading/trailing empty strings — so must
    the twin, or hostile-whitespace corpora diverge."""
    if text is None:
        return []
    t = text.strip(" ")
    if not t:
        return []
    return _JWS.split(t)


def _twin_anchors(wds: list[str], k: int, w: int) -> list[tuple[str, int]]:
    # one selection definition for twin and executor (tests pin it
    # equal to the declarative HOF form as well)
    return sorted((h, p) for h, p in _winnow_doc(wds, k, w))


def exact_substr_twin(docs: dict, k: int = K, w: int = W,
                      min_run: int = MIN_RUN, ext: int = EXT_CAP,
                      rounds: int = ROUNDS) -> dict:
    """Pure-Python mirror of exact_substr_frame over ``{doc_id: text}``:
    returns ``{doc_id: (kept_text, n_dup_runs, dup_words)}``. Mirrors
    the round-based verification (decoy-canonical peeling) exactly."""
    words = {d: _twin_words(t) for d, t in docs.items()}
    occ: dict[str, list[tuple[int, int]]] = {}
    for d in sorted(words):
        for h, pos in _twin_anchors(words[d], k, w):
            occ.setdefault(h, []).append((d, pos))
    ivs: dict[int, list[tuple[int, int]]] = {d: [] for d in docs}
    for h, lst in occ.items():
        if len(lst) < 2:
            continue
        active = sorted(lst)
        for _ in range(rounds):
            if len(active) < 2:
                break
            cd, cp = active[0]
            cw = words[cd]
            nxt = []
            for d, p in active[1:]:
                dw = words[d]
                fwd = 0
                while (p + fwd < min(len(dw), p + k + ext)
                       and cp + fwd < min(len(cw), cp + k + ext)
                       and dw[p + fwd] == cw[cp + fwd]):
                    fwd += 1
                bwd = 0
                while (bwd < min(p, ext) and bwd < min(cp, ext)
                       and dw[p - 1 - bwd] == cw[cp - 1 - bwd]):
                    bwd += 1
                if fwd + bwd >= min_run:
                    # same periodic-text clamp as the engine: in the
                    # canonical's own doc the interval must stay
                    # disjoint from the pair's canonical matched span
                    # [cp - bwd, cp + fwd)
                    s = p - bwd
                    if d == cd:
                        s = max(s, cp + fwd)
                    if s < p + fwd:
                        ivs[d].append((s, p + fwd))
                else:
                    nxt.append((d, p))
            active = nxt
    out = {}
    for d in docs:
        merged: list[list[int]] = []
        for s, e in sorted(ivs[d]):
            if merged and merged[-1][1] >= s:
                merged[-1][1] = max(merged[-1][1], e)
            else:
                merged.append([s, e])
        kept = [x for i, x in enumerate(words[d])
                if not any(s <= i < e for s, e in merged)]
        out[d] = (" ".join(kept), len(merged),
                  sum(e - s for s, e in merged))
    return out
