"""Compression-ratio quality signal (the Dolma/RedPajama zlib gate).

A document's deflate ratio is a model-free fluency prior that catches
the two junk classes word-statistics gates miss in opposite directions:
machine-generated repetition (SEO spam, keyword stuffing, template
loops) compresses far BELOW natural prose, while encrypted blobs,
minified code and base64 payloads barely compress at all. Dolma and
RedPajama-v2 ship exactly this signal; Gopher's repetition rules
(textstats gopher_repetition) are its hand-rolled cousin — the two
overlap but each flags docs the other passes (test-pinned).

One ``mapInPandas`` Arrow stage computes, per doc, over the UTF-8
bytes: ``raw_len``, ``comp_len`` (zlib level 6 — pinned: ratios are
only comparable at one level), ``ratio_x1000 = 1000*comp_len //
raw_len`` (integer floor — cross-run stable), and the two verdict
flags against the standard dials::

    too_repetitive    ratio_x1000 < 200   (natural prose ~250-600)
    incompressible    ratio_x1000 > 800   (encoded payloads: base64/85
                      text tops out ~6-6.4 bits/char, deflating to
                      ~0.8+; prose never gets near it)

Python is unavoidable here (no deflate in either SQL engine), which is
also why this operator's gate is the pure-Python-twin + planted-corpus
pattern (the BPE-trainer convention), not a DuckDB oracle: zlib output
is deterministic for a fixed (level, strategy, library) — the same
guarantee the twin shares — but not SQL-expressible. Zero exchanges,
text never shuffles; NULL/empty docs report NULL ratio and False flags
(nothing to compress — the length gate upstream owns those).

Scale notes: scan-speed per-row map, embarrassingly parallel; deflate
throughput (~100 MB/s/core) is the same order as the HTML parse this
pipeline already pays, and production fuses it into the extraction
Arrow stage. Reference tie: a corpus-side generalization of the
reference's per-document content sanity checks (ocr_module result
validation); the statistical form exists because 10^12 docs make
compressibility itself the signal.
"""

from __future__ import annotations

import zlib
from typing import Iterator

from pyspark.sql import DataFrame

RATIO_LO = 200        # below: machine repetition (x1000 scale)
RATIO_HI = 800        # above: random/encoded payload
ZLEVEL = 6            # pinned — ratios are level-relative


def compression_stats_str(s: str | None):
    """(raw_len, comp_len, ratio_x1000, too_repetitive, incompressible)
    for one document — the executor kernel AND the test oracle."""
    if s is None or len(s) == 0:
        return None, None, None, False, False
    raw = s.encode("utf-8")
    comp = len(zlib.compress(raw, ZLEVEL))
    ratio = 1000 * comp // len(raw)
    return (len(raw), comp, ratio,
            ratio < RATIO_LO, ratio > RATIO_HI)


_STATS = ("raw_len long, comp_len long, ratio_x1000 long, "
          "too_repetitive boolean, incompressible boolean")


def compression_frame(docs: DataFrame, key_col: str = "doc_id",
                      text_col: str = "text") -> DataFrame:
    """Per-doc compression stats — one Arrow stage, zero exchanges.
    The key passes through as ``doc_id`` with the input's own type
    (long ids and string urls both work)."""
    key_type = docs.schema[key_col].dataType.simpleString()

    def batches(it: Iterator) -> Iterator:
        import pandas as pd
        for pdf in it:
            recs = [(k, *compression_stats_str(s))
                    for k, s in zip(pdf[key_col], pdf[text_col])]
            out = pd.DataFrame.from_records(
                recs, columns=["doc_id", "raw_len", "comp_len",
                               "ratio_x1000", "too_repetitive",
                               "incompressible"])
            for c in ("raw_len", "comp_len", "ratio_x1000"):
                out[c] = out[c].astype("Int64")
            yield out

    return docs.select(key_col, text_col).mapInPandas(
        batches, schema=f"doc_id {key_type}, {_STATS}")
