"""Text analysis for training-data pipelines over the documents table.

All hot-path computations are JVM-side column expressions (arithmetic on
lengths — exact across engines) or Arrow pandas UDFs; no per-row Python.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def occurrences(text: Column, needle: str) -> Column:
    """# of occurrences of needle — pure length arithmetic (exact int)."""
    return (
        (F.length(text) - F.length(F.replace(text, F.lit(needle), F.lit(""))))
        / F.lit(len(needle))
    ).cast("long")


def _norm_ws(text: Column) -> Column:
    """Whitespace-normalized view (runs of \\s -> one space, trimmed):
    the exact length arithmetic below is correct on THIS string for any
    real document (newlines, tabs, double spaces), not just
    single-space-separated text."""
    return F.trim(F.regexp_replace(text, "\\s+", " "))


def _pad_ws(text: Column) -> Column:
    """Normalized text padded with one space each side, so ' w '
    occurrence counting also matches words at the start/end."""
    return F.concat(F.lit(" "), _norm_ws(text), F.lit(" "))


def token_count(text: Column) -> Column:
    """Whitespace token count via length arithmetic (exact)."""
    n = _norm_ws(text)
    return F.when(F.length(n) == 0, F.lit(0)).otherwise(
        occurrences(n, " ") + 1
    )


def with_quality(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Quality scoring: raw length (n_chars2 — the documents table
    already has n_chars), token count, mean token length, stopword
    ratio.  Divisions null out (not crash) on empty text under ANSI."""
    t = F.col(text_col)
    n = _norm_ws(t)
    toks = token_count(t)
    toks_nz = F.nullif(toks, F.lit(0))
    stop = sum(occurrences(_pad_ws(t), f" {w} ")
               for w in ["the", "a", "of", "and"])
    return (
        df.withColumn("n_chars2", F.length(t))
        .withColumn("n_tokens", toks)
        .withColumn("mean_tok_len", (F.length(n) - toks + 1) / toks_nz)
        .withColumn("stop_ratio", stop / toks_nz)
    )


# marker-word language ID — deterministic arithmetic heuristic
LANG_MARKERS = {
    "en": ["the", "and", "of"],
    "de": ["der", "und", "die"],
    "fr": ["le", "et", "les"],
    "es": ["el", "y", "los"],
}


def langid_col(text: Column) -> Column:
    """Predicted language = argmax of marker-word counts (ties → 'und')."""
    padded = _pad_ws(text)
    scores = {
        lang: sum(occurrences(padded, f" {w} ") for w in ws)
        for lang, ws in LANG_MARKERS.items()
    }
    langs = sorted(scores)
    best = F.greatest(*[scores[lg] for lg in langs])
    out = F.lit("und")
    for lg in reversed(langs):  # earlier alphabetical wins ties
        out = F.when((scores[lg] == best) & (best > 0), F.lit(lg)).otherwise(out)
    return out


def fingerprint_udf():
    """Rolling polynomial hash of the full text (64-bit, base 1000003).

    Document fingerprint for near-dup bookkeeping; vectorized via numpy
    over byte arrays inside an Arrow batch.
    """

    @pandas_udf("long")
    def fp(text: pd.Series) -> pd.Series:
        base = np.uint64(1000003)
        out = np.zeros(len(text), dtype=np.uint64)
        null = np.zeros(len(text), dtype=bool)
        for i, s in enumerate(text):
            if s is None:
                null[i] = True
                continue
            b = np.frombuffer(s.encode("utf-8"), dtype=np.uint8).astype(np.uint64)
            if len(b) == 0:
                continue
            # Horner unrolled: h = sum(b[j] * base^(n-1-j)) mod 2^64,
            # powers via wrapping cumprod — fully vectorized per doc
            powers = np.ones(len(b), dtype=np.uint64)
            if len(b) > 1:
                powers[1:] = base
                powers = np.cumprod(powers, dtype=np.uint64)
            out[i] = np.sum(b * powers[::-1], dtype=np.uint64)
        return pd.Series(pd.array(out.view(np.int64), dtype="Int64")
                         ).mask(null)

    return fp


_TAG_RE = None


def extract_text_py(html: bytes) -> str:
    """Python twin of ``extract_text_col`` — byte-identical output
    (pinned by test_text_invariant's twin-parity test).  Used by the
    WARC decoder's text-only projection, where extraction must happen
    INSIDE the decode mapper so html bytes never cross the Arrow
    boundary; everywhere else prefer the JVM column (whole-stage
    codegen, no Python workers)."""
    global _TAG_RE
    if _TAG_RE is None:
        import re
        _TAG_RE = re.compile(r"(?s)<head>.*?</head>|<[^>]*>")
    t = html.decode("utf-8", "replace")
    t = _TAG_RE.sub("", t)
    return t.replace("&lt;", "<").replace("&gt;", ">").replace("&amp;", "&")


def extract_text_col(html: Column) -> Column:
    """HTML -> extracted text, pure JVM expressions (whole-stage
    codegen; no Python workers): drop the <head> block, strip tags,
    unescape the three core entities.  For documents produced by
    escaping text into a tag container (the WARC fixture, and any
    pipeline that records its generator) this is an EXACT inverse —
    the byte-identical-text invariant is pytest- and oracle-enforced.
    Entity order matters: &lt;/&gt; first, &amp; last, the inverse of
    the escape order (& first)."""
    t = F.decode(html, "utf-8")
    # head-block drop and tag strip fused into one alternation pass
    # (leftmost-alternative preference makes it equivalent to the
    # sequential two-pass form): one fewer full-string allocation
    t = F.regexp_replace(t, r"(?s)<head>.*?</head>|<[^>]*>", "")
    t = F.replace(t, F.lit("&lt;"), F.lit("<"))
    t = F.replace(t, F.lit("&gt;"), F.lit(">"))
    t = F.replace(t, F.lit("&amp;"), F.lit("&"))
    return t
