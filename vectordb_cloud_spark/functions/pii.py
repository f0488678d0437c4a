"""PII detection / redaction as pure JVM column expressions.

A standard large-scale training-data curation step the reference never
needed (its corpus was user-supplied titles) but any 100 TB text pipeline
does: scrub emails, phone numbers, IPs, SSNs, and card numbers BEFORE
dedup/packing so secrets never reach shards. Everything here is
``regexp_replace`` / ``regexp_extract_all`` chains — scan-stage work inside
whole-stage codegen, no UDF, composing with the quality/lang filters in
``pipeline.py``.

Card numbers get a real Luhn check (as a column expression over the digit
array) so prose like "1234 5678 9012 3456" isn't redacted unless the
checksum actually validates — regex-only card scrubbing has a high false
positive rate on numeric tables.

Java regex dialect notes: the phone pattern uses bounded lookaround (digit
context guards), which Java/Spark regex supports but RE2-style engines do
not — if these expressions are ever pushed to an RE2 scan engine, the phone
pattern needs a rewrite; the other patterns are lookaround-free.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# order matters: longer/stricter patterns first so e.g. an email's digits
# are not half-eaten by the phone pattern
PII_PATTERNS: dict[str, str] = {
    "email": r"[A-Za-z0-9._%+\-]+@[A-Za-z0-9.\-]+\.[A-Za-z]{2,}",
    "ssn": r"\b\d{3}-\d{2}-\d{4}\b",
    "ipv4": r"\b(?:(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\.){3}"
            r"(?:25[0-5]|2[0-4]\d|1\d\d|[1-9]?\d)\b",
    # 13-19 digits with optional single space/dash separators (card shapes);
    # validated by Luhn before redaction
    "card": r"\b(?:\d[ \-]?){12,18}\d\b",
    # international-ish phone: optional +CC, then 7-14 digits with common
    # separators; anchored on digit boundaries to avoid eating timestamps.
    # The leading (?!(?:\d{4}[ \-]){2}\d) rejects matches that begin a
    # uniform 4-4-4 digit-group run — the card shape — so a Luhn-INVALID
    # card-shaped number is not half-eaten by the phone stage (the Luhn
    # gate's decision stands); real phones group as 3-3-4 / 3-4-4 / +CC
    # forms and still match.
    # KNOWN RECALL GAP (ADVICE r5): locales that format phone numbers as
    # uniform 4-4-4 digit groups (e.g. "0151 2345 6789") hit the same guard
    # and escape redaction — a deliberate precision/recall trade favoring
    # not corrupting the Luhn gate's verdict on card-shaped numbers. A
    # "+CC 4-4-4" form still matches (the +CC prefix breaks the guard's
    # anchor). If 4-4-4 phone recall matters for a corpus, narrow the guard
    # to 13+ total digits (card length floor) or run a locale-specific
    # pattern pass before this one.
    "phone": r"(?<![\d.\-])(?!(?:\d{4}[ \-]){2}\d)"
             r"\+?\d{1,3}[ \-.]?\(?\d{2,4}\)?[ \-.]?\d{3,4}[ \-.]?\d{3,4}(?![\d.\-])",
}


def _c(col: Column | str) -> Column:
    return F.col(col) if isinstance(col, str) else col


def luhn_valid(digits_str: Column) -> Column:
    """Luhn checksum over a digits-only string, as a column expression:
    reverse, double every second digit (summing >9 as digit sum - 9), total
    mod 10 == 0. ``aggregate`` over the char array — codegen, no UDF."""
    ds = F.reverse(digits_str)
    arr = F.split(ds, "")
    # split("") yields a trailing empty element on some Spark versions;
    # filter keeps only real digits
    arr = F.filter(arr, lambda c: c != "")
    total = F.aggregate(
        F.zip_with(
            arr,
            F.sequence(F.lit(0), F.size(arr) - 1),
            lambda c, i: F.when(
                i % 2 == 1,
                F.when(c.cast("int") * 2 > 9, c.cast("int") * 2 - 9)
                 .otherwise(c.cast("int") * 2),
            ).otherwise(c.cast("int")),
        ),
        F.lit(0),
        lambda acc, x: acc + x,
    )
    return (F.length(ds) >= 13) & (total % 10 == 0)


def _redact_cards(col: Column, token: str) -> Column:
    """Redact only Luhn-valid card-shaped numbers: extract candidates,
    validate each, and replace the valid ones literally. Candidate counts
    per row are tiny (regex-bounded), so the fold is cheap."""
    cands = F.regexp_extract_all(col, F.lit(f"({PII_PATTERNS['card']})"), 1)
    valid = F.filter(
        cands, lambda s: luhn_valid(F.regexp_replace(s, r"[^0-9]", ""))
    )
    # literal replace of each validated candidate, quoted with \Q...\E and
    # guarded by (?<!\d)/(?!\d) so a candidate that also occurs as a
    # SUBSTRING of a longer digit run (which was not itself validated) is
    # left alone — the extraction used \b boundaries, the replace must too
    return F.aggregate(
        valid,
        col,
        lambda acc, s: F.regexp_replace(
            acc,
            F.concat(F.lit(r"(?<!\d)\Q"), s, F.lit(r"\E(?!\d)")),
            token,
        ),
    )


def redact_pii(col: Column | str, kinds: tuple[str, ...] | None = None,
               token: str = "[PII]") -> Column:
    """Replace every PII match with ``token``. One regexp_replace per kind,
    chained — a single narrow projection over the scan at any scale."""
    out = _c(col)
    for kind in kinds or tuple(PII_PATTERNS):
        if kind == "card":
            out = _redact_cards(out, token)
        else:
            out = F.regexp_replace(out, PII_PATTERNS[kind], token)
    return out


def pii_counts(col: Column | str) -> Column:
    """Per-row audit struct: match count per PII kind (card counts only
    Luhn-valid candidates). Aggregate the struct fields for a corpus-level
    leakage report."""
    c = _c(col)
    fields = []
    for kind, pat in PII_PATTERNS.items():
        hits = F.regexp_extract_all(c, F.lit(f"({pat})"), 1)
        if kind == "card":
            hits = F.filter(
                hits, lambda s: luhn_valid(F.regexp_replace(s, r"[^0-9]", ""))
            )
        fields.append(F.size(hits).alias(kind))
    return F.struct(*fields)


def scrub_corpus(docs, text_col: str = "text", out_col: str | None = None,
                 kinds: tuple[str, ...] | None = None, token: str = "[PII]"):
    """DataFrame transform: redact PII in ``text_col`` (in place by default)
    and attach a ``__pii`` audit struct. Scan-stage only — composes with
    quality/lang filtering without an extra pass. The input is fanned out
    first (r14): the regex battery is the whole cost and a single-file
    corpus otherwise runs it on one task; a no-op on multi-file tables."""
    from vectordb_cloud_spark.session import parallelize_narrow

    out_col = out_col or text_col
    return parallelize_narrow(docs).withColumn(
        "__pii", pii_counts(text_col)
    ).withColumn(
        out_col, redact_pii(text_col, kinds=kinds, token=token)
    )
