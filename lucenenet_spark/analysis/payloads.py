"""Per-position payloads at analysis time (Payload.cs, PayloadAttribute.cs).

The reference attaches an opaque byte[] to each token position
(src/Lucene.Net/Index/Payload.cs:34-47); the standard producer is
DelimitedPayloadTokenFilter (src/contrib/Analyzers/Payloads/
DelimitedPayloadTokenFilter.cs:34-47): text of the form "token|payload"
splits at the LAST delimiter, the prefix is the term and the suffix is
encoded into the payload.  FloatEncoder parses the suffix as a float
(PayloadHelper.EncodeFloat, src/contrib/Analyzers/Payloads/
PayloadHelper.cs) — the form every Payload*Query scorer consumes through
Similarity.ScorePayload.

Spark mapping: analyzers may emit (term, position, payload: float)
triples; the segmented index stores the floats in a per-doc array
column aligned with the positions (index/segments.py pay), and
Payload*Query lowering reads them beside positions.
"""

from __future__ import annotations

DEFAULT_DELIMITER = "|"  # DelimitedPayloadTokenFilter.DEFAULT_DELIMITER


def delimited_payload_tokens(text: str | None,
                             delimiter: str = DEFAULT_DELIMITER,
                             ) -> list[tuple[str, int, float]]:
    """(term, position, payload) triples from whitespace-tokenized
    "token|payload" text.

    The underlying tokenizer must not split on the delimiter
    (DelimitedPayloadTokenFilter.cs header note), so the chain here is
    WhitespaceTokenizer -> DelimitedPayloadTokenFilter(FloatEncoder).
    A token with no delimiter (or a non-numeric suffix) passes through
    with payload 0.0 — the filter leaves the payload attribute unset and
    scorers see ScorePayload of an empty payload."""
    if not text:
        return []
    out: list[tuple[str, int, float]] = []
    for pos, tok in enumerate(text.split()):
        term, sep, suffix = tok.rpartition(delimiter)
        if not sep:
            out.append((tok, pos, 0.0))
            continue
        try:
            pay = float(suffix)
        except ValueError:
            term, pay = tok, 0.0
        out.append((term, pos, pay))
    return out


def delimited_payload_analyzer(delimiter: str = DEFAULT_DELIMITER):
    """analyzer= callable for build_segmented_index: whitespace tokens
    carrying float payloads parsed from "token|payload"."""
    def analyze(text):
        return delimited_payload_tokens(text, delimiter)
    return analyze
