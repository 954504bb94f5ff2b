"""SmallFloat — Lucene's lossy byte-quantized floats
(src/Lucene.Net/Util/SmallFloat.cs:92-117, the 3-mantissa-bit /
zeroExp-15 "315" variant behind norm bytes: Similarity.EncodeNorm =
FloatToByte315, DecodeNorm = the 256-entry NORM_TABLE,
Similarity.cs:402-417,502-504).

Semantics transcribed from the reference doc comments: values too large
round DOWN to the largest representable value, positive values too
small round UP to the smallest positive representable value, zero and
negatives encode to 0 (SmallFloat.cs underflow branch: ``bits <= 0 ->
0 else 1``).

The scalar forms are the reference.  ClassicSimilarity's opt-in
``quantize_norms`` parity mode scores with NORM_STEPS, the quantized
norm of an integer doc length tabulated once from them, so its SQL text
is a literal lookup and runs no Python worker.
"""

from __future__ import annotations

import math
import struct

_FZERO_315 = (63 - 15) << 3


def float_to_byte315(f: float) -> int:
    """SmallFloat.FloatToByte315 (SmallFloat.cs:92-105); returns 0-255."""
    bits = struct.unpack("<i", struct.pack("<f", f))[0]
    smallfloat = bits >> (24 - 3)
    if smallfloat <= _FZERO_315:
        return 0 if bits <= 0 else 1
    if smallfloat >= _FZERO_315 + 0x100:
        return 255  # the reference's (sbyte)-1, i.e. unsigned 255
    return smallfloat - _FZERO_315


def byte315_to_float(b: int) -> float:
    """SmallFloat.Byte315ToFloat (SmallFloat.cs:108-117)."""
    if b == 0:
        return 0.0
    bits = (b & 0xFF) << (24 - 3)
    bits += (63 - 15) << 24
    return struct.unpack("<f", struct.pack("<i", bits))[0]


#: Similarity.NORM_TABLE (Similarity.cs:402): decode table for all 256
#: norm bytes
NORM_TABLE: tuple[float, ...] = tuple(byte315_to_float(b)
                                      for b in range(256))


def quantized_norm(dl: int) -> float:
    """EncodeNorm(LengthNorm(dl)) decoded back — the lossy
    1/sqrt(dl) -> byte -> float round-trip every classic-similarity
    score in the reference actually uses (DefaultSimilarity.cs:53 +
    Similarity.cs:502-504 + TermScorer's norm_decoder lookup)."""
    return byte315_to_float(float_to_byte315(1.0 / math.sqrt(dl)))


def _norm_steps() -> tuple[tuple[int, ...], tuple[float, ...]]:
    """quantized_norm over dl in [1, 2^31 - 1] as a step function:
    (thresholds, values), values[0] from dl 1 and values[i] from
    thresholds[i-1].  The norm falls with dl, so each step's end is a
    binary search."""
    max_dl = 2**31 - 1
    thresholds, values = [], [quantized_norm(1)]
    lo = 1
    while quantized_norm(max_dl) != values[-1]:
        hi = max_dl  # quantized_norm(lo) == values[-1] != at hi
        while hi - lo > 1:
            mid = (lo + hi) // 2
            if quantized_norm(mid) == values[-1]:
                lo = mid
            else:
                hi = mid
        thresholds.append(hi)
        values.append(quantized_norm(hi))
        lo = hi
    return tuple(thresholds), tuple(values)


#: the quantized norm of every int32 doc length: 61 thresholds, 62 values
NORM_STEPS = _norm_steps()
