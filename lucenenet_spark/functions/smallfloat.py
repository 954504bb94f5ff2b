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

Scalar forms for query-time math and goldens; numpy vector forms for
the Arrow-batched scoring kernel (norm quantization is the one piece of
ClassicSimilarity that genuinely needs float bit-twiddling, which Spark
SQL has no builtin for — the kernel runs only when the opt-in
``quantize_norms`` parity mode is on).
"""

from __future__ import annotations

import struct

import numpy as np

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


def float_to_byte315_np(f: np.ndarray) -> np.ndarray:
    """Vectorized FloatToByte315 over a float32 array."""
    bits = np.ascontiguousarray(f, dtype=np.float32).view(np.int32)
    smallfloat = bits >> (24 - 3)
    out = (smallfloat - _FZERO_315).astype(np.int32)
    out = np.where(smallfloat >= _FZERO_315 + 0x100, 255, out)
    under = smallfloat <= _FZERO_315
    out = np.where(under & (bits <= 0), 0, np.where(under, 1, out))
    return out.astype(np.uint8)


def byte315_to_float_np(b: np.ndarray) -> np.ndarray:
    """Vectorized Byte315ToFloat (the NORM_TABLE lookup)."""
    table = np.array(NORM_TABLE, dtype=np.float32)
    return table[np.asarray(b, dtype=np.uint8)]


def quantize_norm_np(dl: np.ndarray) -> np.ndarray:
    """EncodeNorm(LengthNorm(dl)) decoded back — the lossy
    1/sqrt(dl) -> byte -> float round-trip every classic-similarity
    score in the reference actually uses (DefaultSimilarity.cs:53 +
    Similarity.cs:502-504 + TermScorer's norm_decoder lookup)."""
    norms = (1.0 / np.sqrt(np.asarray(dl, dtype=np.float64))).astype(
        np.float32)
    return byte315_to_float_np(float_to_byte315_np(norms))
