"""Seeded query stream and the output check against independent judges.

Query terms are picked by document-frequency band from the index's own
term dictionary (`SegmentedIndex.term_stats`), so the stream follows the
corpus's Zipf vocabulary for any seed.  The judges are the repo's
pure-Python `OracleIndex` (lang-keyed standard/code analysis, as the
default build) and the DuckDB SQL of `oracle.sqlgen` (the Snowball chain).
"""

from __future__ import annotations

import random
import re

from lucenenet_spark.analysis.tokenizers import ENGLISH_STOP_WORDS
from lucenenet_spark.oracle.pybm25 import OracleIndex

#: one round of the stream; every class appears once per round, and the
#: term query's df band rotates hot -> mid -> rare from round to round
CLASSES = ("term", "and", "or", "phrase", "prefix")
BANDS = ("hot", "mid", "rare")
SCORE_TOL = 2e-6
_WORD = re.compile(r"^[a-z][a-z0-9]{2,}$")


def term_bands(term_stats_rows) -> dict[str, list[str]]:
    """hot / mid / rare word lists from (term, df) rows of the content
    field, most frequent first; stopwords and numbers are left out."""
    words = sorted(((r["term"], int(r["df"])) for r in term_stats_rows
                    if _WORD.match(r["term"])
                    and r["term"] not in ENGLISH_STOP_WORDS),
                   key=lambda x: (-x[1], x[0]))
    names = [w for w, df in words if df >= 3]
    n = len(names)
    return {"hot": names[:20],
            "mid": names[n // 10: n // 10 + 200],
            "rare": names[max(0, n - 200):]}


def query_stream(bands: dict[str, list[str]], seed: int,
                 rounds: int) -> list[tuple[str, str]]:
    """`rounds` rounds of (class, query string) in CLASSES order."""
    rng = random.Random(seed)
    hot, mid = bands["hot"], bands["mid"]
    out = []
    for k in range(rounds):
        for cls in CLASSES:
            if cls == "term":
                q = rng.choice(bands[BANDS[k % len(BANDS)]])
            elif cls == "and":
                q = f"+{rng.choice(hot)} +{rng.choice(mid)}"
            elif cls == "or":
                # 4, 5, 3, 4, ... terms: fixed per round, so one round
                # costs the same whatever the seed
                n = 3 + (k + 1) % 3
                q = " ".join(rng.sample(hot, 2) + rng.sample(mid, n - 2))
            elif cls == "phrase":
                a, b = rng.sample(hot, 2)
                q = f'"{a} {b}"'
            else:
                q = rng.choice(mid)[:4] + "*"
            out.append((cls, q))
    return out


def oracle_for(pdf) -> OracleIndex:
    """OracleIndex over a (doc_id, lang, content) pandas frame."""
    o = OracleIndex()
    o.primary_field = "content"
    for d, lang, text in zip(pdf["doc_id"], pdf["lang"], pdf["content"]):
        o.add(int(d), {"content": text}, lang=lang)
    return o


def same_topk(got, want) -> bool:
    """Engine rows (doc_id, score) vs judge [(doc_id, score)], in order."""
    if len(got) != len(want):
        return False
    return all(int(g[0]) == int(w[0]) and abs(float(g[1]) - float(w[1]))
               <= SCORE_TOL for g, w in zip(got, want))


def duckdb_snowball_topk(pdf, stem: str, k: int = 10) -> list[tuple]:
    """Top-k for a stemmed term over an English-Snowball index, computed
    by DuckDB from the raw text (sqlgen re-runs the whole chain in SQL)."""
    import duckdb

    from lucenenet_spark.oracle import sqlgen

    con = duckdb.connect()
    try:
        docs = pdf[["doc_id", "content"]].rename(columns={"content": "text"})
        con.register("documents", docs)
        rows = con.execute(sqlgen.snowball_term_query(stem, k=k)).fetchall()
    finally:
        con.close()
    return [(int(d), float(s)) for d, s in rows]
