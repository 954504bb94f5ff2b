"""DuckDB oracle SQL generators — the independent re-implementation of every
queries() entry in ANSI-ish SQL, run by the correctness driver side-by-side
with the Spark plans.

Each builder mirrors the engine semantics EXACTLY (same tokenizer spec, same
BM25 constants, same round-to-6-then-order-by-(score desc, doc_id) collector
discipline).  Shared CTE prefix = the whole index build expressed in SQL.
"""

from __future__ import annotations

# Oracle-side transcriptions ONLY — sqlgen imports nothing from the
# engine packages (lucenenet_spark.analysis/functions/operators), so a
# typo in an engine table cannot silently pass both sides.  The copies
# are pinned equal by tests/test_oracle_drift.py.
from .tables import ENGLISH_STOP_WORDS, LANG_MARKERS, STANDARD_ALTERNATION

STOPLIST_SQL = ",".join(f"'{w}'" for w in sorted(ENGLISH_STOP_WORDS))
K1, B = 1.2, 0.75

# SQL literal of the shared StandardTokenizer alternation (RE2 runs the
# same leftmost-first semantics as Python re / Java regex — verified by
# tests/test_tokenizers.py cross-engine cases)
_STD_ALT_SQL = STANDARD_ALTERNATION.replace("'", "''")
# StandardFilter transform per raw token: possessive strip, acronym dot
# removal, invalid-acronym (trailing-dot HOST) repair — mirrors
# analysis/tokenizers._std_transform
_STD_XF = (
    "CASE WHEN regexp_matches(regexp_replace(t, '''s$', ''), "
    "'^(?:[a-z]\\.){2,}$') "
    "THEN replace(regexp_replace(t, '''s$', ''), '.', '') "
    "ELSE regexp_replace(regexp_replace(t, '''s$', ''), '\\.$', '') END"
)


# ---- Snowball stemmer SQL (mirrors analysis/snowball.py; suffix tables
# imported from there so the two sides cannot drift) -------------------

def _r1_en_sql(u: str) -> str:
    pat = "^.*?[aeiouy][^aeiouy]"
    return (f"(CASE WHEN {u} LIKE 'gener%' THEN 5 "
            f"WHEN regexp_matches({u}, '{pat}') "
            f"THEN length(regexp_extract({u}, '{pat}')) "
            f"ELSE length({u}) END)")


def _r2_from_r1_sql(u: str, r1: str) -> str:
    pat = "^.*?[aeiouy][^aeiouy]"
    tail = f"substr({u}, {r1} + 1)"
    return (f"(CASE WHEN regexp_matches({tail}, '{pat}') "
            f"THEN {r1} + length(regexp_extract({tail}, '{pat}')) "
            f"ELSE length({u}) END)")


def _shortv_sql(u: str) -> str:
    return (f"(regexp_matches({u}, '[^aeiouy][aeiouy][^aeiouywxY]$') OR "
            f"regexp_matches({u}, '^[aeiouy][^aeiouy]$'))")


def _porter2_ctes() -> str:
    """Vocabulary-level Porter2 as chained CTEs ending in
    stemmap(term, stem) — the exact step sequence of
    analysis/snowball.porter2_stem (EnglishStemmer.cs among tables)."""
    from .tables import (
        SB_DOUBLES as _DOUBLES, SB_EXC1 as _EXC1, SB_EXC2 as _EXC2,
        SB_STEP2 as _STEP2, SB_STEP3 as _STEP3, SB_STEP4 as _STEP4,
        SB_VALID_LI as _VALID_LI)

    exc1 = " ".join(f"WHEN '{k}' THEN '{v}'" for k, v in _EXC1.items())
    exc2 = ",".join(f"'{w}'" for w in sorted(_EXC2))
    dbl = "|".join(_DOUBLES)
    li = "".join(sorted(_VALID_LI))

    def dele(n: int) -> str:
        """step-1b ed/ing deletion + fixup, stem = w minus n chars."""
        st = f"substr(w, 1, length(w) - {n})"
        r1s = _r1_en_sql(st)
        return (f"CASE WHEN regexp_matches({st}, '[aeiouy]') THEN "
                f"CASE WHEN regexp_matches({st}, '(at|bl|iz)$') "
                f"THEN {st} || 'e' "
                f"WHEN regexp_matches({st}, '({dbl})$') "
                f"THEN substr(w, 1, length(w) - {n + 1}) "
                f"WHEN {r1s} = length({st}) AND {_shortv_sql(st)} "
                f"THEN {st} || 'e' ELSE {st} END ELSE w END")

    def sufmap(pairs, region: str, extra: str = "") -> str:
        """longest-suffix CASE: replace suffix if its start >= region."""
        lines = []
        for suf, rep in pairs:
            cond = f"length(w) - {len(suf)} >= {region}"
            out = (f"substr(w, 1, length(w) - {len(suf)}) || '{rep}'"
                   if rep else f"substr(w, 1, length(w) - {len(suf)})")
            lines.append(f"WHEN w LIKE '%{suf}' THEN "
                         f"CASE WHEN {cond} THEN {out} ELSE w END")
        return "CASE " + " ".join(lines) + f" {extra}ELSE w END"

    s2_extra = (
        f"WHEN w LIKE '%ogi' THEN CASE WHEN length(w) - 3 >= r1 "
        f"AND w LIKE '%logi' THEN substr(w, 1, length(w) - 1) ELSE w END "
        f"WHEN w LIKE '%li' THEN CASE WHEN length(w) - 2 >= r1 AND "
        f"substr(w, length(w) - 2, 1) IN "
        f"({','.join(repr(c) for c in li)}) "
        f"THEN substr(w, 1, length(w) - 2) ELSE w END ")

    step1b = " ".join(
        f"WHEN w LIKE '%{suf}' THEN " + (
            f"CASE WHEN length(w) - {len(suf)} >= {_r1_en_sql('w')} "
            f"THEN substr(w, 1, length(w) - {len(suf)}) || 'ee' "
            f"ELSE w END"
            if suf in ("eedly", "eed") else dele(len(suf)))
        for suf in ("eedly", "ingly", "edly", "eed", "ing", "ed"))

    step4 = []
    for suf in _STEP4:
        cond = f"length(w) - {len(suf)} >= r2"
        if suf == "ion":
            cond += " AND substr(w, length(w) - 3, 1) IN ('s', 't')"
        step4.append(f"WHEN w LIKE '%{suf}' THEN CASE WHEN {cond} "
                     f"THEN substr(w, 1, length(w) - {len(suf)}) "
                     f"ELSE w END")

    return f"""
sv0 AS MATERIALIZED (SELECT DISTINCT term FROM tok_f),
sv1 AS MATERIALIZED (  -- exception1 + short gate + prelude (y marking)
  SELECT term,
    CASE term {exc1} END AS exc,
    length(term) < 3 AS tiny,
    regexp_replace(
      CASE WHEN regexp_matches(term, '^y[aeiouy]')
           THEN 'Y' || substr(term, 2) ELSE term END,
      '([aeiouy])y', '\\1Y', 'g') AS w
  FROM sv0),
sv2 AS MATERIALIZED (  -- step 1a + exception2
  SELECT term, exc, tiny,
    CASE WHEN exc IS NOT NULL OR tiny THEN w
         WHEN w LIKE '%sses' THEN substr(w, 1, length(w) - 2)
         WHEN w LIKE '%ied' OR w LIKE '%ies' THEN
           substr(w, 1, length(w) - 3) ||
           CASE WHEN length(w) > 4 THEN 'i' ELSE 'ie' END
         WHEN w LIKE '%us' OR w LIKE '%ss' THEN w
         WHEN w LIKE '%s' THEN
           CASE WHEN regexp_matches(substr(w, 1, length(w) - 2),
                                    '[aeiouy]')
                THEN substr(w, 1, length(w) - 1) ELSE w END
         ELSE w END AS w
  FROM sv1),
sv3 AS MATERIALIZED (SELECT term, exc, tiny, w,
               exc IS NOT NULL OR tiny OR w IN ({exc2}) AS skip
        FROM sv2),
sv4 AS MATERIALIZED (  -- step 1b
  SELECT term, exc, tiny, skip,
    CASE WHEN skip THEN w {step1b} ELSE w END AS w
  FROM sv3),
sv5 AS MATERIALIZED (  -- step 1c
  SELECT term, exc, tiny, skip,
    CASE WHEN NOT skip AND regexp_matches(w, '.[^aeiouy][yY]$')
         THEN substr(w, 1, length(w) - 1) || 'i' ELSE w END AS w
  FROM sv4),
sv6 AS MATERIALIZED (SELECT *, {_r1_en_sql('w')} AS r1 FROM sv5),
sv7 AS MATERIALIZED (  -- step 2 (in R1)
  SELECT term, exc, tiny, skip,
    CASE WHEN skip THEN w ELSE {sufmap(_STEP2, 'r1', s2_extra)} END AS w
  FROM sv6),
sv8 AS MATERIALIZED (SELECT *, {_r1_en_sql('w')} AS r1 FROM sv7),
sv9 AS MATERIALIZED (SELECT *, {_r2_from_r1_sql('w', 'r1')} AS r2 FROM sv8),
sv10 AS MATERIALIZED (  -- step 3 (in R1; ative needs R2)
  SELECT term, exc, tiny, skip,
    CASE WHEN skip THEN w
         WHEN w LIKE '%ative' THEN
           CASE WHEN length(w) - 5 >= r1 AND length(w) - 5 >= r2
                THEN substr(w, 1, length(w) - 5) ELSE w END
         ELSE {sufmap(_STEP3, 'r1')} END AS w
  FROM sv9),
sv11 AS MATERIALIZED (SELECT *, {_r1_en_sql('w')} AS r1 FROM sv10),
sv12 AS MATERIALIZED (SELECT *, {_r2_from_r1_sql('w', 'r1')} AS r2 FROM sv11),
sv13 AS MATERIALIZED (  -- step 4 (in R2)
  SELECT term, exc, tiny, skip,
    CASE WHEN skip THEN w {" ".join(step4)} ELSE w END AS w
  FROM sv12),
sv14 AS MATERIALIZED (SELECT *, {_r1_en_sql('w')} AS r1 FROM sv13),
sv15 AS MATERIALIZED (SELECT *, {_r2_from_r1_sql('w', 'r1')} AS r2 FROM sv14),
sv16 AS MATERIALIZED (  -- step 5 + postlude
  SELECT term, exc, tiny, skip,
    CASE WHEN skip THEN w
         WHEN w LIKE '%e' AND (length(w) - 1 >= r2 OR
              (length(w) - 1 >= r1 AND
               NOT {_shortv_sql("substr(w, 1, length(w) - 1)")}))
         THEN substr(w, 1, length(w) - 1)
         WHEN w LIKE '%ll' AND length(w) - 1 >= r2
         THEN substr(w, 1, length(w) - 1)
         ELSE w END AS w
  FROM sv15),
stemmap AS MATERIALIZED (
  SELECT term,
         coalesce(exc, CASE WHEN tiny THEN term
                            ELSE replace(w, 'Y', 'y') END) AS stem
  FROM sv16)"""


def _r1_de_sql(u: str) -> str:
    pat = "^.*?[aeiouyäöü][^aeiouyäöü]"
    return (f"(CASE WHEN regexp_matches({u}, '{pat}') "
            f"THEN greatest(3, length(regexp_extract({u}, '{pat}'))) "
            f"ELSE length({u}) END)")


def _r2_de_sql(u: str) -> str:
    pat = ("^.*?[aeiouyäöü][^aeiouyäöü]"
           ".*?[aeiouyäöü][^aeiouyäöü]")
    return (f"(CASE WHEN regexp_matches({u}, '{pat}') "
            f"THEN length(regexp_extract({u}, '{pat}')) "
            f"ELSE length({u}) END)")


def _german_ctes(sub2: bool = False) -> str:
    """German Snowball as chained CTEs (mirrors
    analysis/snowball.german_stem; GermanStemmer.cs among tables).
    sub2=True adds the German2 prelude substitution pass (ae/oe/ue ->
    umlauts, ß -> ss, qu hops the two following chars and aborts the
    scan when fewer remain) as a sequential recursive CTE, mirroring
    analysis/snowball.german2_stem / German2Stemmer.cs."""
    from .tables import SB_S_ENDING as _S_ENDING, SB_ST_ENDING as _ST_ENDING
    s_end = ",".join(repr(c) for c in sorted(_S_ENDING))
    st_end = ",".join(repr(c) for c in sorted(_ST_ENDING))
    gv = "aeiouyäöü"
    mark = (f"regexp_replace(regexp_replace(w, '([{gv}])y([{gv}])', "
            f"'\\1Y\\2', 'g'), '([{gv}])u([{gv}])', '\\1U\\2', 'g')")

    step1 = " ".join(
        f"WHEN w LIKE '%{suf}' THEN CASE WHEN length(w) - {len(suf)} >= r1 "
        f"THEN substr(w, 1, length(w) - {len(suf)}) ELSE w END"
        for suf in ("ern", "es", "em", "en", "er", "e"))
    step2 = " ".join(
        f"WHEN w LIKE '%{suf}' THEN CASE WHEN length(w) - {len(suf)} >= r1 "
        f"THEN substr(w, 1, length(w) - {len(suf)}) ELSE w END"
        for suf in ("est", "en", "er"))

    if sub2:
        # marking first (ß intact), then the sequential substitution
        prelude = f"""gv1a AS MATERIALIZED (
  SELECT term, {mark.replace('w', mark.replace('w', mark))} AS w
  FROM (SELECT term, term AS w FROM gv0)),
gv1 AS MATERIALIZED (  -- German2 substitution scan (qu hop, ß -> ss)
  WITH RECURSIVE r(term, acc, rest) AS (
    SELECT term, '', w FROM gv1a
    UNION ALL
    SELECT term,
      CASE WHEN substr(rest, 1, 2) = 'qu' THEN acc || substr(rest, 1, 4)
           WHEN substr(rest, 1, 2) = 'ae' THEN acc || 'ä'
           WHEN substr(rest, 1, 2) = 'oe' THEN acc || 'ö'
           WHEN substr(rest, 1, 2) = 'ue' THEN acc || 'ü'
           WHEN substr(rest, 1, 1) = 'ß' THEN acc || 'ss'
           ELSE acc || substr(rest, 1, 1) END,
      CASE WHEN substr(rest, 1, 2) = 'qu' THEN substr(rest, 5)
           WHEN substr(rest, 1, 2) IN ('ae', 'oe', 'ue')
           THEN substr(rest, 3)
           ELSE substr(rest, 2) END
    FROM r WHERE rest <> '')
  SELECT term, acc AS w FROM r WHERE rest = '')"""
    else:
        prelude = f"""gv1 AS MATERIALIZED (  -- prelude: ss for ß, u/y between vowels marked (3-pass fixpoint)
  SELECT term, w FROM (
    SELECT term, {mark.replace('w', mark.replace('w', mark))} AS w
    FROM (SELECT term, replace(term, 'ß', 'ss') AS w FROM gv0)))"""
    return f"""
gv0 AS MATERIALIZED (SELECT DISTINCT term FROM tok_f),
{prelude},
gv2 AS MATERIALIZED (SELECT term, w, {_r1_de_sql('w')} AS r1 FROM gv1),
gv3 AS MATERIALIZED (  -- step 1 (in R1)
  SELECT term,
    CASE {step1}
         WHEN w LIKE '%s' THEN
           CASE WHEN length(w) - 1 >= r1 AND
                     substr(w, length(w) - 1, 1) IN ({s_end})
                THEN substr(w, 1, length(w) - 1) ELSE w END
         ELSE w END AS w
  FROM gv2),
gv4 AS MATERIALIZED (SELECT term, w, {_r1_de_sql('w')} AS r1 FROM gv3),
gv5 AS MATERIALIZED (  -- step 2 (in R1)
  SELECT term,
    CASE {step2}
         WHEN w LIKE '%st' THEN
           CASE WHEN length(w) - 2 >= r1 AND length(w) >= 6 AND
                     substr(w, length(w) - 2, 1) IN ({st_end})
                THEN substr(w, 1, length(w) - 2) ELSE w END
         ELSE w END AS w
  FROM gv4),
gv6 AS MATERIALIZED (SELECT term, w, {_r1_de_sql('w')} AS r1,
               {_r2_de_sql('w')} AS r2 FROM gv5),
gv7 AS MATERIALIZED (  -- step 3 (d-suffixes in R2), first tier
  SELECT term, r1,
    CASE WHEN (w LIKE '%end' OR w LIKE '%ung')
              AND length(w) - 3 >= r2
         THEN substr(w, 1, length(w) - 3)
         WHEN w LIKE '%isch' AND length(w) - 4 >= r2
              AND w NOT LIKE '%eisch'
         THEN substr(w, 1, length(w) - 4)
         WHEN (w LIKE '%lich' OR w LIKE '%heit' OR w LIKE '%keit')
              AND length(w) - 4 >= r2
         THEN substr(w, 1, length(w) - 4)
         WHEN (w LIKE '%ig' OR w LIKE '%ik') AND length(w) - 2 >= r2
              AND w NOT LIKE '%eig' AND w NOT LIKE '%eik'
         THEN substr(w, 1, length(w) - 2)
         ELSE w END AS w,
    CASE WHEN (w LIKE '%end' OR w LIKE '%ung')
              AND length(w) - 3 >= r2 THEN 'endung'
         WHEN (w LIKE '%lich' OR w LIKE '%heit')
              AND length(w) - 4 >= r2 THEN 'lichheit'
         WHEN w LIKE '%keit' AND length(w) - 4 >= r2 THEN 'keit'
         ELSE '' END AS did
  FROM gv6),
gv8 AS MATERIALIZED (  -- step 3 second tier (the try(...) continuations)
  SELECT term,
    CASE WHEN did = 'endung' AND w LIKE '%ig' AND w NOT LIKE '%eig'
              AND length(w) - 2 >= {_r2_de_sql('w')}
         THEN substr(w, 1, length(w) - 2)
         WHEN did = 'lichheit' AND (w LIKE '%er' OR w LIKE '%en')
              AND length(w) - 2 >= {_r1_de_sql('w')}
         THEN substr(w, 1, length(w) - 2)
         WHEN did = 'keit' AND w LIKE '%lich'
              AND length(w) - 4 >= {_r2_de_sql('w')}
         THEN substr(w, 1, length(w) - 4)
         WHEN did = 'keit' AND w LIKE '%ig'
              AND length(w) - 2 >= {_r2_de_sql('w')}
         THEN substr(w, 1, length(w) - 2)
         ELSE w END AS w
  FROM gv7),
stemmap AS MATERIALIZED (
  SELECT term,
         replace(replace(replace(replace(replace(
           w, 'Y', 'y'), 'U', 'u'), 'ä', 'a'), 'ö', 'o'), 'ü', 'u')
         AS stem
  FROM gv8)"""


def base_ctes(table: str = "documents", id_col: str = "doc_id",
              text_col: str = "text", stemmer: str | None = None,
              synonyms: dict[str, tuple[str, ...]] | None = None,
              auto_stop_pct: float | None = None,
              stop_words=None) -> str:
    """tk(all tokens+pos) -> tokens(stop/len filtered[, stemmed]) -> dl,
    st(n,avgdl), post(term,doc,tf,dl), dfs(term,df) — the index build in
    SQL.  stemmer='english'|'german' inserts the Snowball vocabulary
    chain (mirrors analysis/snowball.py step for step) between the stop
    filter and the postings aggregation, with the German chain swapping
    in GERMAN_STOP_WORDS like the analyzer does.  synonyms= injects each
    word's synonyms at the SOURCE token's position (posIncrement=0
    stacking; they count toward dl) — the analysis/synonyms.py
    synonym_analyzer twin."""
    if stemmer and synonyms:
        raise ValueError("stemmer and synonyms are separate chains")
    stop_sql = STOPLIST_SQL
    if stop_words is not None:
        # language-analyzer stop-set override (e.g. CzechAnalyzer's
        # standard chain with the Czech list; czech_term_query)
        stop_sql = ",".join(f"'{w}'" for w in sorted(stop_words))
    stem_ctes = ""
    if stemmer == "english":
        stem_ctes = "," + _porter2_ctes()
    elif stemmer in ("german", "german2"):
        from .tables import GERMAN_STOP_WORDS
        stop_sql = ",".join(f"'{w}'" for w in sorted(GERMAN_STOP_WORDS))
        stem_ctes = "," + _german_ctes(sub2=(stemmer == "german2"))
    elif stemmer is not None:
        # round-5 Snowball breadth: standard chain with NO stop set
        # (the contrib ships no stop lists for these languages;
        # analysis/snowball_ext._plain_snowball_analyzer twin)
        from . import snowball_sql
        builder = {
            "swedish": snowball_sql.swedish_ctes,
            "danish": snowball_sql.danish_ctes,
            "norwegian": snowball_sql.norwegian_ctes,
            "finnish": snowball_sql.finnish_ctes,
            "romanian": snowball_sql.romanian_ctes,
            "hungarian": snowball_sql.hungarian_ctes,
            "lovins": snowball_sql.lovins_ctes,
            "dutch": snowball_sql.dutch_ctes,
            "spanish": snowball_sql.spanish_ctes,
            "portuguese": snowball_sql.portuguese_ctes,
            "italian": snowball_sql.italian_ctes,
            "french": snowball_sql.french_ctes,
        }[stemmer]
        stop_sql = None
        stem_ctes = "," + builder()
    if auto_stop_pct is not None:
        # QueryAutoStopWordAnalyzer twin (analysis/misc.auto_stopwords):
        # stop terms = df > int(numDocs * pct) over the DELEGATE chain
        stem_ctes = f""",
astop AS (
  SELECT term FROM (
    SELECT term, count(DISTINCT doc_id) AS df0 FROM tok_f GROUP BY term)
  WHERE df0 > floor((SELECT count(*) FROM {table}) * {auto_stop_pct})::BIGINT
)"""
        tokens_cte = """tokens AS (
  SELECT * FROM tok_f ANTI JOIN astop USING (term)
)"""
    elif synonyms:
        vals = ", ".join(f"('{w}', '{s}')"
                         for w in sorted(synonyms) for s in synonyms[w])
        stem_ctes = f""",
synmap(word, syn) AS (SELECT * FROM (VALUES {vals}))"""
        tokens_cte = """tokens AS (
  SELECT * FROM tok_f
  UNION ALL
  SELECT t.doc_id, m.syn AS term, t.pos
  FROM tok_f t JOIN synmap m ON t.term = m.word
)"""
    else:
        tokens_cte = (
            """tokens AS (
  SELECT t.doc_id, m.stem AS term, t.pos
  FROM tok_f t JOIN stemmap m USING (term)
)""" if stemmer else
            "tokens AS (SELECT * FROM tok_f)")
    stop_filter = (f" AND term NOT IN ({stop_sql})"
                   if stop_sql is not None else "")
    return f"""
tk AS (
  SELECT {id_col} AS doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM (SELECT {id_col},
               list_transform(
                 regexp_extract_all(lower({text_col}), '{_STD_ALT_SQL}'),
                 t -> {_STD_XF}) AS toks
        FROM {table})
),
tok_f AS (
  SELECT * FROM tk
  WHERE length(term) <= 255{stop_filter}
){stem_ctes},
{tokens_cte},
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM tokens)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl
  FROM tokens t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)"""


def _bm25(tf: str = "p.tf", dl: str = "p.dl", df: str = "f.df") -> str:
    return (
        f"ln(1 + (st.n - {df} + 0.5)/({df} + 0.5)) * "
        f"({tf} * {K1 + 1.0}) / ({tf} + {K1} * ({1.0 - B} + {B} * {dl} / st.avgdl))"
    )


def _tfidf(tf: str = "p.tf", dl: str = "p.dl", df: str = "f.df") -> str:
    """ClassicSimilarity per-term score (DefaultSimilarity.cs): idf^2 *
    sqrt(tf) / sqrt(dl) — queryNorm omitted (rank-neutral constant)."""
    return (
        f"pow(ln(st.n::DOUBLE/({df} + 1.0)) + 1.0, 2) * "
        f"sqrt({tf}::DOUBLE) / sqrt({dl}::DOUBLE)"
    )


def tfidf_term_query(term: str, k: int = 10, boost: float = 1.0,
                     table: str = "documents") -> str:
    return f"""WITH {base_ctes(table)}
SELECT p.doc_id, round({boost} * {_tfidf()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def tfidf_bool_or(terms: list[str], k: int = 10,
                  table: str = "documents") -> str:
    """Disjunctive TF-IDF: per-doc sum of classic term scores."""
    rows = ",".join(f"('{t}')" for t in terms)
    return f"""WITH {base_ctes(table)},
qt AS (SELECT * FROM (VALUES {rows}) v(term)),
sc AS (
  SELECT p.doc_id, {_tfidf()} AS s
  FROM post p JOIN qt q USING (term) JOIN dfs f USING (term) CROSS JOIN st
)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
{_topk(k)}"""


def _topk(k: int) -> str:
    return f"ORDER BY score DESC, doc_id LIMIT {k}"


def term_query(term: str, k: int = 10, boost: float = 1.0,
               table: str = "documents",
               synonyms: dict[str, tuple[str, ...]] | None = None,
               auto_stop_pct: float | None = None) -> str:
    return f"""WITH {base_ctes(table, synonyms=synonyms,
                               auto_stop_pct=auto_stop_pct)}
SELECT p.doc_id, round({boost} * {_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def snowball_term_query(term: str, k: int = 10, lang: str = "english",
                        table: str = "documents") -> str:
    """Term query over a Snowball-stemmed index (SnowballAnalyzer
    analogue): the base CTEs re-run the full stemmer chain in SQL
    (vocabulary-level, _porter2_ctes/_german_ctes).  `term` must already
    be the stemmed query term, as in the engine."""
    return f"""WITH {base_ctes(table, stemmer=lang)}
SELECT p.doc_id, round({_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def bool_query(must: list[tuple[str, float]] = (),
               should: list[tuple[str, float]] = (),
               must_not: list[str] = (), min_should_match: int = 0,
               k: int = 10, boost: float = 1.0,
               table: str = "documents") -> str:
    """Boolean scoring: one VALUES join carrying (term, clause boost,
    is_must, is_should) -> groupBy(doc) HAVING — mirrors the engine's
    single union+groupBy plan."""
    rows = [f"('{t}', {bst}::DOUBLE, 1, 0)" for t, bst in must]
    rows += [f"('{t}', {bst}::DOUBLE, 0, 1)" for t, bst in should]
    msm = min_should_match
    if should and not must and msm < 1:
        msm = 1
    notf = ""
    if must_not:
        terms = ",".join(f"'{t}'" for t in must_not)
        notf = f"AND s.doc_id NOT IN (SELECT doc_id FROM post WHERE term IN ({terms}))"
    return f"""WITH {base_ctes(table)},
qt AS (SELECT * FROM (VALUES {", ".join(rows)}) v(term, bst, m, sh)),
sc AS (
  SELECT p.doc_id, q.m, q.sh, q.bst * {_bm25()} AS s
  FROM post p JOIN qt q USING (term) JOIN dfs f USING (term) CROSS JOIN st
)
SELECT s.doc_id, round(sum(s.s) * {boost}, 6) AS score
FROM sc s
WHERE true {notf}
GROUP BY s.doc_id
HAVING sum(s.m) = {len(list(must))} AND sum(s.sh) >= {msm}
{_topk(k)}"""


def dismax_query(terms: list[tuple[str, float]], tie: float = 0.0,
                 k: int = 10, table: str = "documents") -> str:
    rows = [f"('{t}', {bst}::DOUBLE)" for t, bst in terms]
    return f"""WITH {base_ctes(table)},
qt AS (SELECT * FROM (VALUES {", ".join(rows)}) v(term, bst)),
sc AS (
  SELECT p.doc_id, q.bst * {_bm25()} AS s
  FROM post p JOIN qt q USING (term) JOIN dfs f USING (term) CROSS JOIN st
)
SELECT doc_id, round(max(s) + {tie} * (sum(s) - max(s)), 6) AS score
FROM sc GROUP BY doc_id
{_topk(k)}"""


def phrase_query(terms: list[str], offsets: list[int] | None = None,
                 slop: int = 0, k: int = 10, boost: float = 1.0,
                 table: str = "documents") -> str:
    offs = offsets if offsets is not None else list(range(len(terms)))
    idf_terms = ",".join(f"('{t}')" for t in terms)
    idf_cte = f"""idfv AS (
  SELECT sum(ln(1 + (st.n - f.df + 0.5)/(f.df + 0.5))) AS v
  FROM (VALUES {idf_terms}) q(term) JOIN dfs f USING (term) CROSS JOIN st
)"""
    if slop == 0:
        joins, conds = [], []
        for i, (t, o) in enumerate(zip(terms, offs)):
            if i == 0:
                continue
            joins.append(
                f"JOIN tokens t{i} ON t{i}.doc_id = t0.doc_id "
                f"AND t{i}.pos - {o} = t0.pos - {offs[0]} AND t{i}.term = '{t}'"
            )
        freq_cte = f"""cand AS (
  SELECT t0.doc_id, t0.pos - {offs[0]} AS base
  FROM tokens t0 {' '.join(joins)}
  WHERE t0.term = '{terms[0]}'
),
freqs AS (SELECT doc_id, count(DISTINCT base)::DOUBLE AS freq FROM cand GROUP BY doc_id)"""
    else:
        # any-arity sloppy: n-way position join; every tuple with spread
        # d = max - min <= slop contributes 1/(1+d) (mirrors the engine's
        # nested-fold spec; for 2 terms greatest-least == abs diff)
        shifted = [f"(t{i}.pos - {o})" for i, o in enumerate(offs)]
        joins = [
            f"JOIN tokens t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.term = '{t}'"
            for i, t in enumerate(terms) if i > 0
        ]
        freq_cte = f"""cand AS (
  SELECT t0.doc_id,
         greatest({", ".join(shifted)}) - least({", ".join(shifted)}) AS d
  FROM tokens t0 {' '.join(joins)}
  WHERE t0.term = '{terms[0]}'
),
freqs AS (SELECT doc_id, sum(1.0/(1.0+d)) AS freq FROM cand WHERE d <= {slop} GROUP BY doc_id)"""
    return f"""WITH {base_ctes(table)},
{idf_cte},
{freq_cte}
SELECT fr.doc_id,
       round({boost} * idfv.v * (fr.freq * {K1 + 1.0}) /
             (fr.freq + {K1} * ({1.0 - B} + {B} * d.dl / st.avgdl)), 6) AS score
FROM freqs fr JOIN dl d USING (doc_id) CROSS JOIN idfv CROSS JOIN st
WHERE fr.freq > 0
{_topk(k)}"""


def constant_multiterm(term_pred: str, boost: float = 1.0, k: int = 10,
                       table: str = "documents") -> str:
    """CONSTANT_SCORE rewrite for prefix/wildcard/range: term predicate on
    the postings term column, distinct docs, uniform score."""
    return f"""WITH {base_ctes(table)}
SELECT DISTINCT doc_id, {boost}::DOUBLE AS score
FROM post WHERE {term_pred}
{_topk(k)}"""


def fuzzy_query(term: str, min_sim: float = 0.5, prefix_len: int = 0,
                k: int = 10, boost: float = 1.0,
                table: str = "documents") -> str:
    pre = (
        f"AND term LIKE '{term[:prefix_len]}%'" if prefix_len > 0 else ""
    )
    return f"""WITH {base_ctes(table)},
cand AS (
  SELECT * FROM (
    SELECT term, df,
           1.0 - levenshtein(term, '{term}')::DOUBLE /
                 least(length(term), {len(term)})::DOUBLE AS sim
    FROM dfs
    WHERE true {pre}
  ) WHERE sim >= {min_sim}
  ORDER BY sim DESC, term LIMIT 1024
),
sc AS (
  SELECT p.doc_id,
         (c.sim - {min_sim}) / (1.0 - {min_sim}) * {boost} *
         {_bm25(df="c.df")} AS s
  FROM post p JOIN cand c USING (term) CROSS JOIN st
)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
{_topk(k)}"""


def multiphrase_query(terms_at: list[list[str]],
                      offsets: list[int] | None = None, k: int = 10,
                      boost: float = 1.0, table: str = "documents") -> str:
    """MultiPhraseQuery: per position an IN-set of alternatives; a doc
    matches at base b iff every position has SOME alternative aligned.
    idf sums over all alternative terms present in the index."""
    offs = offsets if offsets is not None else list(range(len(terms_at)))
    all_terms = ",".join(f"('{t}')" for alts in terms_at for t in alts)
    idf_cte = f"""idfv AS (
  SELECT sum(ln(1 + (st.n - f.df + 0.5)/(f.df + 0.5))) AS v
  FROM (VALUES {all_terms}) q(term) JOIN dfs f USING (term) CROSS JOIN st
)"""
    joins = []
    for i, (alts, o) in enumerate(zip(terms_at, offs)):
        inl = ",".join(f"'{t}'" for t in alts)
        if i == 0:
            continue
        joins.append(
            f"JOIN tokens t{i} ON t{i}.doc_id = t0.doc_id "
            f"AND t{i}.pos - {o} = t0.pos - {offs[0]} "
            f"AND t{i}.term IN ({inl})")
    in0 = ",".join(f"'{t}'" for t in terms_at[0])
    return f"""WITH {base_ctes(table)},
{idf_cte},
cand AS (
  SELECT t0.doc_id, t0.pos - {offs[0]} AS base
  FROM tokens t0 {' '.join(joins)}
  WHERE t0.term IN ({in0})
),
freqs AS (SELECT doc_id, count(DISTINCT base)::DOUBLE AS freq
          FROM cand GROUP BY doc_id)
SELECT fr.doc_id,
       round({boost} * idfv.v * (fr.freq * {K1 + 1.0}) /
             (fr.freq + {K1} * ({1.0 - B} + {B} * d.dl / st.avgdl)), 6) AS score
FROM freqs fr JOIN dl d USING (doc_id) CROSS JOIN idfv CROSS JOIN st
WHERE fr.freq > 0
{_topk(k)}"""


def numeric_range(column: str, lower: float | None, upper: float | None,
                  include_lower: bool = True, include_upper: bool = True,
                  k: int = 10, boost: float = 1.0,
                  table: str = "documents") -> str:
    conds = []
    if lower is not None:
        conds.append(f"{column} {'>=' if include_lower else '>'} {lower}")
    if upper is not None:
        conds.append(f"{column} {'<=' if include_upper else '<'} {upper}")
    where = " AND ".join(conds) or "true"
    return f"""SELECT doc_id, {boost}::DOUBLE AS score
FROM {table} WHERE {where}
{_topk(k)}"""


def boosting_query(match_term: str, context_term: str,
                   context_boost: float = 0.5, k: int = 10,
                   table: str = "documents") -> str:
    """contrib BoostingQuery: BM25 on match_term; docs also containing
    context_term have their score multiplied by context_boost."""
    return f"""WITH {base_ctes(table)},
ctx AS (SELECT DISTINCT doc_id FROM post WHERE term = '{context_term}')
SELECT p.doc_id AS doc_id,
       round({_bm25()} * CASE WHEN c.doc_id IS NOT NULL
                              THEN {context_boost} ELSE 1.0 END, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
LEFT JOIN ctx c ON c.doc_id = p.doc_id
WHERE p.term = '{match_term}'
ORDER BY score DESC, p.doc_id LIMIT {k}"""


def dedup_by_key(term: str, key_col: str, k: int = 10,
                 table: str = "documents") -> str:
    """contrib DuplicateFilter: among term matches keep the lowest doc_id
    per key value (KM_USE_FIRST_OCCURRENCE)."""
    return f"""WITH {base_ctes(table)},
sc AS (
  SELECT p.doc_id, {_bm25()} AS s
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term = '{term}'
),
keyed AS (
  SELECT sc.doc_id, sc.s,
         row_number() OVER (PARTITION BY t.{key_col}
                            ORDER BY sc.doc_id) AS rn
  FROM sc JOIN {table} t USING (doc_id)
)
SELECT doc_id, round(s, 6) AS score FROM keyed WHERE rn = 1
{_topk(k)}"""


def deleted_term(term: str, delete_pred: str, k: int = 10,
                 table: str = "documents") -> str:
    """Term query over an index with tombstoned docs (delete_pred selects
    the deleted rows) — the tombstone anti-join."""
    return f"""WITH {base_ctes(table)}
SELECT p.doc_id, round({_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
  AND p.doc_id NOT IN (SELECT doc_id FROM {table} WHERE {delete_pred})
{_topk(k)}"""


def deleted_bool_or(terms: list[tuple[str, float]], delete_pred: str,
                    k: int = 10, table: str = "documents") -> str:
    """Disjunctive BM25 over an index with tombstoned docs: deleted rows
    leave the hit set but df/N keep counting them (the reference's
    semantics before a purge) — the oracle of an OR over a tombstoned
    index."""
    rows = [f"('{t}', {bst}::DOUBLE)" for t, bst in terms]
    return f"""WITH {base_ctes(table)},
qt AS (SELECT * FROM (VALUES {", ".join(rows)}) v(term, bst)),
sc AS (
  SELECT p.doc_id, q.bst * {_bm25()} AS s
  FROM post p JOIN qt q USING (term) JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.doc_id NOT IN (SELECT doc_id FROM {table} WHERE {delete_pred})
)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
{_topk(k)}"""


def geo_distance_topk(center_lat: float, center_lon: float,
                      radius_km: float, k: int = 10,
                      table: str = "documents") -> str:
    """Spatial distance top-k over the deterministic lat/lon derivation
    (lat = (doc_id*7919 % 18000)/100 - 90, lon = (doc_id*104729 %
    36000)/100 - 180): haversine within radius, nearest first, doc_id
    tie-break — mirrors operators/spatial.distance_topk exactly (the
    bounding-box prefilter on the Spark side is a superset filter, so the
    radius predicate alone reproduces the result set)."""
    return f"""WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon
  FROM {table}
),
d AS (
  SELECT doc_id, round(2 * 6371.0088 * asin(sqrt(
    pow(sin(radians(lat - ({center_lat})) / 2), 2) +
    cos(radians({center_lat})) * cos(radians(lat)) *
    pow(sin(radians(lon - ({center_lon})) / 2), 2))), 6) AS distance_km
  FROM pts
)
SELECT doc_id, distance_km FROM d WHERE distance_km <= {radius_km}
ORDER BY distance_km, doc_id LIMIT {k}"""


def geo_polygon_topk(polygon, k: int = 10,
                     table: str = "documents") -> str:
    """Polygon relate over the deterministic lat/lon derivation:
    even-odd ray cast (horizontal edges dropped), constant score,
    doc_id order — the exact-verify contract of
    operators/spatial.polygon_search (whose quad-covering prefilter is
    a superset, so the ray cast alone reproduces the result set)."""
    terms = []
    n = len(polygon)
    for i in range(n):
        y1, x1 = float(polygon[i][0]), float(polygon[i][1])
        y2, x2 = (float(polygon[(i + 1) % n][0]),
                  float(polygon[(i + 1) % n][1]))
        if y1 == y2:
            continue
        slope = (x2 - x1) / (y2 - y1)
        terms.append(
            f"CASE WHEN (({y1!r} > lat) <> ({y2!r} > lat)) AND "
            f"lon < {slope!r} * (lat - {y1!r}) + {x1!r} "
            f"THEN 1 ELSE 0 END")
    cross = " + ".join(terms) if terms else "0"
    return f"""WITH pts AS (
  SELECT doc_id,
         ((doc_id * 7919) % 18000) / 100.0 - 90.0 AS lat,
         ((doc_id * 104729) % 36000) / 100.0 - 180.0 AS lon
  FROM {table}
)
SELECT doc_id, CAST(1.0 AS DOUBLE) AS score FROM pts
WHERE ({cross}) % 2 = 1
ORDER BY doc_id LIMIT {k}"""


def more_like_this(src_doc: int, max_terms: int = 5, k: int = 10,
                   table: str = "documents") -> str:
    """Top tf*idf terms of src_doc -> disjunctive BM25, source excluded.
    Selection: tf * idf desc, term asc, LIMIT max_terms (must match
    Searcher.more_like_this exactly)."""
    return f"""WITH {base_ctes(table)},
mlt AS (
  SELECT p.term
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.doc_id = {src_doc}
  ORDER BY p.tf * ln(1 + (st.n - f.df + 0.5)/(f.df + 0.5)) DESC, p.term
  LIMIT {max_terms}
),
sc AS (
  SELECT p.doc_id, {_bm25()} AS s
  FROM post p JOIN mlt USING (term) JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.doc_id <> {src_doc}
)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
{_topk(k)}"""


def ivf_topk(query_id: int = 0, k: int = 10, nlist: int = 16,
             nprobe: int = 4, table: str = "embeddings") -> str:
    """IVF probe: centroids = embeddings of vec_id < nlist; cell = argmax
    round(cosine,6) (ties -> lower centroid id); probe the nprobe cells
    nearest the query; exact cosine top-k inside them."""
    return f"""WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM {table} WHERE vec_id < {nlist}
),
q AS (SELECT embedding AS qv FROM {table} WHERE vec_id = {query_id}),
cosqc AS (
  SELECT c.cid,
         round(list_dot_product(c.cv::DOUBLE[], q.qv::DOUBLE[]) /
               (sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[])) *
                sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cos
  FROM cent c CROSS JOIN q
),
probe AS (SELECT cid FROM cosqc ORDER BY cos DESC, cid LIMIT {nprobe}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[]) /
                            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                             sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6) DESC,
                      c.cid
           ) AS rn
    FROM {table} e CROSS JOIN cent c
  ) WHERE rn = 1
),
cand AS (
  SELECT e.vec_id, e.embedding FROM {table} e
  JOIN assign a USING (vec_id) JOIN probe p ON a.cid = p.cid
)
SELECT c.vec_id,
       round(list_dot_product(c.embedding::DOUBLE[], q.qv::DOUBLE[]) /
             (sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])) *
              sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cosine
FROM cand c CROSS JOIN q
WHERE c.vec_id <> {query_id}
ORDER BY cosine DESC, c.vec_id LIMIT {k}"""


def rp_lsh_topk(query_id: int = 0, k: int = 10, tables: int = 4,
                planes: int = 8, dim: int = 64,
                table: str = "embeddings") -> str:
    """Exact oracle for the random-hyperplane LSH probe: the md5-derived
    hyperplanes (operators/ann._hyperplane) and the LEFT-FOLD float64 dot
    products are reproduced bit-for-bit (`list_reduce` associates like
    Spark's `aggregate` and the kernel's per-dimension accumulation), so
    the candidate set — and therefore the re-ranked top-k — is identical.
    """
    scale = "576460752303423488.0"  # 1 << 59
    fold = (
        "list_reduce(list_transform(range(1, {n}), i -> "
        "{vec}[i]::DOUBLE * pl.pv[i]), (a,b) -> a + b)"
    )
    e_dot = fold.format(n=dim + 1, vec="e.embedding")
    q_dot = fold.format(n=dim + 1, vec="q.qv")
    return f"""WITH q AS (SELECT embedding AS qv FROM {table} WHERE vec_id = {query_id}),
pl AS (
  SELECT tt.t, pp.p,
         list_transform(range({dim}), d ->
           ('0x'||substr(md5(tt.t||':'||pp.p||':'||d),1,15))::BIGINT / {scale} - 1.0) AS pv
  FROM (SELECT unnest(range({tables})) AS t) tt
  CROSS JOIN (SELECT unnest(range({planes})) AS p) pp
),
eb AS (
  SELECT e.vec_id, pl.t,
         sum(CASE WHEN {e_dot} >= 0 THEN 1::BIGINT << pl.p ELSE 0 END) AS bucket
  FROM {table} e CROSS JOIN pl
  GROUP BY e.vec_id, pl.t
),
qb AS (
  SELECT pl.t,
         sum(CASE WHEN {q_dot} >= 0 THEN 1::BIGINT << pl.p ELSE 0 END) AS bucket
  FROM pl CROSS JOIN q
  GROUP BY pl.t
),
cand AS (
  SELECT DISTINCT e.vec_id FROM eb e JOIN qb ON e.t = qb.t AND e.bucket = qb.bucket
),
pairs AS (
  SELECT c.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM cand c JOIN {table} e USING (vec_id) CROSS JOIN q
),
d AS (
  SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS nx, sqrt(sum(y*y)) AS ny
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, round(dot/(nx*ny), 6) AS cosine FROM d
WHERE vec_id <> {query_id}
ORDER BY cosine DESC, vec_id LIMIT {k}"""


def _span_score_tail(k: int, boost: float) -> str:
    """Shared scoring tail over sp(doc_id, s, e): freq = Σ 1/(1+(e-s)),
    score = boost * idf_sum * tf_norm(freq, dl) — SpanScorer semantics."""
    return f"""freqs AS (
  SELECT doc_id, sum(1.0/(1.0 + (e - s))) AS freq FROM sp GROUP BY doc_id
)
SELECT fr.doc_id,
       round({boost} * idfv.v * (fr.freq * {K1 + 1.0}) /
             (fr.freq + {K1} * ({1.0 - B} + {B} * d.dl / st.avgdl)), 6) AS score
FROM freqs fr JOIN dl d USING (doc_id) CROSS JOIN idfv CROSS JOIN st
WHERE fr.freq > 0
{_topk(k)}"""


def _span_idf_cte(terms: list[str]) -> str:
    vals = ",".join(f"('{t}')" for t in terms)
    return f"""idfv AS (
  SELECT sum(ln(1 + (st.n - f.df + 0.5)/(f.df + 0.5))) AS v
  FROM (VALUES {vals}) q(term) JOIN dfs f USING (term) CROSS JOIN st
)"""


def span_near(terms: list[str], slop: int = 0, in_order: bool = True,
              k: int = 10, boost: float = 1.0,
              table: str = "documents") -> str:
    """SpanNearQuery over term leaves: one occurrence per clause, combined
    span (min pos, max pos + 1); in_order => strictly ascending positions;
    unordered => pairwise-distinct positions; total-gap slop rule."""
    n = len(terms)
    joins = []
    for i, t in enumerate(terms):
        if i == 0:
            continue
        cond = f"t{i}.doc_id = t0.doc_id AND t{i}.term = '{t}'"
        if in_order:
            cond += f" AND t{i}.pos >= t{i - 1}.pos + 1"
        joins.append(f"JOIN tokens t{i} ON {cond}")
    uno = ""
    if not in_order:
        pairs = [f"t{i}.pos <> t{m}.pos"
                 for i in range(n) for m in range(i + 1, n)]
        uno = " AND " + " AND ".join(pairs) if pairs else ""
    poss = ", ".join(f"t{i}.pos" for i in range(n))
    return f"""WITH {base_ctes(table)},
{_span_idf_cte(terms)},
sp AS (
  SELECT DISTINCT t0.doc_id,
         least({poss}) AS s, greatest({poss}) + 1 AS e
  FROM tokens t0 {' '.join(joins)}
  WHERE t0.term = '{terms[0]}'{uno}
    AND (greatest({poss}) + 1 - least({poss})) - {n} <= {slop}
),
{_span_score_tail(k, boost)}"""


def span_or(terms: list[str], k: int = 10, boost: float = 1.0,
            table: str = "documents") -> str:
    """SpanOrQuery over term leaves: spans = union of every leaf's
    occurrences (one token per position, so DISTINCT is a no-op safety);
    idf sums over all leaves (SpanOrQuery.cs + SpanWeight.ExtractTerms)."""
    lst = ", ".join(f"'{t}'" for t in terms)
    return f"""WITH {base_ctes(table)},
{_span_idf_cte(terms)},
sp AS (
  SELECT DISTINCT doc_id, pos AS s, pos + 1 AS e FROM tokens
  WHERE term IN ({lst})
),
{_span_score_tail(k, boost)}"""


def span_first(term: str, end: int, k: int = 10, boost: float = 1.0,
               table: str = "documents") -> str:
    """SpanFirstQuery over a term leaf: occurrences ending by `end`."""
    return f"""WITH {base_ctes(table)},
{_span_idf_cte([term])},
sp AS (
  SELECT doc_id, pos AS s, pos + 1 AS e FROM tokens
  WHERE term = '{term}' AND pos + 1 <= {end}
),
{_span_score_tail(k, boost)}"""


def span_not_near(inc_terms: list[str], slop: int, exclude: str,
                  k: int = 10, boost: float = 1.0,
                  table: str = "documents") -> str:
    """SpanNot(include=ordered SpanNear(inc_terms), exclude=SpanTerm):
    include spans overlapping no occurrence of `exclude` survive."""
    n = len(inc_terms)
    joins = []
    for i, t in enumerate(inc_terms):
        if i == 0:
            continue
        joins.append(f"JOIN tokens t{i} ON t{i}.doc_id = t0.doc_id "
                     f"AND t{i}.term = '{t}' AND t{i}.pos >= t{i - 1}.pos + 1")
    poss = ", ".join(f"t{i}.pos" for i in range(n))
    return f"""WITH {base_ctes(table)},
{_span_idf_cte(inc_terms)},
sp0 AS (
  SELECT DISTINCT t0.doc_id,
         least({poss}) AS s, greatest({poss}) + 1 AS e
  FROM tokens t0 {' '.join(joins)}
  WHERE t0.term = '{inc_terms[0]}'
    AND (greatest({poss}) + 1 - least({poss})) - {n} <= {slop}
),
sp AS (
  SELECT * FROM sp0
  WHERE NOT EXISTS (
    SELECT 1 FROM tokens x
    WHERE x.doc_id = sp0.doc_id AND x.term = '{exclude}'
      AND x.pos < sp0.e AND x.pos + 1 > sp0.s
  )
),
{_span_score_tail(k, boost)}"""


def field_score(column: str, k: int = 10, boost: float = 1.0,
                table: str = "documents") -> str:
    """FieldScoreQuery: score = numeric column value x boost, all docs."""
    return f"""SELECT doc_id, round({boost}::DOUBLE * {column}, 6) AS score
FROM {table}
{_topk(k)}"""


def ord_score(column: str, k: int = 10, reverse: bool = False,
              boost: float = 1.0, table: str = "documents") -> str:
    """Ord/ReverseOrdFieldSource: score = 1-based lexicographic rank of
    the doc's field value among the DISTINCT values (missing -> ord 0;
    reverse -> (nDistinct+1) - ord, so missing scores max — the
    reference's own quirk, ReverseOrdFieldSource.cs:85)."""
    expr = ("(e.endv - coalesce(ord, 0))" if reverse
            else "coalesce(ord, 0)")
    return f"""WITH vals AS (
    SELECT v, row_number() OVER (ORDER BY v) AS ord
    FROM (SELECT DISTINCT {column} AS v FROM {table}
          WHERE {column} IS NOT NULL)
), e AS (SELECT count(*) + 1 AS endv FROM vals)
SELECT d.doc_id, round({boost}::DOUBLE * {expr}, 6) AS score
FROM {table} d LEFT JOIN vals ON d.{column} = vals.v CROSS JOIN e
{_topk(k)}"""


def numbertools_range(column: str, lo: int, hi: int, k: int = 10,
                      boost: float = 1.0, table: str = "documents") -> str:
    """TermRange over NumberTools-encoded longs (Document/NumberTools.cs):
    the ORACLE re-runs the encoding in SQL (prefix '0' + 13-digit base-36,
    non-negative inputs) and compares STRINGS, exercising the
    lexicographic-order contract end-to-end."""
    from .tables import long_to_string
    enc = f"concat('0', lpad(lower(to_base({column}, 36)), 13, '0'))"
    return f"""SELECT doc_id, {boost}::DOUBLE AS score
FROM {table}
WHERE {enc} BETWEEN '{long_to_string(lo)}' AND '{long_to_string(hi)}'
{_topk(k)}"""


def custom_score_term(term: str, value_exprs: list[str], k: int = 10,
                      boost: float = 1.0, table: str = "documents") -> str:
    """CustomScoreQuery over a TermQuery: BM25 x product of value sources
    (stored-column expressions), the default CustomScoreProvider combine."""
    prod = " * ".join(f"(d.{e})" for e in value_exprs)
    return f"""WITH {base_ctes(table)},
sc AS (
  SELECT p.doc_id, {_bm25()} AS s
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term = '{term}'
)
SELECT s.doc_id AS doc_id, round(s.s * {prod} * {boost}, 6) AS score
FROM sc s JOIN {table} d USING (doc_id)
ORDER BY score DESC, s.doc_id LIMIT {k}"""


def matchall(k: int, boost: float = 1.0, table: str = "documents",
             id_col: str = "doc_id") -> str:
    return f"""SELECT {id_col} AS doc_id, {boost}::DOUBLE AS score FROM {table}
ORDER BY score DESC, doc_id LIMIT {k}"""


def filtered_term(term: str, predicate: str, k: int = 10,
                  table: str = "documents") -> str:
    return f"""WITH {base_ctes(table)},
sc AS (
  SELECT p.doc_id, {_bm25()} AS s
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term = '{term}'
)
SELECT s.doc_id AS doc_id, round(s.s, 6) AS score
FROM sc s JOIN {table} d ON d.doc_id = s.doc_id
WHERE {predicate}
ORDER BY score DESC, s.doc_id LIMIT {k}"""


def facet_counts(term: str, facet_col: str, table: str = "documents") -> str:
    return f"""WITH {base_ctes(table)}
SELECT d.{facet_col}, count(*) AS facet_count
FROM {table} d
WHERE d.doc_id IN (SELECT doc_id FROM post WHERE term = '{term}')
GROUP BY d.{facet_col}"""


def sorted_hits(term: str, order_col: str, k: int = 10,
                table: str = "documents",
                out_cols: str = "doc_id, lang, n_chars") -> str:
    return f"""WITH {base_ctes(table)}
SELECT {out_cols} FROM {table}
WHERE doc_id IN (SELECT doc_id FROM post WHERE term = '{term}')
ORDER BY {order_col} DESC, doc_id LIMIT {k}"""


def term_stats(limit: int = 20, table: str = "documents") -> str:
    return f"""WITH {base_ctes(table)}
SELECT term, count(*) AS df, sum(tf)::BIGINT AS ttf FROM post GROUP BY term
ORDER BY df DESC, term LIMIT {limit}"""


def multifield(text_term: str, kw_col: str, kw_val: str, k: int = 10,
               table: str = "documents") -> str:
    """text term OR keyword-field term; keyword field scores with tf=1,
    dl=1 against the shared (primary-field) avgdl — engine semantics."""
    return f"""WITH {base_ctes(table)},
kw AS (
  SELECT doc_id,
         (SELECT count(*) FROM {table} WHERE {kw_col} = '{kw_val}') AS df
  FROM {table} WHERE {kw_col} = '{kw_val}'
),
sc AS (
  SELECT p.doc_id, {_bm25()} AS s
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term = '{text_term}'
  UNION ALL
  SELECT k.doc_id,
         ln(1 + (st.n - k.df + 0.5)/(k.df + 0.5)) *
         (1 * {K1 + 1.0}) / (1 + {K1} * ({1.0 - B} + {B} * 1.0 / st.avgdl)) AS s
  FROM kw k CROSS JOIN st
)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
{_topk(k)}"""


def multifield_parse(terms: list[str], kw_col: str, k: int = 10,
                     table: str = "documents") -> str:
    """MultiFieldQueryParser expansion: each unqualified term searches the
    text field AND the keyword field; clause scores sum per doc (the
    SHOULD-combined BooleanQuery the parser builds).  Keyword occurrences
    score with tf=1, dl=1 against the shared text avgdl."""
    inl = ",".join(f"'{t}'" for t in terms)
    return f"""WITH {base_ctes(table)},
kwdf AS (SELECT {kw_col} AS term, count(*) AS df FROM {table} GROUP BY {kw_col}),
sc AS (
  SELECT p.doc_id, {_bm25()} AS s
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term IN ({inl})
  UNION ALL
  SELECT d.doc_id,
         ln(1 + (st.n - kw.df + 0.5)/(kw.df + 0.5)) *
         (1 * {K1 + 1.0}) / (1 + {K1} * ({1.0 - B} + {B} * 1.0 / st.avgdl)) AS s
  FROM {table} d JOIN kwdf kw ON d.{kw_col} = kw.term CROSS JOIN st
  WHERE d.{kw_col} IN ({inl})
)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
{_topk(k)}"""


# ------------------------------------------------------ pipeline operators

def _raw_tok_cte(table: str = "documents", id_col: str = "doc_id",
                 text_col: str = "text") -> str:
    """Raw tokens (stopwords kept) as arrays — dedup/textstats basis."""
    return f"""raw AS (
  SELECT {id_col} AS doc_id, {text_col} AS text,
         regexp_extract_all(lower({text_col}), '[a-z0-9]+') AS toks
  FROM {table}
)"""


def exact_dups(table: str = "documents", text_col: str = "text",
               id_col: str = "doc_id", key_chars: int | None = None) -> str:
    key = (f"substr({text_col}, 1, {key_chars})" if key_chars
           else text_col)
    return f"""SELECT sha256({key}) AS content_sha, count(*) AS n_dups,
       min({id_col}) AS canonical_id
FROM {table} GROUP BY sha256({key}) HAVING count(*) > 1"""


def stratified_sample(strata_col: str, fractions: dict[str, float],
                      salt: str = "sample",
                      table: str = "documents") -> str:
    """Deterministic md5-bucket stratified sample — bit-identical to
    operators/sampling.stratified_sample (floor() pins the double->long
    edge: Spark CAST truncates, DuckDB CAST rounds)."""
    case = " ".join(f"WHEN '{k}' THEN {float(v)!r}"
                    for k, v in sorted(fractions.items()))
    return f"""SELECT doc_id, {strata_col}
FROM (
  SELECT doc_id, {strata_col},
         ('0x'||substr(md5('{salt}:'||CAST(doc_id AS VARCHAR)),1,15))::BIGINT
           AS bucket,
         CASE {strata_col} {case} END AS frac
  FROM {table})
WHERE frac IS NOT NULL
  AND bucket < CAST(floor(frac * {16 ** 15}) AS BIGINT)"""


def eval_contamination(n: int = 8, strata_col: str = "source",
                       eval_value: str = "src0",
                       table: str = "documents") -> str:
    """Eval-set n-gram contamination (operators/sampling.
    eval_contamination): train = rows outside the eval stratum, eval
    shingles deduped, per-doc hit count + ratio."""
    parts = "||' '||".join(f"toks[i+{j}]" for j in range(n))
    sh = (f"""SELECT doc_id, unnest(shs) AS shingle, len(shs) AS n_sh FROM (
    SELECT doc_id,
           list_distinct(list_transform(generate_series(1, len(toks)-{n - 1}),
                                        i -> {parts})) AS shs
    FROM base WHERE {{pred}} AND len(toks) >= {n})""")
    return f"""WITH base AS (
  SELECT doc_id, {strata_col},
         regexp_extract_all(lower(text), '[a-z0-9]+') AS toks
  FROM {table}),
tr AS ({sh.format(pred=f"{strata_col} <> '{eval_value}'")}),
ev AS (SELECT DISTINCT shingle FROM (
  {sh.format(pred=f"{strata_col} = '{eval_value}'")}))
SELECT doc_id, count(*) AS n_hits, any_value(n_sh) AS n_shingles,
       round(count(*)::DOUBLE / any_value(n_sh), 6) AS contamination
FROM tr JOIN ev USING (shingle)
GROUP BY doc_id"""


def ngram_jaccard_pairs(n: int = 3, threshold: float = 0.5,
                        table: str = "documents",
                        max_shingle_df: int | None = None) -> str:
    parts = "||' '||".join(f"toks[i+{j}]" for j in range(n))
    guard = ""
    if max_shingle_df is not None:
        # mirror of the engine's stop-shingle skew guard: shingles in
        # more than max_shingle_df docs never join (na/nb keep counting
        # them — the guard prunes the JOIN, not the denominators)
        guard = f"""
hot AS (SELECT shingle FROM sh GROUP BY shingle
        HAVING count(*) > {max_shingle_df}),
shg AS (SELECT * FROM sh WHERE shingle NOT IN (SELECT shingle FROM hot)),"""
    src = "shg" if max_shingle_df is not None else "sh"
    return f"""WITH {_raw_tok_cte(table)},
sh AS (
  SELECT doc_id, unnest(shs) AS shingle, len(shs) AS n_sh FROM (
    SELECT doc_id,
           list_distinct(list_transform(generate_series(1, len(toks)-{n - 1}),
                                        i -> {parts})) AS shs
    FROM raw WHERE len(toks) >= {n})
),{guard}
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         any_value(a.n_sh) AS na, any_value(b.n_sh) AS nb, count(*) AS i
  FROM {src} a JOIN {src} b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT doc_a, doc_b, round(i::DOUBLE/(na + nb - i), 6) AS jaccard
FROM inter WHERE round(i::DOUBLE/(na + nb - i), 6) >= {threshold}"""


def minhash_lsh_pairs(num_hashes: int = 16, bands: int = 4,
                      threshold: float = 0.5, table: str = "documents",
                      max_bucket_size: int | None = None) -> str:
    from .tables import M30, MH_PRIME, mh_consts

    rows = num_hashes // bands
    consts = ", ".join(f"({i}, {a}::BIGINT, {b}::BIGINT)"
                       for i, (a, b) in enumerate(mh_consts(num_hashes)))
    guard = ""
    src = "banded"
    if max_bucket_size is not None:
        # mirror of the engine's degenerate-bucket skew guard: a band
        # bucket holding more than max_bucket_size docs emits no pairs
        guard = f""",
hotb AS (SELECT band, bkey FROM banded GROUP BY band, bkey
         HAVING count(*) > {max_bucket_size}),
bandg AS (SELECT b.* FROM banded b ANTI JOIN hotb h
          ON b.band = h.band AND b.bkey = h.bkey)"""
        src = "bandg"
    return f"""WITH {_raw_tok_cte(table)},
toku AS (SELECT doc_id, unnest(list_distinct(toks)) AS tok FROM raw WHERE len(toks) > 0),
sizes AS (SELECT doc_id, count(*) AS n FROM toku GROUP BY doc_id),
tokh AS (
  SELECT doc_id, ('0x' || substr(md5(tok), 1, 15))::BIGINT & {M30} AS hm
  FROM toku
),
hc AS (SELECT * FROM (VALUES {consts}) v(i, a, b)),
mh AS (
  SELECT t.doc_id, c.i, min((c.a * t.hm + c.b) % {MH_PRIME}) AS mv
  FROM tokh t CROSS JOIN hc c
  GROUP BY t.doc_id, c.i
),
banded AS (
  SELECT doc_id, i // {rows} AS band,
         md5(string_agg(mv::VARCHAR, ',' ORDER BY i)) AS bkey
  FROM mh GROUP BY doc_id, i // {rows}
){guard},
cand AS (
  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
  FROM {src} a JOIN {src} b ON a.band = b.band AND a.bkey = b.bkey
  WHERE a.doc_id < b.doc_id
),
inter AS (
  SELECT c.doc_a, c.doc_b, count(*) AS i
  FROM cand c JOIN toku ta ON ta.doc_id = c.doc_a
              JOIN toku tb ON tb.doc_id = c.doc_b AND tb.tok = ta.tok
  GROUP BY c.doc_a, c.doc_b
)
SELECT i.doc_a, i.doc_b,
       round(i.i::DOUBLE/(sa.n + sb.n - i.i), 6) AS jaccard
FROM inter i JOIN sizes sa ON sa.doc_id = i.doc_a
             JOIN sizes sb ON sb.doc_id = i.doc_b
WHERE round(i.i::DOUBLE/(sa.n + sb.n - i.i), 6) >= {threshold}"""


def simhash(bits: int = 32, table: str = "documents") -> str:
    return f"""WITH {_raw_tok_cte(table)},
tf AS (
  SELECT doc_id, tok, count(*) AS tf,
         ('0x' || substr(md5(tok), 1, 15))::BIGINT AS h
  FROM (SELECT doc_id, unnest(toks) AS tok FROM raw)
  GROUP BY doc_id, tok
),
bitsum AS (
  SELECT doc_id, b.b, sum(tf * (((h >> b.b) & 1) * 2 - 1)) AS s
  FROM tf CROSS JOIN (SELECT unnest(generate_series(0, {bits - 1})) AS b) b
  GROUP BY doc_id, b.b
)
SELECT doc_id,
       sum(CASE WHEN s > 0 THEN (1::BIGINT << b) ELSE 0 END)::BIGINT AS simhash
FROM bitsum GROUP BY doc_id"""


def simhash_pairs(bits: int = 32, max_hamming: int = 3,
                  table: str = "documents") -> str:
    seg_bits = bits // 4
    mask = (1 << seg_bits) - 1
    return f"""WITH sh AS ({simhash(bits, table)}),
seg AS (
  SELECT doc_id, simhash, s.i AS seg_i, (simhash >> (s.i * {seg_bits})) & {mask} AS seg_v
  FROM sh CROSS JOIN (SELECT unnest(generate_series(0, 3)) AS i) s
)
SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
       bit_count(xor(a.simhash, b.simhash))::BIGINT AS hamming
FROM seg a JOIN seg b ON a.seg_i = b.seg_i AND a.seg_v = b.seg_v
WHERE a.doc_id < b.doc_id
  AND bit_count(xor(a.simhash, b.simhash)) <= {max_hamming}"""


def cosine_topk(query_id: int = 0, k: int = 10,
                table: str = "embeddings") -> str:
    return f"""WITH q AS (SELECT embedding AS qv FROM {table} WHERE vec_id = {query_id}),
pairs AS (
  SELECT e.vec_id, unnest(e.embedding)::DOUBLE AS x, unnest(q.qv)::DOUBLE AS y
  FROM {table} e CROSS JOIN q
),
d AS (
  SELECT vec_id, sum(x*y) AS dot, sqrt(sum(x*x)) AS nx, sqrt(sum(y*y)) AS ny
  FROM pairs GROUP BY vec_id
)
SELECT vec_id, round(dot/(nx*ny), 6) AS cosine FROM d
WHERE vec_id <> {query_id}
ORDER BY cosine DESC, vec_id LIMIT {k}"""


def sq8_topk(query_id: int = 0, k: int = 10, dim: int = 64,
             table: str = "embeddings") -> str:
    """Scalar-quantized (SQ8) cosine top-k — the ORACLE re-derives the
    per-dimension min/max codebook, the floor(+0.5) uint8 codes, and the
    asymmetric reconstruction exactly as operators/ann.sq8_topk."""
    return f"""WITH dims AS (SELECT unnest(generate_series(1, {dim})) AS i),
vals AS (
  SELECT vec_id, i, embedding[i]::DOUBLE AS x
  FROM {table} CROSS JOIN dims),
stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM vals GROUP BY i),
codes AS (
  SELECT vec_id, v.i,
         CASE WHEN mx = mn THEN 0
              ELSE floor((x - mn)/(mx - mn) * 255.0 + 0.5) END AS c,
         mn, mx
  FROM vals v JOIN stats s ON v.i = s.i),
recon AS (SELECT vec_id, i, mn + c * (mx - mn) / 255.0 AS xr FROM codes),
q AS (SELECT i, embedding[i]::DOUBLE AS y
      FROM {table} CROSS JOIN dims WHERE vec_id = {query_id}),
d AS (
  SELECT vec_id, sum(xr*y) AS dot, sqrt(sum(xr*xr)) AS nx,
         sqrt(sum(y*y)) AS ny
  FROM recon r JOIN q ON r.i = q.i GROUP BY vec_id)
SELECT vec_id, round(dot/(nx*ny), 6) AS cosine FROM d
WHERE vec_id <> {query_id}
ORDER BY cosine DESC, vec_id LIMIT {k}"""


def ivf_sq8_topk(query_id: int = 0, k: int = 10, nlist: int = 16,
                 nprobe: int = 4, dim: int = 64,
                 table: str = "embeddings") -> str:
    """IVF coarse probe x SQ8 fine scoring: probe set and assignment
    argmax exactly as ivf_topk (full precision), then the surviving
    candidates scored against the SQ8-reconstructed vectors exactly as
    sq8_topk (asymmetric distance) — the oracle twin of
    operators/ann.ivf_sq8_topk."""
    return f"""WITH cent AS (
  SELECT vec_id AS cid, embedding AS cv FROM {table} WHERE vec_id < {nlist}
),
q AS (SELECT embedding AS qv FROM {table} WHERE vec_id = {query_id}),
cosqc AS (
  SELECT c.cid,
         round(list_dot_product(c.cv::DOUBLE[], q.qv::DOUBLE[]) /
               (sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[])) *
                sqrt(list_dot_product(q.qv::DOUBLE[], q.qv::DOUBLE[]))), 6) AS cos
  FROM cent c CROSS JOIN q
),
probe AS (SELECT cid FROM cosqc ORDER BY cos DESC, cid LIMIT {nprobe}),
assign AS (
  SELECT vec_id, cid FROM (
    SELECT e.vec_id, c.cid,
           row_number() OVER (
             PARTITION BY e.vec_id
             ORDER BY round(list_dot_product(e.embedding::DOUBLE[], c.cv::DOUBLE[]) /
                            (sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[])) *
                             sqrt(list_dot_product(c.cv::DOUBLE[], c.cv::DOUBLE[]))), 6) DESC,
                      c.cid
           ) AS rn
    FROM {table} e CROSS JOIN cent c
  ) WHERE rn = 1
),
dims AS (SELECT unnest(generate_series(1, {dim})) AS i),
vals AS (
  SELECT vec_id, i, embedding[i]::DOUBLE AS x
  FROM {table} CROSS JOIN dims),
stats AS (SELECT i, min(x) AS mn, max(x) AS mx FROM vals GROUP BY i),
cand AS (
  SELECT v.vec_id, v.i, v.x FROM vals v
  JOIN assign a USING (vec_id) JOIN probe p ON a.cid = p.cid
),
recon AS (
  SELECT vec_id, c.i,
         mn + (CASE WHEN mx = mn THEN 0
                    ELSE floor((x - mn)/(mx - mn) * 255.0 + 0.5) END)
              * (mx - mn) / 255.0 AS xr
  FROM cand c JOIN stats s ON c.i = s.i),
qd AS (SELECT i, embedding[i]::DOUBLE AS y
       FROM {table} CROSS JOIN dims WHERE vec_id = {query_id}),
d AS (
  SELECT vec_id, sum(xr*y) AS dot, sqrt(sum(xr*xr)) AS nx,
         sqrt(sum(y*y)) AS ny
  FROM recon r JOIN qd ON r.i = qd.i GROUP BY vec_id)
SELECT vec_id, round(dot/(nx*ny), 6) AS cosine FROM d
WHERE vec_id <> {query_id}
ORDER BY cosine DESC, vec_id LIMIT {k}"""


def cosine_pairs(threshold: float = 0.99, table: str = "embeddings") -> str:
    """Embedding-cosine near-dup pairs (vec_a < vec_b, cosine >= t)."""
    return f"""WITH pairs AS (
  SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
         round(list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(a.embedding::DOUBLE[], a.embedding::DOUBLE[])) *
                sqrt(list_dot_product(b.embedding::DOUBLE[], b.embedding::DOUBLE[]))), 6) AS cosine
  FROM {table} a JOIN {table} b ON a.vec_id < b.vec_id
)
SELECT vec_a, vec_b, cosine FROM pairs WHERE cosine >= {threshold}"""


def cosine_pairs_bucketed(threshold: float = 0.4, tables: int = 8,
                          planes: int = 4, dim: int = 64,
                          table: str = "embeddings") -> str:
    """Exact oracle for the RP-LSH-bucketed near-dup pairs: the md5
    hyperplanes + left-fold float64 dots reproduce the engine's bucket
    ids bit-for-bit (same lemma as rp_lsh_topk), so the candidate set —
    and therefore the verified pair set — is identical."""
    scale = "576460752303423488.0"  # 1 << 59
    e_dot = (f"list_reduce(list_transform(range(1, {dim + 1}), i -> "
             "e.embedding[i]::DOUBLE * pl.pv[i]), (a,b) -> a + b)")
    return f"""WITH pl AS (
  SELECT tt.t, pp.p,
         list_transform(range({dim}), d ->
           ('0x'||substr(md5(tt.t||':'||pp.p||':'||d),1,15))::BIGINT / {scale} - 1.0) AS pv
  FROM (SELECT unnest(range({tables})) AS t) tt
  CROSS JOIN (SELECT unnest(range({planes})) AS p) pp
),
eb AS (
  SELECT e.vec_id, pl.t,
         sum(CASE WHEN {e_dot} >= 0 THEN 1::BIGINT << pl.p ELSE 0 END) AS bucket
  FROM {table} e CROSS JOIN pl
  GROUP BY e.vec_id, pl.t
),
cand AS (
  SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
  FROM eb a JOIN eb b ON a.t = b.t AND a.bucket = b.bucket
  WHERE a.vec_id < b.vec_id
),
scored AS (
  SELECT c.vec_a, c.vec_b,
         round(list_dot_product(ea.embedding::DOUBLE[], ez.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(ea.embedding::DOUBLE[], ea.embedding::DOUBLE[])) *
                sqrt(list_dot_product(ez.embedding::DOUBLE[], ez.embedding::DOUBLE[]))), 6) AS cosine
  FROM cand c JOIN {table} ea ON ea.vec_id = c.vec_a
              JOIN {table} ez ON ez.vec_id = c.vec_b
)
SELECT vec_a, vec_b, cosine FROM scored WHERE cosine >= {threshold}"""


def textstats(table: str = "documents") -> str:
    """token counts + quality + stop ratio + fingerprint, per doc."""
    stop = STOPLIST_SQL
    markers = {lg: ",".join(f"'{w}'" for w in ws) for lg, ws in LANG_MARKERS.items()}
    ratio_exprs = ",\n".join(
        f"  len(list_filter(toks, t -> t IN ({markers[lg]})))::DOUBLE / greatest(len(toks), 1) AS r_{lg}"
        for lg in sorted(LANG_MARKERS)
    )
    # argmax with lexicographic tie-break == engine's comparison chain
    langs = sorted(LANG_MARKERS)
    best = "'und'"
    best_r = "0.0"
    for lg in langs:
        best = f"CASE WHEN r_{lg} > {best_r} THEN '{lg}' ELSE {best} END"
        best_r = f"CASE WHEN r_{lg} > {best_r} THEN r_{lg} ELSE {best_r} END"
    return f"""WITH {_raw_tok_cte(table)},
base AS (
  SELECT doc_id, text, toks,
  len(list_filter(regexp_split_to_array(text, '\\s+'), t -> t <> ''))::BIGINT AS ws_tokens,
  len(toks)::BIGINT AS alnum_tokens,
  len(regexp_extract_all(text, '[a-zA-Z]+|[0-9]|[^a-zA-Z0-9\\s]'))::BIGINT AS bpe_pieces,
  len(regexp_extract_all(text, '[^a-zA-Z0-9\\s]')) AS punct,
  len(list_filter(toks, t -> t IN ({stop})))::DOUBLE / greatest(len(toks), 1) AS stop_r,
{ratio_exprs}
  FROM raw
)
SELECT doc_id, ws_tokens, alnum_tokens, bpe_pieces,
  round(stop_r, 6) AS stop_ratio,
  round(0.4 * least(1.0, alnum_tokens / 100.0)
      + 0.3 * greatest(0.0, 1.0 - (punct::DOUBLE / greatest(alnum_tokens, 1)) * 5.0)
      + 0.3 * greatest(0.0, 1.0 - abs(stop_r - 0.4) / 0.4), 6) AS quality,
  {best} AS pred_lang,
  md5(array_to_string(list_sort(list_distinct(
      list_filter(toks, t -> length(t) <= 255 AND t NOT IN ({stop})))), ' ')) AS fingerprint
FROM base"""


def mm_meta(table: str = "documents") -> str:
    """binary-column plumbing check: byte length + sha256 of the payload."""
    return f"""SELECT doc_id, octet_length(encode(text))::BIGINT AS byte_len,
       sha256(text) AS payload_sha
FROM {table}"""


_MM_MOD = "CASE doc_id % 3 WHEN 0 THEN 'image' WHEN 1 THEN 'audio' ELSE 'video' END"


def _mm_h32(salt: str) -> str:
    """('0x'||substr(md5(salt||text),1,8))::BIGINT — the deterministic fake
    decoder's randomness source (operators/multimodal._h32; the payload is
    the UTF-8 bytes of text, so VARCHAR md5 sees identical bytes)."""
    return f"('0x'||substr(md5('{salt}'||text),1,8))::BIGINT"


def mm_decode_meta(table: str = "documents") -> str:
    """decode_meta fake-decoder parity: typed metadata per modality."""
    return f"""SELECT doc_id AS id, {_MM_MOD} AS modality,
       octet_length(encode(text))::BIGINT AS byte_len,
       sha256(text) AS payload_sha,
       CASE WHEN {_MM_MOD} <> 'audio'
            THEN (64 + {_mm_h32('w')} % 4032)::INT ELSE -1 END AS width,
       CASE WHEN {_MM_MOD} <> 'audio'
            THEN (64 + {_mm_h32('h')} % 2096)::INT ELSE -1 END AS height,
       CASE WHEN {_MM_MOD} IN ('audio','video')
            THEN 1000 + {_mm_h32('d')} % 600000 ELSE -1 END AS duration_ms,
       CASE WHEN {_MM_MOD} = 'audio'
            THEN (8000 + ({_mm_h32('r')} % 5) * 8000)::INT
            ELSE -1 END AS sample_rate
FROM {table}"""


def mm_image_features(dim: int = 16, table: str = "documents") -> str:
    """image_features fake-embedding parity, one row per (id, component)
    — posexplode'd so the driver canonicalizer can sort the frame (a
    list-typed cell is unhashable for pandas sort)."""
    return f"""SELECT doc_id AS id, r.i::INT AS i,
       (('0x'||substr(md5('f'||r.i||text),1,8))::BIGINT % 1000000) / 1000000.0 AS value
FROM {table} CROSS JOIN (SELECT unnest(range({dim})) AS i) r
WHERE doc_id % 3 = 0"""


def mm_frame_sample(every_ms: int = 10000, max_frames: int = 16,
                    table: str = "documents") -> str:
    """frame_sample parity: one row per sampled fake frame of each video."""
    return f"""WITH v AS (
  SELECT doc_id AS id, text,
         1000 + {_mm_h32('d')} % 600000 AS dur
  FROM {table} WHERE doc_id % 3 = 2
),
n AS (SELECT id, text, least(greatest(dur // {every_ms}, 1), {max_frames}) AS nf
      FROM v),
fr AS (SELECT id, text, unnest(range(nf)) AS i FROM n)
SELECT id, i::INT AS frame_idx, sha256(text || i::VARCHAR) AS frame_sha
FROM fr"""


# ---- contrib Shingle / NGram analyzers (analysis/shingle.py) ---------

def _shingle_ctes(table: str = "documents", id_col: str = "doc_id",
                  text_col: str = "text") -> str:
    """Index-in-SQL for the shingle analyzer (max_shingle=2, unigrams on):
    the stream-with-fillers re-created relationally — raw position space,
    '_' at stop/length holes (ShingleFilter.FILLER_TOKEN), truncated at
    the last surviving token (trailing holes drop at end-of-stream), then
    tokens = unigrams UNION bigrams-at-head-position."""
    live = f"length(term) <= 255 AND term NOT IN ({STOPLIST_SQL})"
    return f"""
tk AS (
  SELECT {id_col} AS doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM (SELECT {id_col},
               list_transform(
                 regexp_extract_all(lower({text_col}), '{_STD_ALT_SQL}'),
                 t -> {_STD_XF}) AS toks
        FROM {table})
),
rawt AS (
  SELECT doc_id, pos,
         CASE WHEN {live} THEN term ELSE '_' END AS term,
         ({live}) AS live
  FROM tk
),
lastp AS (SELECT doc_id, max(pos) AS lp FROM rawt WHERE live GROUP BY doc_id),
strm AS (SELECT r.doc_id, r.pos, r.term
         FROM rawt r JOIN lastp l USING (doc_id) WHERE r.pos <= l.lp),
tokens AS (
  SELECT doc_id, term, pos FROM strm
  UNION ALL
  SELECT s1.doc_id, s1.term || ' ' || s2.term AS term, s1.pos
  FROM strm s1 JOIN strm s2
    ON s1.doc_id = s2.doc_id AND s2.pos = s1.pos + 1
),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM tokens)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl
  FROM tokens t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)"""


def shingle_term_query(term: str, k: int = 10, boost: float = 1.0,
                       table: str = "documents") -> str:
    """BM25 top-k for one term (uni- or bigram) on the SHINGLED index."""
    return f"""WITH {_shingle_ctes(table)}
SELECT p.doc_id, round({boost} * {_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def ngram_term_query(term: str, k: int = 10, min_gram: int = 1,
                     max_gram: int = 2, boost: float = 1.0,
                     table: str = "documents") -> str:
    """BM25 top-k for one char n-gram on the NGramTokenizer index
    (grams of the RAW text — the tokenizer neither lowercases nor
    filters, NGramTokenizer.cs:96-118)."""
    return f"""WITH sizes AS (
  SELECT doc_id, text,
         unnest(range({min_gram}, {max_gram} + 1))::INT AS n
  FROM {table}
),
ix AS (
  SELECT doc_id, text, n,
         unnest(range(1, greatest(length(text) - n + 1, 0) + 1))::INT AS i
  FROM sizes
),
tokens AS (SELECT doc_id, substr(text, i, n) AS term FROM ix),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM tokens)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl
  FROM tokens t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)
SELECT p.doc_id, round({boost} * {_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def bool_filter_term(term: str, should_preds: list[str] = (),
                     must_preds: list[str] = (), not_preds: list[str] = (),
                     k: int = 10, boost: float = 1.0,
                     table: str = "documents") -> str:
    """FilteredQuery(TermQuery, BooleanFilter) — BooleanFilter.cs:39-92
    set algebra in SQL: docs satisfying (any SHOULD) AND every MUST AND
    no MUST_NOT filter each a term-dictionary predicate over `term`."""
    conds = []
    if should_preds:
        ors = " OR ".join(
            f"EXISTS (SELECT 1 FROM post x WHERE x.doc_id = p.doc_id "
            f"AND ({pr.replace('term', 'x.term')}))" for pr in should_preds)
        conds.append(f"({ors})")
    for pr in must_preds:
        conds.append(
            f"EXISTS (SELECT 1 FROM post x WHERE x.doc_id = p.doc_id "
            f"AND ({pr.replace('term', 'x.term')}))")
    for pr in not_preds:
        conds.append(
            f"NOT EXISTS (SELECT 1 FROM post x WHERE x.doc_id = p.doc_id "
            f"AND ({pr.replace('term', 'x.term')}))")
    where = " AND ".join([f"p.term = '{term}'"] + conds)
    return f"""WITH {base_ctes(table)}
SELECT p.doc_id, round({boost} * {_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE {where}
{_topk(k)}"""


def term_and_keyword_range(term: str, range_pred: str, k: int = 10,
                           table: str = "documents") -> str:
    """Bool(must=(Term(text), TermRange(keyword-field))) — the parsed
    date-range shape `merge AND date:[a TO b]`: the text term scores BM25,
    the range clause is CONSTANT_SCORE 1.0 (multi-term rewrite), MUST
    semantics require both.  range_pred filters the base table rows whose
    derived keyword value falls in the rewritten DateTools range."""
    return f"""WITH {base_ctes(table)},
rng AS (SELECT doc_id FROM {table} d WHERE {range_pred}),
sc AS (
  SELECT p.doc_id, {_bm25()} AS s
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term = '{term}'
  UNION ALL
  SELECT doc_id, 1.0::DOUBLE AS s FROM rng
)
SELECT doc_id, round(sum(s), 6) AS score FROM sc GROUP BY doc_id
HAVING count(*) = 2
{_topk(k)}"""


def _payload_ctes(table: str = "documents", id_col: str = "doc_id",
                  text_col: str = "text") -> str:
    """Index-in-SQL for the delimited-payload chain (analysis/payloads.py:
    WhitespaceTokenizer -> DelimitedPayloadTokenFilter(FloatEncoder),
    DelimitedPayloadTokenFilter.cs:34-47).  The contract entries feed the
    analyzer text of the form "token|length(token)" derived from the raw
    text, so the oracle recomputes the SAME (term, pos, payload) stream
    directly: whitespace tokens of the raw text, payload = token length."""
    return f"""
ptok AS (
  SELECT doc_id, term, pos, length(term)::DOUBLE AS pay FROM (
    SELECT {id_col} AS doc_id, unnest(toks) AS term,
           generate_subscripts(toks, 1) - 1 AS pos
    FROM (SELECT {id_col}, string_split({text_col}, ' ') AS toks
          FROM {table}))
  WHERE term <> ''
),
dl AS (SELECT doc_id, count(*) AS dl FROM ptok GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM ptok)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl,
         sum(t.pay) AS pay_sum, min(t.pay) AS pay_min, max(t.pay) AS pay_max
  FROM ptok t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)"""


def _pay_agg(fn: str, pay_sum: str, pay_min: str, pay_max: str,
             pay_cnt: str) -> str:
    """PayloadFunction.DocScore (Search/Payloads/{Average,Min,Max}
    PayloadFunction.cs) — engine mirror `_payload_doc_score`."""
    agg = {"avg": f"({pay_sum}) / ({pay_cnt})", "min": pay_min,
           "max": pay_max}[fn]
    return f"CASE WHEN {pay_cnt} > 0 THEN {agg} ELSE 1.0 END"


def payload_term_query(term: str, fn: str = "avg", k: int = 10,
                       boost: float = 1.0, include_span_score: bool = True,
                       table: str = "documents") -> str:
    """PayloadTermQuery (PayloadTermQuery.cs:124-199): each occurrence is
    a width-1 span (sloppyFreq contribution 1/(1+1) per the engine span
    convention), BM25 freq-normalized, times the PayloadFunction DocScore
    over the occurrences' payloads."""
    pay = _pay_agg(fn, "p.pay_sum", "p.pay_min", "p.pay_max", "p.tf")
    span = (f"ln(1 + (st.n - f.df + 0.5)/(f.df + 0.5)) * "
            f"(0.5 * p.tf * {K1 + 1.0}) / "
            f"(0.5 * p.tf + {K1} * ({1.0 - B} + {B} * p.dl / st.avgdl))")
    score = (f"{boost} * ({span}) * ({pay})" if include_span_score
             else f"{boost} * ({pay})")
    return f"""WITH {_payload_ctes(table)}
SELECT p.doc_id, round({score}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def payload_near_query(terms: list[str], slop: int = 0,
                       in_order: bool = True, fn: str = "avg",
                       k: int = 10, boost: float = 1.0,
                       table: str = "documents") -> str:
    """PayloadNearQuery (PayloadNearQuery.cs:38-52, scorer :200-261):
    enumerate every clause-position tuple satisfying order+slop (the
    engine's span-enumeration convention, `_payload_near_frame` — NO
    distinct-(s,e) collapse: every tuple contributes its sloppyFreq AND
    feeds all leaf payloads to the PayloadFunction)."""
    n = len(terms)
    joins = []
    for i, t in enumerate(terms):
        if i == 0:
            continue
        cond = f"t{i}.doc_id = t0.doc_id AND t{i}.term = '{t}'"
        if in_order:
            cond += f" AND t{i}.pos >= t{i - 1}.pos + 1"
        joins.append(f"JOIN ptok t{i} ON {cond}")
    uno = ""
    if not in_order:
        pairs = [f"t{i}.pos <> t{m}.pos"
                 for i in range(n) for m in range(i + 1, n)]
        uno = " AND " + " AND ".join(pairs) if pairs else ""
    poss = ", ".join(f"t{i}.pos" for i in range(n))
    pays = " + ".join(f"t{i}.pay" for i in range(n))
    pmin = (f"least({', '.join(f't{i}.pay' for i in range(n))})"
            if n > 1 else "t0.pay")
    pmax = (f"greatest({', '.join(f't{i}.pay' for i in range(n))})"
            if n > 1 else "t0.pay")
    idfv = ",".join(f"('{t}')" for t in terms)
    pay = _pay_agg(fn, "g.pay_sum", "g.pay_min", "g.pay_max", "g.pay_cnt")
    return f"""WITH {_payload_ctes(table)},
idfv AS (
  SELECT sum(ln(1 + (st.n - f.df + 0.5)/(f.df + 0.5))) AS v
  FROM (VALUES {idfv}) q(term) JOIN dfs f USING (term) CROSS JOIN st
),
sp AS (
  SELECT t0.doc_id,
         least({poss}) AS s, greatest({poss}) + 1 AS e,
         {pays} AS prow, {pmin} AS prmin, {pmax} AS prmax
  FROM ptok t0 {' '.join(joins)}
  WHERE t0.term = '{terms[0]}'{uno}
    AND (greatest({poss}) + 1 - least({poss})) - {n} <= {slop}
),
g AS (
  SELECT doc_id, sum(1.0/(1.0 + (e - s))) AS freq,
         sum(prow) AS pay_sum, min(prmin) AS pay_min,
         max(prmax) AS pay_max, count(*) * {n} AS pay_cnt
  FROM sp GROUP BY doc_id
)
SELECT g.doc_id,
       round({boost} * idfv.v * (g.freq * {K1 + 1.0}) /
             (g.freq + {K1} * ({1.0 - B} + {B} * d.dl / st.avgdl)) *
             ({pay}), 6) AS score
FROM g JOIN dl d USING (doc_id) CROSS JOIN idfv CROSS JOIN st
{_topk(k)}"""


def edge_ngram_term_query(term: str, k: int = 10, min_gram: int = 1,
                          max_gram: int = 1, side: str = "front",
                          boost: float = 1.0,
                          table: str = "documents") -> str:
    """BM25 top-k for one edge n-gram (EdgeNGramTokenizer.cs: one gram per
    size min..max anchored at the front/back of the RAW text)."""
    gram = ("substr(text, 1, n)" if side == "front"
            else "substr(text, length(text) - n + 1, n)")
    return f"""WITH sizes AS (
  SELECT doc_id, text,
         unnest(range({min_gram}, {max_gram} + 1))::INT AS n
  FROM {table}
),
tokens AS (SELECT doc_id, {gram} AS term FROM sizes WHERE n <= length(text)),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM tokens)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl
  FROM tokens t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)
SELECT p.doc_id, round({boost} * {_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def highlight_selection(term: str, k: int = 10, frag_tokens: int = 16,
                        table: str = "documents",
                        text_col: str = "text") -> str:
    """Fragment SELECTION only (doc_id, score, frag_idx, frag_score) —
    the FastVectorHighlighter oracle: FVH picks the same window as the
    re-tokenizing highlighter (operators/fvh.py docstring); its snippet
    is a stored-text slice that SQL has no offset primitives to rebuild,
    so the driver row verifies the selection and pytest verifies the
    rendering."""
    w = frag_tokens
    return f"""WITH {base_ctes(table, text_col=text_col)},
hits AS (
  SELECT p.doc_id, round({_bm25()}, 6) AS score
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term = '{term}'
  {_topk(k)}
),
ht AS (
  SELECT h.doc_id, h.score,
         list_transform(
           regexp_extract_all(lower(d.{text_col}), '{_STD_ALT_SQL}'),
           t -> {_STD_XF}) AS toks
  FROM hits h JOIN {table} d USING (doc_id)
),
fr AS (
  SELECT doc_id, score, toks,
         unnest(range(0, greatest(1,
           cast(ceil(len(toks) / {w}.0) AS BIGINT)))) AS i
  FROM ht
),
sc AS (
  SELECT doc_id, score, i,
         len(list_filter(toks[i*{w}+1 : (i+1)*{w}],
                         t -> t = '{term}')) AS m
  FROM fr
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY m DESC, i) AS rn
  FROM sc
)
SELECT doc_id, score, i::BIGINT AS frag_idx, m::BIGINT AS frag_score
FROM rk WHERE rn = 1 AND m > 0
ORDER BY score DESC, doc_id"""


def highlight_term(term: str, k: int = 10, frag_tokens: int = 16,
                   table: str = "documents", text_col: str = "text") -> str:
    """Best-fragment highlighting over a term query's top-k (the contrib
    Highlighter pipeline, operators/highlight.py): re-tokenize the stored
    text with the SAME analyzer transform, window into frag_tokens-token
    fragments, score = query-term occurrences, best = max score with the
    earliest window on ties, query terms wrapped in <b>.."""
    w = frag_tokens
    qlist = f"['{term}']"
    return f"""WITH {base_ctes(table, text_col=text_col)},
hits AS (
  SELECT p.doc_id, round({_bm25()}, 6) AS score
  FROM post p JOIN dfs f USING (term) CROSS JOIN st
  WHERE p.term = '{term}'
  {_topk(k)}
),
ht AS (
  SELECT h.doc_id, h.score,
         list_transform(
           regexp_extract_all(lower(d.{text_col}), '{_STD_ALT_SQL}'),
           t -> {_STD_XF}) AS toks
  FROM hits h JOIN {table} d USING (doc_id)
),
fr AS (
  SELECT doc_id, score, toks,
         unnest(range(0, greatest(1,
           cast(ceil(len(toks) / {w}.0) AS BIGINT)))) AS i
  FROM ht
),
sc AS (
  SELECT doc_id, score, i,
         len(list_filter(toks[i*{w}+1 : (i+1)*{w}],
                         t -> list_contains({qlist}, t))) AS m,
         array_to_string(list_transform(toks[i*{w}+1 : (i+1)*{w}],
           t -> CASE WHEN list_contains({qlist}, t)
                     THEN '<b>' || t || '</b>' ELSE t END), ' ') AS snip
  FROM fr
),
rk AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY m DESC, i) AS rn
  FROM sc
)
SELECT doc_id, score, i::BIGINT AS frag_idx, m::BIGINT AS frag_score,
       snip AS snippet
FROM rk WHERE rn = 1
ORDER BY score DESC, doc_id"""


def suggest_similar(word: str, num_sug: int = 5, min_score: float = 0.5,
                    table: str = "documents") -> str:
    """SpellChecker oracle (operators/spell.py spec): candidates = index
    vocabulary terms sharing >=1 contiguous n-gram with the word (gram
    sizes from the reference length rule), reranked by
    1 - levenshtein/max(len), accuracy cut at min_score, ties df DESC
    then term ASC."""
    from .tables import word_grams
    cond = " OR ".join(f"position('{g}' IN term) > 0"
                       for g in word_grams(word))
    return f"""WITH {base_ctes(table)},
cand AS (
  SELECT term,
         round(1.0 - levenshtein('{word}', term)::DOUBLE /
               greatest(length(term), {len(word)}), 6) AS score,
         df::BIGINT AS df
  FROM dfs
  WHERE ({cond}) AND term <> '{word}'
)
SELECT term, score, df FROM cand
WHERE score >= {min_score}
ORDER BY score DESC, df DESC, term
LIMIT {num_sug}"""


# ---- percolation (operators/percolate.py spec) ----

def perc_term(term: str) -> str:
    return ("EXISTS (SELECT 1 FROM tokens t WHERE t.doc_id = d.doc_id "
            f"AND t.term = '{term}')")


def perc_phrase(terms: list[str], offsets: list[int] | None = None) -> str:
    """Exact phrase at raw-stream positions (stopword holes are real
    gaps): anchor t0, every further term aligned at pos0 + offset."""
    offs = offsets if offsets is not None else list(range(len(terms)))
    tail = " AND ".join(
        f"EXISTS (SELECT 1 FROM tokens t{i} WHERE t{i}.doc_id = t0.doc_id "
        f"AND t{i}.term = '{t}' AND t{i}.pos = t0.pos + {o - offs[0]})"
        for i, (t, o) in enumerate(zip(terms[1:], offs[1:]), start=1))
    return ("EXISTS (SELECT 1 FROM tokens t0 WHERE t0.doc_id = d.doc_id "
            f"AND t0.term = '{terms[0]}'" + (f" AND {tail})" if tail else ")"))


def perc_pred(term_pred: str) -> str:
    """Some indexed token satisfies a term predicate (prefix/wildcard/
    range/regex rewrite): tokens are already stop/length filtered."""
    return ("EXISTS (SELECT 1 FROM tokens t WHERE t.doc_id = d.doc_id "
            f"AND ({term_pred}))")


def perc_fuzzy(term: str, min_sim: float = 0.5, prefix_len: int = 0) -> str:
    """FuzzyTermEnum bound against the doc's own tokens:
    levenshtein <= floor((1-min_sim) * least(|q|, |token|))."""
    pre = (f" AND t.term LIKE '{term[:prefix_len]}%'" if prefix_len else "")
    return ("EXISTS (SELECT 1 FROM tokens t WHERE t.doc_id = d.doc_id "
            f"AND levenshtein(t.term, '{term}') <= "
            f"floor({1.0 - min_sim} * least({len(term)}, length(t.term)))"
            f"{pre})")


def perc_msm(conds: list[str], need: int) -> str:
    votes = " + ".join(f"(CASE WHEN {c} THEN 1 ELSE 0 END)" for c in conds)
    return f"({votes}) >= {need}"


def percolate(specs: list[tuple[str, str]], table: str = "documents") -> str:
    """UNION ALL of one branch per registered query: each condition is a
    boolean SQL expression over alias `d` (the doc row) and the `tokens`
    CTE — the DuckDB twin of operators/percolate.percolate."""
    branches = "\n  UNION ALL\n".join(
        f"  SELECT d.doc_id AS doc_id, '{qid}' AS query_id\n"
        f"  FROM {table} d WHERE {cond}"
        for qid, cond in specs)
    return f"""WITH {base_ctes(table)}
SELECT doc_id, query_id FROM (
{branches}
)
ORDER BY doc_id, query_id"""


def near_dup_clusters(pairs_sql: str) -> str:
    """Connected components over a near-dup pair set (operators/dedup.
    near_dup_clusters spec): cluster_id = min doc_id reachable, keep =
    (doc_id == cluster_id).  Recursive label propagation — the UNION
    dedup terminates the recursion once every (node, reachable-label)
    row exists."""
    return f"""WITH RECURSIVE
pairs AS (
{pairs_sql}
),
edges AS (
  SELECT doc_a AS src, doc_b AS dst FROM pairs
  UNION
  SELECT doc_b AS src, doc_a AS dst FROM pairs
),
nodes AS (SELECT DISTINCT src AS node FROM edges),
reach(node, label) AS (
  SELECT node, node AS label FROM nodes
  UNION
  SELECT e.dst AS node, r.label FROM reach r JOIN edges e ON e.src = r.node
)
SELECT node AS doc_id, min(label) AS cluster_id,
       (node = min(label)) AS keep
FROM reach GROUP BY node
ORDER BY doc_id"""


def sequence_pack(budget: int, group_col: str = "source",
                  order_col: str = "doc_id",
                  table: str = "documents") -> str:
    """operators/packing.sequence_pack twin: start-offset binning over a
    per-group running token sum (whitespace token count, the ws_tokens
    spec)."""
    return f"""WITH t AS (
  SELECT doc_id, {group_col} AS grp,
         len(list_filter(regexp_split_to_array(text, '\\s+'),
                         x -> x <> ''))::BIGINT AS n_tokens
  FROM {table}
),
s AS (
  SELECT doc_id, n_tokens,
         (SUM(n_tokens) OVER (PARTITION BY grp ORDER BY {order_col})
          - n_tokens)::BIGINT AS tok_start
  FROM t
)
SELECT doc_id, n_tokens, tok_start,
       (tok_start // {budget})::BIGINT AS pack_id
FROM s ORDER BY doc_id"""


def split_assign(weights: dict[str, float], salt: str = "split",
                 id_col: str = "doc_id", table: str = "documents") -> str:
    """operators/packing.split_assign twin: salted md5 bucket in [0,1),
    split names over cumulative weight boundaries in sorted-name order."""
    total = sum(weights.values())
    u = (f"('0x' || substr(md5('{salt}:' || {id_col}::VARCHAR), 1, 15))"
         f"::BIGINT::DOUBLE / {float(16 ** 15)}")
    names = sorted(weights)
    acc = 0.0
    case = "CASE"
    for name in names[:-1]:
        acc += weights[name] / total
        case += f" WHEN {u} < {acc} THEN '{name}'"
    case += f" ELSE '{names[-1]}' END"
    return f"""SELECT {id_col} AS doc_id, {case} AS split
FROM {table} ORDER BY doc_id"""


def fuzzy_like_this(text: str, k: int = 10, min_sim: float = 0.5,
                    prefix_len: int = 0, max_num_terms: int = 25,
                    max_variants: int = 50,
                    table: str = "documents") -> str:
    """operators/fuzzylike.fuzzy_like_this_query twin: the ENTIRE
    selection pipeline in SQL — fuzzy variant enumeration against the
    dfs vocabulary, per-term variant cap by (sim DESC, term), df
    resolution (exact else integer-avg), sim² × classic-idf rescore,
    global top-N by (score DESC, term), then BM25 hit scoring with the
    selection boosts folded in."""
    from .tables import tokenize_standard
    src: list[str] = []
    for t, _ in tokenize_standard(text):
        if t not in src:
            src.append(t)
    vals = ", ".join(f"('{s}')" for s in src)
    pre = (f" AND d.term LIKE s.sterm[1:{prefix_len}] || '%'"
           if prefix_len else "")
    return f"""WITH {base_ctes(table)},
src(sterm) AS (SELECT * FROM (VALUES {vals})),
fcand AS (
  SELECT s.sterm, d.term, d.df,
         1.0 - levenshtein(d.term, s.sterm)::DOUBLE
             / least(length(d.term), length(s.sterm)) AS sim
  FROM dfs d JOIN src s
    ON 1.0 - levenshtein(d.term, s.sterm)::DOUBLE
           / least(length(d.term), length(s.sterm)) >= {min_sim}{pre}
),
capped AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (PARTITION BY sterm
                                 ORDER BY sim DESC, term) AS rn
    FROM fcand)
  WHERE rn <= {max_variants}
),
dfres AS (
  -- df = exact term's df when it exists, else integer-avg over ALL
  -- qualifying variants (pre-cap totals, like AddTerms' accumulators)
  SELECT c.sterm,
         coalesce(nullif(any_value(e.df), 0),
                  (sum(c.df) // count(*))::BIGINT) AS rdf
  FROM fcand c
  LEFT JOIN (SELECT term, df FROM dfs) e ON e.term = c.sterm
  GROUP BY c.sterm
),
gsel AS (
  SELECT c.term,
         c.sim * c.sim * (ln((SELECT n FROM st) / (r.rdf + 1.0)) + 1.0)
           AS tboost
  FROM capped c JOIN dfres r USING (sterm)
  ORDER BY tboost DESC, c.term
  LIMIT {max_num_terms}
)
SELECT p.doc_id, round(sum(g.tboost * {_bm25()}), 6) AS score
FROM gsel g JOIN post p ON p.term = g.term
            JOIN dfs f ON f.term = g.term
CROSS JOIN st
GROUP BY p.doc_id
{_topk(k)}"""


def chained_filter_term(term: str, set_preds: list[str],
                        ops: list[str], k: int = 10,
                        table: str = "documents") -> str:
    """plans/lowering._chained_filter_ids twin: fold doc sets (each =
    docs containing a term matching the predicate) under OR/AND/ANDNOT/
    XOR with the reference's seeding, then score `term` over the
    surviving set."""
    ctes = []
    for i, p in enumerate(set_preds):
        ctes.append(f"s{i} AS (SELECT DISTINCT doc_id FROM post "
                    f"WHERE {p})")
    if ops[0] == "ANDNOT":
        ctes.append(f"r0 AS (SELECT doc_id FROM {table} "
                    "WHERE doc_id NOT IN (SELECT doc_id FROM s0))")
    else:
        ctes.append("r0 AS (SELECT doc_id FROM s0)")
    for i, op in list(enumerate(ops))[1:]:
        prev, cur = f"r{i - 1}", f"s{i}"
        if op == "OR":
            body = (f"SELECT doc_id FROM {prev} UNION "
                    f"SELECT doc_id FROM {cur}")
        elif op == "AND":
            body = (f"SELECT doc_id FROM {prev} "
                    f"WHERE doc_id IN (SELECT doc_id FROM {cur})")
        elif op == "ANDNOT":
            body = (f"SELECT doc_id FROM {prev} "
                    f"WHERE doc_id NOT IN (SELECT doc_id FROM {cur})")
        else:  # XOR
            body = (f"SELECT doc_id FROM (SELECT doc_id FROM {prev} "
                    f"UNION SELECT doc_id FROM {cur}) "
                    f"WHERE doc_id NOT IN (SELECT a.doc_id FROM {prev} a "
                    f"JOIN {cur} b USING (doc_id))")
        ctes.append(f"r{i} AS ({body})")
    last = f"r{len(ops) - 1}"
    joined = ",\n".join(ctes)
    return f"""WITH {base_ctes(table)},
{joined}
SELECT p.doc_id, round({_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}' AND p.doc_id IN (SELECT doc_id FROM {last})
{_topk(k)}"""


# Deterministic latin->Han transliteration alphabet shared with the
# ft_cjk_term entry: [a-z0-9] maps to the first 36 CJK unified
# ideographs, so the CJK bigram chain is exercisable over the English
# test corpus with no external data.
CJK_LAT36 = "abcdefghijklmnopqrstuvwxyz0123456789"
CJK_HAN36 = "".join(chr(0x4E00 + i) for i in range(36))


def cjk_term_query(term: str, k: int = 10, table: str = "documents") -> str:
    """analysis/cjk.py twin (CJKTokenizer.cs DOUBLE_TOKEN_TYPE path):
    transliterate [a-z0-9] to Han in SQL, split runs on spaces, emit
    overlapping bigrams (an isolated char emits itself), then BM25 the
    given (already-transliterated) bigram term.  Positions are not
    needed for a term query, so the fold stops at (term, doc, tf, dl)."""
    return f"""WITH
runs AS (
  SELECT doc_id, unnest(rs) AS run
  FROM (SELECT doc_id,
               regexp_extract_all(
                 translate(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           '{CJK_LAT36}', '{CJK_HAN36}'),
                 '[^ ]+') AS rs
        FROM {table})
),
ri AS MATERIALIZED (
  SELECT doc_id, run,
         unnest(generate_series(1, greatest(length(run) - 1, 1))) AS i
  FROM runs
),
tokens AS (
  SELECT doc_id,
         CASE WHEN length(run) = 1 THEN run
              ELSE substr(run, i::INT, 2) END AS term
  FROM ri
),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM tokens)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl
  FROM tokens t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)
SELECT p.doc_id, round({_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def chinese_term_query(term: str, k: int = 10,
                       table: str = "documents") -> str:
    """analysis/cjk.chinese_tokens twin (ChineseTokenizer.cs single-char
    path): after the same latin->Han transliteration every non-space
    char is its own token (all Lo, so ChineseFilter keeps each one)."""
    return f"""WITH
tokens AS (
  SELECT doc_id, unnest(ts) AS term
  FROM (SELECT doc_id,
               regexp_extract_all(
                 translate(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           '{CJK_LAT36}', '{CJK_HAN36}'),
                 '[^ ]') AS ts
        FROM {table})
),
dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM tokens)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl
  FROM tokens t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)
SELECT p.doc_id, round({_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


# ---- contrib language analyzers (analysis/intl.py twins) -------------
# Deterministic latin->target transliteration alphabets, shared with the
# ft_russian_term / ft_greek_term / ft_arabic_term entries: each maps the
# ASCII corpus into the target script IN-PLAN so the language chains are
# exercisable with no external data, and the SAME mapping is replayed
# here in SQL.  Russian keeps ASCII digits (RussianLetterTokenizer
# accepts letters + '0'-'9'); Greek maps digits onto letters a-j's
# targets (the Unicode ALPHANUM branch then yields one token per run on
# both sides); Arabic maps digits onto the eight harakat + tatweel +
# alef-hamza (all normalizer-relevant marks, exercising deletion).
RU_LAT26 = "abcdefghijklmnopqrstuvwxyz"
RU_CYR26 = "абцдефгхийклмнопярстувшюыз"
EL_LAT36 = "abcdefghijklmnopqrstuvwxyz0123456789"
EL_GRK36 = "αβγδεφξηιόκλμνοπψρςτυάωχέζαβγδεφξηιό"
AR_LAT36 = "abcdefghijklmnopqrstuvwxyz0123456789"
AR_TGT36 = ("ابصدةفجهعزكلمنقحطرستثخوشيذ"
            "ًٌٍَُِّْـأ")

# GreekLowerCaseFilter normalization pairs reachable through EL_GRK36
# (final sigma + tonos vowels; GreekLowerCaseFilter.cs:55-120)
_EL_NORM_FROM = "ςόάέ"
_EL_NORM_TO = "σοαε"
# ArabicNormalizer (ArabicNormalizer.cs:77-110): seated alefs -> alef,
# dotless yeh -> yeh, teh marbuta -> heh; tatweel + harakat DELETED
# (translate() drops from-chars with no to-counterpart).
_AR_NORM_FROM = ("آأإىة" "ـًٌٍَُِّْ")
_AR_NORM_TO = "اايه"

_RU_V = "аеиоуыэюя"  # RussianStemmer.vowels


def _xlit_tk(table: str, lat: str, tgt: str) -> str:
    """tk(doc_id, term): lower -> keep [a-z0-9 ] -> transliterate ->
    runs.  After transliteration a token is exactly one [^ ]+ chunk on
    both sides (see the alphabet notes above)."""
    return f"""tk AS (
  SELECT doc_id, unnest(ts) AS term
  FROM (SELECT doc_id,
               regexp_extract_all(
                 translate(regexp_replace(lower(text), '[^a-z0-9 ]', ' ', 'g'),
                           '{lat}', '{tgt}'),
                 '[^ ]+') AS ts
        FROM {table})
)"""


def hyph_compound_term_query(term: str, patterns: list[str],
                             dictionary, k: int = 10,
                             min_word_size: int = 5,
                             min_subword_size: int = 2,
                             max_subword_size: int = 15,
                             table: str = "documents") -> str:
    """Term query over a HyphenationCompoundWordTokenFilter index
    (analysis/compound.hyphenation_* — HyphenationCompoundWordToken
    Filter.cs + Hyphenation/HyphenationTree.cs): the oracle re-runs the
    Liang interletter algorithm over the '.'-framed vocabulary, derives
    hyphen points (odd max values, remain=push=1), enumerates point
    pairs within the subword bounds, applies the dictionary (with the
    reference's genitive one-shorter fallback), and stacks the parts at
    the compound's position (they count toward dl, like synonyms).
    Letters-only tokens decompose (the corpus contract; the default
    classmap is exercised in pytest)."""
    # flatten patterns into (letters, plen, k0, v) rows, zeros dropped
    pmk = []
    for pat in patterns:
        letters, vals = [], [0]
        for ch in pat:
            if ch.isdigit():
                vals[-1] = int(ch)
            else:
                letters.append(ch)
                vals.append(0)
        ls = "".join(letters)
        for k0, v in enumerate(vals):
            if v > 0:
                pmk.append((ls, len(ls), k0, v))
    pmk_vals = ", ".join(f"('{p[0]}', {p[1]}, {p[2]}, {p[3]})"
                         for p in pmk)
    dic_list = "[" + ", ".join(f"'{w.lower()}'"
                               for w in sorted(dictionary)) + "]"
    return f"""WITH
tk AS (
  SELECT doc_id, unnest(toks) AS term,
         generate_subscripts(toks, 1) - 1 AS pos
  FROM (SELECT doc_id,
               list_transform(
                 regexp_extract_all(lower(text), '{_STD_ALT_SQL}'),
                 t -> {_STD_XF}) AS toks
        FROM {table})
),
tok_f AS (
  SELECT * FROM tk
  WHERE length(term) <= 255 AND term NOT IN ({STOPLIST_SQL})
),
pmk(letters, plen, k0, v) AS (SELECT * FROM (VALUES {pmk_vals})),
hv AS (SELECT DISTINCT term FROM tok_f
       WHERE regexp_matches(term, '^[a-z]+$')
         AND length(term) >= {min_word_size}),
fr AS (SELECT term, '.' || term || '.' AS f, length(term) AS n FROM hv),
ilv AS (  -- interletter max values at framed positions j
  SELECT f.term, u.i + p.k0 AS j, max(p.v) AS il
  FROM fr f, unnest(range(0, f.n + 1)) AS u(i)
  JOIN pmk p ON substr(f.f, u.i + 1, p.plen) = p.letters
  GROUP BY f.term, u.i + p.k0),
pts AS (  -- odd values -> hyphen points i = j - 1 in [1, n-1]
  SELECT f.term, f.n, ilv.j - 1 AS pt
  FROM ilv JOIN fr f USING (term)
  WHERE ilv.il % 2 = 1 AND ilv.j - 1 BETWEEN 1 AND f.n - 1),
hyl AS (SELECT term, n, [0] || list_sort(list(pt)) || [n] AS hyp
        FROM pts GROUP BY term, n),
parts AS (  -- DecomposeInternal pair walk, duplicates preserved
  SELECT term,
    CASE WHEN list_contains({dic_list}, full_part) THEN full_part
         WHEN list_contains({dic_list}, short_part) THEN short_part
         END AS part
  FROM (
    SELECT h.term,
           substr(h.term, h.hyp[a.a] + 1,
                  h.hyp[b.b] - h.hyp[a.a]) AS full_part,
           substr(h.term, h.hyp[a.a] + 1,
                  h.hyp[b.b] - h.hyp[a.a] - 1) AS short_part
    FROM hyl h,
         unnest(range(1, len(h.hyp) + 1)) AS a(a),
         unnest(range(1, len(h.hyp) + 1)) AS b(b)
    WHERE b.b > a.a
      AND h.hyp[b.b] - h.hyp[a.a] BETWEEN {min_subword_size}
                                      AND {max_subword_size})),
tokens AS (
  SELECT doc_id, term FROM tok_f
  UNION ALL
  SELECT t.doc_id, p.part AS term
  FROM tok_f t JOIN parts p USING (term)
  WHERE p.part IS NOT NULL
),
{_bm25_tail(table, term, k)}"""


def _bm25_tail(table: str, term: str, k: int) -> str:
    """dl/st/post/dfs over a `tokens(doc_id, term)` CTE + scored SELECT."""
    return f"""dl AS (SELECT doc_id, count(*) AS dl FROM tokens GROUP BY doc_id),
st AS (SELECT (SELECT count(*) FROM {table}) AS n,
              (SELECT count(*) FROM tokens)::DOUBLE /
              (SELECT count(*) FROM {table}) AS avgdl),
post AS (
  SELECT t.term, t.doc_id, count(*) AS tf, any_value(d.dl) AS dl
  FROM tokens t JOIN dl d USING (doc_id)
  GROUP BY t.term, t.doc_id
),
dfs AS (SELECT term, count(*) AS df FROM post GROUP BY term)
SELECT p.doc_id, round({_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""


def _ru_find_sql(z: str, table) -> str:
    """findEnding (RussianStemmer.cs:292-318): the reference iterates
    the ending class from the LAST entry to the first and takes the
    first match, so the CASE enumerates reversed table order."""
    whens = " ".join(f"WHEN ends_with({z}, '{e}') THEN '{e}'"
                     for e in reversed(table))
    return f"(CASE {whens} ELSE '' END)"


def _chop(z: str, e: str) -> str:
    return f"substr({z}, 1, length({z}) - length({e}))"


def _russian_ctes() -> str:
    """Vocabulary-level RussianStemmer as chained CTEs ending in
    stemmap(w, stem) — the exact stage sequence of
    analysis/intl.russian_stem (RussianStemmer.cs:473-496), generated
    from the SAME ending tables so the two sides cannot drift.  The
    Python port is validated against the reference's own 49,673-pair
    golden corpus (test/contrib/Analyzers/Ru/{words,stems}UTF8.txt)."""
    from . import tables as I

    V = _RU_V
    mark = f"'^[^{V}]*[{V}]+[^{V}]'"
    m2 = f"length(regexp_extract(substr(w, r1 + 1), {mark}))"
    chop1 = "substr(z, 1, length(z) - 1)"
    pred = ("({e} <> '' AND (ends_with(z, 'а' || {e}) "
            "OR ends_with(z, 'я' || {e})))")
    return f"""ruvoc AS MATERIALIZED (SELECT DISTINCT term AS w FROM tok_f),
rum AS MATERIALIZED (
  SELECT w,
         length(regexp_extract(w, '^[^{V}]*[{V}]')) AS m0,
         length(regexp_extract(w, {mark})) AS m1
  FROM ruvoc),
rup AS MATERIALIZED (
  SELECT w,
         CASE WHEN m0 > 0 AND m0 < length(w) THEN m0 ELSE 0 END AS rv,
         CASE WHEN m1 > 0 AND m1 < length(w) THEN m1 ELSE 0 END AS r1
  FROM rum),
rup2 AS MATERIALIZED (
  SELECT w, rv,
         CASE WHEN r1 > 0 AND {m2} > 0 AND r1 + {m2} < length(w)
              THEN r1 + {m2} ELSE 0 END AS r2
  FROM rup),
ruz AS MATERIALIZED (SELECT w, rv, r2, substr(w, rv + 1) AS z FROM rup2),
rg1 AS MATERIALIZED (SELECT *, {_ru_find_sql('z', I.RU_PERFECTIVE_GERUND_1)} AS e1,
               {_ru_find_sql('z', I.RU_PERFECTIVE_GERUND_2)} AS e2 FROM ruz),
rg2 AS MATERIALIZED (SELECT w, rv, r2, e1, e2, z,
        {pred.format(e='e1')} AS p1ok FROM rg1),
rg3 AS MATERIALIZED (SELECT w, rv, r2,
        CASE WHEN p1ok THEN {_chop('z', 'e1')}
             WHEN e2 <> '' THEN {_chop('z', 'e2')}
             ELSE z END AS z,
        (p1ok OR e2 <> '') AS pg
        FROM rg2),
rr1 AS MATERIALIZED (SELECT w, rv, r2, pg,
        CASE WHEN re0 <> '' THEN {_chop('z', 're0')} ELSE z END AS z
        FROM (SELECT *, CASE WHEN NOT pg
                             THEN {_ru_find_sql('z', I.RU_REFLEXIVE)}
                             ELSE '' END AS re0 FROM rg3)),
ra1 AS MATERIALIZED (SELECT *, CASE WHEN NOT pg THEN {_ru_find_sql('z', I.RU_ADJECTIVE)}
                       ELSE '' END AS aj FROM rr1),
ra2 AS MATERIALIZED (SELECT w, rv, r2, pg, (aj <> '') AS adj,
        CASE WHEN aj <> '' THEN {_chop('z', 'aj')} ELSE z END AS z FROM ra1),
ra3 AS MATERIALIZED (SELECT *, CASE WHEN adj THEN {_ru_find_sql('z', I.RU_PARTICIPLE_1)}
                       ELSE '' END AS p1,
                  CASE WHEN adj THEN {_ru_find_sql('z', I.RU_PARTICIPLE_2)}
                       ELSE '' END AS p2 FROM ra2),
ra4 AS MATERIALIZED (SELECT w, rv, r2, pg, adj,
        CASE WHEN adj AND {pred.format(e='p1')} THEN {_chop('z', 'p1')}
             WHEN adj AND p2 <> '' THEN {_chop('z', 'p2')}
             ELSE z END AS z
        FROM ra3),
rvb1 AS MATERIALIZED (SELECT *, CASE WHEN NOT pg AND NOT adj
                        THEN {_ru_find_sql('z', I.RU_VERB_1)}
                        ELSE '' END AS v1,
                   CASE WHEN NOT pg AND NOT adj
                        THEN {_ru_find_sql('z', I.RU_VERB_2)}
                        ELSE '' END AS v2 FROM ra4),
rvb2 AS MATERIALIZED (SELECT w, rv, r2, pg, adj, v1, v2, z,
         {pred.format(e='v1')} AS v1ok FROM rvb1),
rvb3 AS MATERIALIZED (SELECT w, rv, r2, pg, adj,
         CASE WHEN v1ok THEN {_chop('z', 'v1')}
              WHEN v2 <> '' THEN {_chop('z', 'v2')}
              ELSE z END AS z,
         (v1ok OR v2 <> '') AS vb FROM rvb2),
rn1 AS MATERIALIZED (SELECT *, CASE WHEN NOT pg AND NOT adj AND NOT vb
                       THEN {_ru_find_sql('z', I.RU_NOUN)}
                       ELSE '' END AS ne FROM rvb3),
rn2 AS MATERIALIZED (SELECT w, rv, r2,
        CASE WHEN ne <> '' THEN {_chop('z', 'ne')} ELSE z END AS z FROM rn1),
ri AS MATERIALIZED (SELECT w, rv, r2,
       CASE WHEN ends_with(z, 'и') THEN {chop1} ELSE z END AS z FROM rn2),
rd1 AS MATERIALIZED (SELECT *, {_ru_find_sql('z', I.RU_DERIVATIONAL)} AS de FROM ri),
rd2 AS MATERIALIZED (SELECT w, rv,
        CASE WHEN de <> '' AND r2 - rv <= length(z) - length(de)
             THEN {_chop('z', 'de')} ELSE z END AS z FROM rd1),
rs1 AS MATERIALIZED (SELECT *, {_ru_find_sql('z', I.RU_SUPERLATIVE)} AS se FROM rd2),
rs2 AS MATERIALIZED (SELECT w, rv,
        CASE WHEN se <> '' THEN {_chop('z', 'se')} ELSE z END AS z FROM rs1),
rnn AS MATERIALIZED (SELECT w, rv,
        CASE WHEN ends_with(z, 'нн') THEN {chop1} ELSE z END AS z FROM rs2),
stemmap AS MATERIALIZED (
  SELECT w,
         CASE WHEN rv = 0 THEN w
              ELSE substr(w, 1, rv) ||
                   CASE WHEN ends_with(z, 'ь') THEN {chop1} ELSE z END
         END AS stem
  FROM rnn)"""


def russian_term_query(term: str, k: int = 10,
                       table: str = "documents") -> str:
    """analysis/intl.russian_analyzer twin (RussianAnalyzer.cs:136-144):
    transliterate latin->Cyrillic in SQL (digits kept — the letter
    tokenizer accepts them), stop-filter with RUSSIAN_STOP_WORDS, stem
    through the _russian_ctes stemmap, BM25.  `term` must already be
    the stemmed query term, as in the engine."""
    from .tables import RUSSIAN_STOP_WORDS
    stops = ",".join(f"'{w}'" for w in sorted(RUSSIAN_STOP_WORDS))
    return f"""WITH
{_xlit_tk(table, RU_LAT26, RU_CYR26)},
tok_f AS (SELECT * FROM tk
          WHERE length(term) <= 255 AND term NOT IN ({stops})),
{_russian_ctes()},
tokens AS (SELECT t.doc_id, m.stem AS term
           FROM tok_f t JOIN stemmap m ON t.term = m.w),
{_bm25_tail(table, term, k)}"""


def greek_term_query(term: str, k: int = 10,
                     table: str = "documents") -> str:
    """analysis/intl.greek_analyzer twin (GreekAnalyzer.cs:63-71):
    transliterate, apply the GreekLowerCaseFilter normalization pairs
    reachable through the alphabet (final sigma + tonos vowels), then
    the Greek stop set.  No StandardFilter in this chain."""
    from .tables import GREEK_STOP_WORDS
    stops = ",".join(f"'{w}'" for w in sorted(GREEK_STOP_WORDS))
    return f"""WITH
{_xlit_tk(table, EL_LAT36, EL_GRK36)},
norm AS (SELECT doc_id,
                translate(term, '{_EL_NORM_FROM}', '{_EL_NORM_TO}') AS term
         FROM tk),
tokens AS (SELECT * FROM norm
           WHERE length(term) <= 255 AND term NOT IN ({stops})),
{_bm25_tail(table, term, k)}"""


def _arabic_stem_ctes() -> str:
    """ArabicStemmer as chained MATERIALIZED stages over the vocabulary
    (ArabicStemmer.cs:43-66): first matching prefix strips once (waw
    needs len >= 4, others len >= plen + 2), then EVERY suffix in table
    order strips when len >= suflen + 2 — generated from the
    analysis/intl tables.  Stage-per-suffix keeps the expression tree
    linear (a single folded CASE would inline exponentially)."""
    from . import tables as I

    whens = []
    for p in I._AR_PREFIXES:
        need = 4 if len(p) == 1 else len(p) + 2
        whens.append(f"WHEN length(w) >= {need} AND "
                     f"starts_with(w, '{p}') "
                     f"THEN substr(w, {len(p) + 1})")
    ctes = [f"as0 AS MATERIALIZED (SELECT w, CASE {' '.join(whens)} "
            f"ELSE w END AS s FROM aseed)"]
    for i, suf in enumerate(I._AR_SUFFIXES, start=1):
        ctes.append(
            f"as{i} AS MATERIALIZED (SELECT w, "
            f"CASE WHEN length(s) >= {len(suf) + 2} AND "
            f"ends_with(s, '{suf}') "
            f"THEN substr(s, 1, length(s) - {len(suf)}) "
            f"ELSE s END AS s FROM as{i - 1})")
    ctes.append(f"astem AS (SELECT w, s AS stem FROM as{len(I._AR_SUFFIXES)})")
    return ",\n".join(ctes)


def arabic_term_query(term: str, k: int = 10,
                      table: str = "documents") -> str:
    """analysis/intl.arabic_analyzer twin (ArabicAnalyzer.cs:119-129):
    stop BEFORE normalization (the reference list is unnormalized),
    then normalize (translate deletes harakat/tatweel), drop
    fully-deleted tokens (the documented deviation), then stem via a
    vocabulary-level map.  `term` must already be normalized+stemmed."""
    from .tables import ARABIC_STOP_WORDS
    stops = ",".join(f"'{w}'" for w in sorted(ARABIC_STOP_WORDS))
    return f"""WITH
{_xlit_tk(table, AR_LAT36, AR_TGT36)},
tok_f AS (SELECT * FROM tk WHERE term NOT IN ({stops})),
anorm AS (SELECT doc_id,
                 translate(term, '{_AR_NORM_FROM}', '{_AR_NORM_TO}') AS term
          FROM tok_f),
anz AS (SELECT * FROM anorm WHERE term <> ''),
aseed AS (SELECT DISTINCT term AS w FROM anz),
{_arabic_stem_ctes()},
tokens AS (SELECT t.doc_id, m.stem AS term
           FROM anz t JOIN astem m ON t.term = m.w),
{_bm25_tail(table, term, k)}"""


def czech_term_query(term: str, k: int = 10,
                     table: str = "documents") -> str:
    """analysis/intl.czech_analyzer twin (CzechAnalyzer.cs:125-132):
    the standard chain with the Czech stop set — on the ASCII corpus
    the Unicode ALPHANUM branch tokenizes identically to base_ctes."""
    from .tables import CZECH_STOP_WORDS
    return f"""WITH {base_ctes(table, stop_words=CZECH_STOP_WORDS)}
SELECT p.doc_id, round({_bm25()}, 6) AS score
FROM post p JOIN dfs f USING (term) CROSS JOIN st
WHERE p.term = '{term}'
{_topk(k)}"""
