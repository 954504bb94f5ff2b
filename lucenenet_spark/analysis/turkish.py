"""contrib Snowball Turkish — a statement-level transcription of the
generated 2002-era stemmer
(src/contrib/Snowball/SF/Snowball/Ext/TurkishStemmer.cs).

Turkish is suffix-agglutinative, and the algorithm is shaped unlike
every other Snowball stemmer:

- **vowel harmony** (`r_check_vowel_harmony`, TurkishStemmer.cs:311):
  evaluated at the position BEFORE a candidate suffix is matched; the
  last vowel before that position must be "answered" by ANY earlier
  character from its harmony class (a:aoıu e:eiöü ı:aı i:ei o:ou ö:öü
  u:ou ü:öü — the g_vowel1..6 groupings).
- **optional consonant / vowel marks** (lines 577-891): a suffix may
  be preceded by an optional n/s/y consonant (which must itself follow
  a vowel at p-2 — BOTH branches of the generated or require
  w[p-2] to be a vowel) or an optional U-class vowel (ı/i/u/ü, which
  must follow a non-vowel).
- **three suffix chains** (`stem_nominal_verb_suffixes`,
  `stem_suffix_chain_before_ki` (recursive), `stem_noun_suffixes`,
  lines 1364-2613): or-decision trees whose deletions PERSIST even
  when a later conjunct fails (Snowball restores only the cursor, not
  slices) — transcribed branch by branch below, with the generated
  code's own lab-structure quirks kept (e.g. the nominal-verb lAr
  branch unsets continue_stemming_noun_suffixes whether or not its
  try matched; the ndA branch of the ki chain can recurse at a
  MID-STRING position, deleting an inner chain while the ndA+ki tail
  stays).
- **postlude** (lines 2613-3011): append a harmony vowel to stems
  ending d/g, then final b->p c->ç d->t ğ->k; skipped entirely for the
  reserved words 'ad'/'soyad' and for one-syllable words.

SnowballFilter.cs:61-72 uses the stemmer buffer REGARDLESS of Stem()'s
return value, so the partial mutations of a "failed" stem are kept;
`turkish_stem` reproduces that contract.

No DuckDB SQL mirror: the recursive mid-string ki chain is not
reasonably expressible as a vocabulary-level CTE, so this analyzer is
test-verified (goldens + properties), like the Hunspell and Thai
chains.
"""

from __future__ import annotations

TR_VOWELS = "aeıioöuü"
TR_U = "ıiuü"
TR_HARMONY = {
    "a": "aouı", "e": "eiöü", "ı": "aı", "i": "ei",
    "o": "ou", "ö": "öü", "u": "ou", "ü": "öü",
}

TR_POSS = ("m", "n", "miz", "niz", "muz", "nuz", "müz", "nüz",
           "mız", "nız")
TR_LARI = ("leri", "ları")
TR_NU = ("ni", "nu", "nü", "nı")
TR_NUN = ("in", "un", "ün", "ın")
TR_YA = ("a", "e")
TR_NA = ("na", "ne")
TR_DA = ("da", "ta", "de", "te")
TR_NDA = ("nda", "nde")
TR_DAN = ("dan", "tan", "den", "ten")
TR_NDAN = ("ndan", "nden")
TR_YLA = ("la", "le")
TR_NCA = ("ca", "ce")
TR_YUM = ("im", "um", "üm", "ım")
TR_SUN = ("sin", "sun", "sün", "sın")
TR_YUZ = ("iz", "uz", "üz", "ız")
TR_SUNUZ = ("siniz", "sunuz", "sünüz", "sınız")
TR_LAR = ("lar", "ler")
TR_NUZ = ("niz", "nuz", "nüz", "nız")
TR_DUR = ("dir", "tir", "dur", "tur", "dür", "tür", "dır", "tır")
TR_CASINA = ("casına", "cesine")
TR_YDU = ("di", "ti", "dik", "tik", "duk", "tuk", "dük", "tük",
          "dık", "tık", "dim", "tim", "dum", "tum", "düm", "tüm",
          "dım", "tım", "din", "tin", "dun", "tun", "dün", "tün",
          "dın", "tın", "du", "tu", "dü", "tü", "dı", "tı")
TR_YSA = ("sa", "se", "sak", "sek", "sam", "sem", "san", "sen")
TR_YMUS = ("miş", "muş", "müş", "mış")


# ------------------------------------------------------------ primitives


def _harmony(w: str, p: int) -> bool:
    i = p - 1
    while i >= 0 and w[i] not in TR_VOWELS:
        i -= 1
    if i < 0:
        return False
    pair = TR_HARMONY[w[i]]
    return any(c in pair for c in w[:i])


def _suffix(w: str, p: int, table) -> int | None:
    """Longest table suffix of w[:p]; returns its start or None."""
    best = None
    head = w[:p]
    for suf in table:
        if head.endswith(suf) and (best is None or len(suf) > best):
            best = len(suf)
    return None if best is None else p - best


def _opt_cons(w: str, p: int, ch: str) -> int | None:
    """mark_suffix_with_optional_{n,s,y}_consonant: both branches need
    a vowel at p-2; the consonant, if present, is consumed."""
    if p >= 2 and w[p - 2] in TR_VOWELS:
        return p - 1 if w[p - 1] == ch else p
    return None


def _opt_U(w: str, p: int) -> int | None:
    """mark_suffix_with_optional_U_vowel: both branches need a
    NON-vowel at p-2; the U-class vowel, if present, is consumed."""
    if p >= 2 and w[p - 2] not in TR_VOWELS:
        return p - 1 if w[p - 1] in TR_U else p
    return None


# ----------------------------------------------------------- mark_* set


def _mk(table, harmony=True, opt=None):
    def mark(w: str, p: int) -> int | None:
        if harmony and not _harmony(w, p):
            return None
        q = _suffix(w, p, table)
        if q is None:
            return None
        return _opt_cons(w, q, opt) if opt else q
    return mark


_possessives_among = _mk(TR_POSS, harmony=False)


def _mark_possessives(w, p):
    q = _possessives_among(w, p)
    return None if q is None else _opt_U(w, q)


def _mark_sU(w, p):
    if not _harmony(w, p):
        return None
    if p >= 1 and w[p - 1] in TR_U:
        return _opt_cons(w, p - 1, "s")
    return None


def _mark_yU(w, p):
    if not _harmony(w, p):
        return None
    if p >= 1 and w[p - 1] in TR_U:
        return _opt_cons(w, p - 1, "y")
    return None


_mark_lArI = _mk(TR_LARI, harmony=False)
_mark_nU = _mk(TR_NU)
_mark_nUn = _mk(TR_NUN, opt="n")
_mark_yA = _mk(TR_YA, opt="y")
_mark_nA = _mk(TR_NA)
_mark_DA = _mk(TR_DA)
_mark_ndA = _mk(TR_NDA)
_mark_DAn = _mk(TR_DAN)
_mark_ndAn = _mk(TR_NDAN)
_mark_ylA = _mk(TR_YLA, opt="y")
_mark_ncA = _mk(TR_NCA, opt="n")
_mark_yUm = _mk(TR_YUM, opt="y")
_mark_sUn = _mk(TR_SUN)
_mark_yUz = _mk(TR_YUZ, opt="y")
_mark_sUnUz = _mk(TR_SUNUZ, harmony=False)
_mark_lAr = _mk(TR_LAR)
_mark_nUz = _mk(TR_NUZ)
_mark_DUr = _mk(TR_DUR)
_mark_cAsInA = _mk(TR_CASINA, harmony=False)
_mark_yDU = _mk(TR_YDU, opt="y")
_mark_ysA = _mk(TR_YSA, harmony=False, opt="y")
_mark_ymUs = _mk(TR_YMUS, opt="y")


def _mark_yken(w, p):
    if w[:p].endswith("ken"):
        return _opt_cons(w, p - 3, "y")
    return None


def _first(w, p, *marks):
    for mk in marks:
        q = mk(w, p)
        if q is not None:
            return q
    return None


# -------------------------------------------------- the three chains


def _nominal_verb(w: str) -> tuple[str, bool]:
    """stem_nominal_verb_suffixes (lines 1364-1685).  Returns
    (new word, continue_stemming_noun_suffixes)."""
    n = len(w)
    # branch 1: (ymUs_ | yDU | ysA | yken) ] delete
    p = _first(w, n, _mark_ymUs, _mark_yDU, _mark_ysA, _mark_yken)
    if p is not None:
        return w[:p], True
    # branch 2: cAsInA (5-way or | true) ymUs_ ] delete
    p = _mark_cAsInA(w, n)
    if p is not None:
        q = _first(w, p, _mark_sUnUz, _mark_lAr, _mark_yUm, _mark_sUn,
                   _mark_yUz)
        q = p if q is None else q
        r = _mark_ymUs(w, q)
        if r is not None:
            return w[:r], True
    # branch 3: lAr ] delete try([(DUr|yDU|ysA|ymUs_)) unset ] delete
    # -- the generated failure path still reaches the unset, so the
    # flag clears whether or not the try matched
    p = _mark_lAr(w, n)
    if p is not None:
        w2 = w[:p]
        q = _first(w2, len(w2), _mark_DUr, _mark_yDU, _mark_ysA,
                   _mark_ymUs)
        if q is not None:
            w2 = w2[:q]
        return w2, False
    # branch 4: nUz (yDU | ysA) ] delete
    p = _mark_nUz(w, n)
    if p is not None:
        q = _first(w, p, _mark_yDU, _mark_ysA)
        if q is not None:
            return w[:q], True
    # branch 5: (sUnUz|yUz|sUn|yUm) ] delete try([ ymUs_) ] delete
    p = _first(w, n, _mark_sUnUz, _mark_yUz, _mark_sUn, _mark_yUm)
    if p is not None:
        w2 = w[:p]
        q = _mark_ymUs(w2, len(w2))
        if q is not None:
            w2 = w2[:q]
        return w2, True
    # branch 6: DUr ] delete try([ (5-way or | true) ymUs_) ] delete
    p = _mark_DUr(w, n)
    if p is None:
        return w, True  # routine failed; flag was set at entry
    w2 = w[:p]
    m = len(w2)
    q = _first(w2, m, _mark_sUnUz, _mark_lAr, _mark_yUm, _mark_sUn,
               _mark_yUz)
    q = m if q is None else q
    r = _mark_ymUs(w2, q)
    if r is not None:
        w2 = w2[:r]
    return w2, True


def _ki_chain(s: str) -> str | None:
    """stem_suffix_chain_before_ki (lines 1685-1946), recursive.
    Operates on the string `s` whose END is the current cursor; a
    caller holding a tail re-attaches it (the mid-string recursion of
    the ndA branch).  Returns the new string or None when the routine
    fails (in which case nothing was mutated)."""
    if not s.endswith("ki"):
        return None
    p = len(s) - 2
    # --- branch DA: delete [DA..end], then optional continuations
    q = _mark_DA(s, p)
    if q is not None:
        s = s[:q]
        r = _mark_lAr(s, len(s))
        if r is not None:
            s = s[:r]
            res = _ki_chain(s)
            return res if res is not None else s
        r = _mark_possessives(s, len(s))
        if r is not None:
            s = s[:r]
            r2 = _mark_lAr(s, len(s))
            if r2 is not None:
                s = s[:r2]
                res = _ki_chain(s)
                if res is not None:
                    s = res
        return s
    # --- branch nUn
    q = _mark_nUn(s, p)
    if q is not None:
        s = s[:q]
        r = _mark_lArI(s, len(s))
        if r is not None:
            return s[:r]
        r = _first(s, len(s), _mark_possessives, _mark_sU)
        if r is not None:
            s = s[:r]
            r2 = _mark_lAr(s, len(s))
            if r2 is not None:
                s = s[:r2]
                res = _ki_chain(s)
                if res is not None:
                    s = res
            return s
        res = _ki_chain(s)
        return res if res is not None else s
    # --- branch ndA (no delete before the or; the recursion can run
    # at the mid-string position, keeping the ndA+ki tail)
    q = _mark_ndA(s, p)
    if q is None:
        return None
    r = _mark_lArI(s, q)
    if r is not None:
        return s[:r]
    r = _mark_sU(s, q)
    if r is not None:
        s = s[:r]
        r2 = _mark_lAr(s, len(s))
        if r2 is not None:
            s2 = s[:r2]
            res = _ki_chain(s2)
            s = res if res is not None else s2
        return s
    res = _ki_chain(s[:q])
    if res is None:
        return None
    return res + s[q:]


def _noun_suffixes(w: str) -> str | None:
    """stem_noun_suffixes (lines 1946-2613)."""
    n = len(w)
    # N1: lAr ] delete try(ki_chain)
    p = _mark_lAr(w, n)
    if p is not None:
        w = w[:p]
        res = _ki_chain(w)
        return res if res is not None else w
    # N2: ncA ] delete try( lArI | (poss|sU)+try(lAr+ki) | lAr+ki )
    p = _mark_ncA(w, n)
    if p is not None:
        w = w[:p]
        r = _mark_lArI(w, len(w))
        if r is not None:
            return w[:r]
        r = _first(w, len(w), _mark_possessives, _mark_sU)
        if r is not None:
            w = w[:r]
            r2 = _mark_lAr(w, len(w))
            if r2 is not None:
                w2 = w[:r2]
                res = _ki_chain(w2)
                w = res if res is not None else w2
            return w
        r = _mark_lAr(w, len(w))
        if r is not None:
            w2 = w[:r]
            res = _ki_chain(w2)
            w = res if res is not None else w2
        return w
    # N3: (ndA|nA) ( lArI del | sU del try(lAr del ki) | ki_chain@q )
    q = _first(w, n, _mark_ndA, _mark_nA)
    if q is not None:
        r = _mark_lArI(w, q)
        if r is not None:
            return w[:r]
        r = _mark_sU(w, q)
        if r is not None:
            w2 = w[:r]
            r2 = _mark_lAr(w2, len(w2))
            if r2 is not None:
                w3 = w2[:r2]
                res = _ki_chain(w3)
                w2 = res if res is not None else w3
            return w2
        res = _ki_chain(w[:q])
        if res is not None:
            return res + w[q:]
    # N4: (ndAn|nU) ( sU del try(lAr del ki) | lArI del )
    q = _first(w, n, _mark_ndAn, _mark_nU)
    if q is not None:
        r = _mark_sU(w, q)
        if r is not None:
            w2 = w[:r]
            r2 = _mark_lAr(w2, len(w2))
            if r2 is not None:
                w3 = w2[:r2]
                res = _ki_chain(w3)
                w2 = res if res is not None else w3
            return w2
        r = _mark_lArI(w, q)
        if r is not None:
            return w[:r]
    # N5: DAn ] delete try( poss del try(lAr del ki) | lAr del try(ki)
    #                       | ki_chain )
    p = _mark_DAn(w, n)
    if p is not None:
        w = w[:p]
        r = _mark_possessives(w, len(w))
        if r is not None:
            w = w[:r]
            r2 = _mark_lAr(w, len(w))
            if r2 is not None:
                w2 = w[:r2]
                res = _ki_chain(w2)
                w = res if res is not None else w2
            return w
        r = _mark_lAr(w, len(w))
        if r is not None:
            w = w[:r]
            res = _ki_chain(w)
            return res if res is not None else w
        res = _ki_chain(w)
        return res if res is not None else w
    # N6: (nUn|ylA) ] delete try( lAr del ki(REQUIRED, else next alt
    #     on the mutated string) | (poss|sU) del try(lAr del ki) | ki )
    p = _first(w, n, _mark_nUn, _mark_ylA)
    if p is not None:
        w = w[:p]
        r = _mark_lAr(w, len(w))
        if r is not None:
            w2 = w[:r]
            res = _ki_chain(w2)
            if res is not None:
                return res
            w = w2  # the lAr deletion persists into the next branch
        r = _first(w, len(w), _mark_possessives, _mark_sU)
        if r is not None:
            w = w[:r]
            r2 = _mark_lAr(w, len(w))
            if r2 is not None:
                w2 = w[:r2]
                res = _ki_chain(w2)
                w = res if res is not None else w2
            return w
        res = _ki_chain(w)
        return res if res is not None else w
    # N7: lArI ] delete
    p = _mark_lArI(w, n)
    if p is not None:
        return w[:p]
    # N8: ki_chain at the end
    res = _ki_chain(w)
    if res is not None:
        return res
    # N9: (DA|yU|yA) ] delete try( (poss del try([lAr]) | lAr)
    #     ] delete [ ki_chain )
    p = _first(w, n, _mark_DA, _mark_yU, _mark_yA)
    if p is not None:
        w = w[:p]
        r = _mark_possessives(w, len(w))
        if r is not None:
            w = w[:r]
            r2 = _mark_lAr(w, len(w))
            if r2 is not None:
                w = w[:r2]
            res = _ki_chain(w)
            if res is not None:
                w = res
            return w
        r = _mark_lAr(w, len(w))
        if r is not None:
            w = w[:r]
            res = _ki_chain(w)
            if res is not None:
                w = res
        return w
    # N10: (poss|sU) ] delete try(lAr del ki) — else routine fails
    p = _first(w, n, _mark_possessives, _mark_sU)
    if p is None:
        return None
    w = w[:p]
    r = _mark_lAr(w, len(w))
    if r is not None:
        w2 = w[:r]
        res = _ki_chain(w2)
        w = res if res is not None else w2
    return w


# ----------------------------------------------------------- postlude


def _append_U(w: str) -> str:
    if not w.endswith(("d", "g")):
        return w
    i = len(w) - 1
    while i >= 0 and w[i] not in TR_VOWELS:
        i -= 1
    if i < 0:
        return w
    v = w[i]
    if v in "aı":
        return w + "ı"
    if v in "ei":
        return w + "i"
    if v in "ou":
        return w + "u"
    return w + "ü"


_TR_FINAL = {"b": "p", "c": "ç", "d": "t", "ğ": "k"}


def turkish_stem(word: str) -> str:
    w = word
    if sum(1 for c in w if c in TR_VOWELS) < 2:
        return w  # more_than_one_syllable_word gate
    w, cont = _nominal_verb(w)
    if not cont:
        # Stem() returns false here; SnowballFilter keeps the buffer
        return w
    res = _noun_suffixes(w)
    if res is not None:
        w = res
    # postlude: reserved words skip it entirely
    if w in ("ad", "soyad"):
        return w
    w = _append_U(w)
    if w and w[-1] in _TR_FINAL:
        w = w[:-1] + _TR_FINAL[w[-1]]
    return w


def turkish_snowball_analyzer():
    from .snowball_ext import _plain_snowball_analyzer
    return _plain_snowball_analyzer(turkish_stem)
