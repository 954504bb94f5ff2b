"""Lucene's sloppy-phrase frequency: the greedy minimal-window walk.

Operational port of the reference scorer
(src/Lucene.Net/Search/SloppyPhraseScorer.cs:56-96 PhraseFreq,
:134-218 InitPhrasePositions, :226-243 TermPositionsDiffer,
:101-118 Flip; queue order src/Lucene.Net/Search/PhraseQueue.cs:14-23;
position streams src/Lucene.Net/Search/PhrasePositions.cs).

The reference does NOT enumerate every slop-valid position tuple: it
walks a priority queue of per-query-position streams, always advancing
the least normalized position, and scores one match each time the least
stream passes the runner-up — an order-dependent greedy enumeration the
reference itself documents ("a b c"~4 and "c b a"~4 can score
differently on "a b c b a"; SloppyPhraseScorer.cs:46-54).  Repeated
query terms are handled by forcing the repeating streams onto distinct
raw positions (InitPhrasePositions) and flipping streams that collide
during the walk.

This function is the single source of truth for the engine's
slop_spec="lucene" mode (the default for ast.Phrase): the Spark lowering
calls it per candidate doc from an Arrow-batched pandas UDF.  The
independent cross-check lives in oracle/pybm25.py (a separately written
re-derivation) plus golden cases transcribed from the reference's own
doc comments.
"""

from __future__ import annotations

class _PP:
    """PhrasePositions: one normalized position stream (PhrasePositions.cs).

    `positions` are raw token positions sorted ascending; `position`
    exposes raw - offset (FirstPosition/NextPosition semantics)."""

    __slots__ = ("positions", "offset", "i", "position", "repeats")

    def __init__(self, positions: list[int], offset: int):
        self.positions = positions
        self.offset = offset
        self.i = 0
        self.position = 0
        self.repeats = False

    def first_position(self) -> None:
        self.i = 0
        self.next_position()

    def next_position(self) -> bool:
        if self.i < len(self.positions):
            self.position = self.positions[self.i] - self.offset
            self.i += 1
            return True
        return False


def _pq_key(pp: _PP) -> tuple[int, int]:
    # PhraseQueue.LessThan: position, then offset (doc is fixed here)
    return (pp.position, pp.offset)


def lucene_sloppy_freq(plists: list[list[int]], offsets: list[int],
                       slop: int) -> float:
    """freq(doc) for a sloppy phrase: Σ sloppyFreq(matchLength) over the
    matches the reference walk encounters (sloppyFreq(d) = 1/(1+d),
    src/Lucene.Net/Search/DefaultSimilarity.cs:71).

    plists[i] = sorted raw positions of the term at query offset
    offsets[i]; every list must be non-empty (callers pre-filter docs
    missing a term, as PhraseWeight.Scorer does via ConjunctionScorer).
    """
    pps = [_PP(sorted(pl), int(o)) for pl, o in zip(plists, offsets)]
    if any(not pp.positions for pp in pps):
        return 0.0
    if len(pps) < 2:
        # 1-position phrases rewrite to TermQuery before scoring
        return float(len(pps[0].positions)) if pps else 0.0

    # ---- InitPhrasePositions ----
    for pp in pps:
        pp.first_position()

    # detect repeats: two streams on the same raw first position.  The
    # reference runs this check once, on the scorer's FIRST doc
    # (checkedRepeats, SloppyPhraseScorer.cs:158-186) — a stream-state
    # artifact; same-term repeats collide identically on every doc, so
    # per-doc detection only differs on coincidental cross-term
    # collisions, where per-doc is the better-behaved choice.
    repeats: list[_PP] = []
    marked: dict[int, _PP] = {}
    for a in range(len(pps)):
        for b in range(a + 1, len(pps)):
            if (pps[a].position + pps[a].offset
                    == pps[b].position + pps[b].offset):
                pps[a].repeats = True
                pps[b].repeats = True
                marked.setdefault(id(pps[a]), pps[a])
                marked.setdefault(id(pps[b]), pps[b])
    repeats = list(marked.values())

    def term_positions_differ(pp: _PP) -> _PP | None:
        # return the higher-offset stream of the first colliding pair
        tp_pos = pp.position + pp.offset
        for pp2 in repeats:
            if pp2 is pp:
                continue
            if pp2.position + pp2.offset == tp_pos:
                return pp if pp.offset > pp2.offset else pp2
        return None

    if repeats:
        # advance repeating streams until all sit on distinct raw positions
        for pp in repeats:
            while True:
                pp2 = term_positions_differ(pp)
                if pp2 is None:
                    break
                if not pp2.next_position():
                    return 0.0  # ran out of a term — no match

    pq: list[_PP] = list(pps)
    end = max(pp.position for pp in pps)

    # ---- PhraseFreq main walk ----
    freq = 0.0
    done = False
    while not done:
        pq.sort(key=_pq_key)
        pp = pq.pop(0)
        start = pp.position
        next_pos = pq[0].position

        tps_differ = True
        pos = start
        while pos <= next_pos or not tps_differ:
            if pos <= next_pos and tps_differ:
                start = pos  # advance pp to the minimal window
            if not pp.next_position():
                done = True  # ran out of a term — last match below
                break
            pp2 = term_positions_differ(pp) if pp.repeats else None
            tps_differ = (not pp.repeats) or pp2 is None
            if pp2 is not None and pp2 is not pp:
                # Flip: swap pp into the queue in place of pp2
                pq.remove(pp2)
                pq.append(pp)
                pp = pp2
            pos = pp.position

        match_length = end - start
        if match_length <= slop:
            freq += 1.0 / (1.0 + match_length)

        if pp.position > end:
            end = pp.position
        pq.append(pp)

    return freq
