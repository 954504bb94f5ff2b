"""Deduplication operators for large-scale training-data pipelines.

All operators are pure DataFrame plans (JVM-side, codegen-friendly):

- exact_dups:      hash-groupBy on sha256(content) — one shuffle.
- ngram_jaccard:   word-n-gram shingles -> inverted shingle join ->
                   |intersection| per pair -> Jaccard.  The shingle join IS
                   the scale path (never a doc x doc cross join); hot
                   shingles can be dropped via max_shingle_df (stop-shingle
                   cutoff) exactly like hot-term salting in the index build.
- minhash_lsh:     md5-derived minhash signatures (num_hashes), banded into
                   buckets; candidate pairs = same band bucket; verified
                   with exact Jaccard.  Signature + bands computed entirely
                   with array higher-order functions — no explode until the
                   (doc, band) level.
- simhash:         32-bit simhash over tf-weighted token hashes; near-dup
                   pairs by Hamming distance via bit_count(xor).

Deterministic across runs/engines: all hashing is md5-based (same function
exists in DuckDB for the oracle SQL in oracle/sqlgen.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..analysis.exprs import raw_tokens

ROUND = 6


def _tok_array(text_col: str):
    """Raw standard tokens (stopwords KEPT — dedup looks at surface text)."""
    return raw_tokens(F.col(text_col))


def _hash60(col) -> F.Column:
    """First 15 hex chars of md5 -> non-negative 60-bit long (portable to
    DuckDB: ('0x'||substr(md5(x),1,15))::BIGINT)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("long")


def exact_dups(docs: DataFrame, text_col: str = "text",
               id_col: str = "doc_id",
               key_chars: int | None = None) -> DataFrame:
    """(content_sha, n_dups, canonical_id) for groups of byte-identical docs;
    canonical = lowest doc_id (the survivor).

    key_chars: hash only the first N characters — prefix dedup, the
    standard key for boilerplate/template collapse (full-content equality
    is the None default).  One shuffle either way."""
    key = (F.substring(F.col(text_col), 1, key_chars) if key_chars
           else F.col(text_col))
    return (
        docs.groupBy(F.sha2(key, 256).alias("content_sha"))
        .agg(
            F.count("*").alias("n_dups"),
            F.min(F.col(id_col)).alias("canonical_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def shingles(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
             n: int = 3) -> DataFrame:
    """(doc_id, shingle, n_shingles) — distinct word n-grams per doc."""
    toks = _tok_array(text_col)
    sh = F.array_distinct(
        F.transform(
            F.sequence(F.lit(0), F.greatest(F.size(toks) - n, F.lit(-1))),
            lambda i: F.concat_ws(
                " ", *[F.element_at(toks, i + j + 1) for j in range(n)]
            ),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"), sh.alias("sh"))
        .where(F.size("sh") > 0)
        .select("doc_id", F.size("sh").alias("n_sh"), F.explode("sh").alias("shingle"))
    )


def ngram_jaccard_pairs(docs: DataFrame, text_col: str = "text",
                        id_col: str = "doc_id", n: int = 3,
                        threshold: float = 0.5,
                        max_shingle_df: int | None = None) -> DataFrame:
    """(doc_a, doc_b, jaccard) pairs with n-gram Jaccard >= threshold.

    Inverted-index join on shingle (one shuffle on shingle + one on the
    pair key); max_shingle_df drops shingles occurring in more than that
    many docs (skew guard — a stop-shingle creates O(df^2) pair rows)."""
    sh = shingles(docs, text_col, id_col, n)
    if max_shingle_df is not None:
        hot = (
            sh.groupBy("shingle").agg(F.count("*").alias("sdf"))
            .where(F.col("sdf") > max_shingle_df)
            .select("shingle")
        )
        sh = sh.join(F.broadcast(hot), "shingle", "left_anti")
    a = sh.select(
        F.col("shingle"),
        F.col("doc_id").alias("doc_a"), F.col("n_sh").alias("na"),
    )
    b = sh.select(
        F.col("shingle"),
        F.col("doc_id").alias("doc_b"), F.col("n_sh").alias("nb"),
    )
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b", "na", "nb")
        .agg(F.count("*").alias("inter"))
    )
    jac = F.col("inter").cast("double") / (
        F.col("na") + F.col("nb") - F.col("inter")
    ).cast("double")
    return (
        inter.select("doc_a", "doc_b", F.round(jac, ROUND).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


M30 = (1 << 30) - 1
MH_PRIME = (1 << 61) - 1


def mh_consts(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic affine constants (a_i, b_i) for the minhash family
    h_i(x) = (a_i * (md5_60(x) & M30) + b_i) % MH_PRIME — ONE md5 per token
    derives every hash function; products stay < 2^60 so the identical
    arithmetic runs in DuckDB BIGINTs without overflow."""
    return [
        ((1103515245 * i + 12345) % (1 << 30) | 1,
         (2654435761 * i + 99991) % (1 << 30))
        for i in range(num_hashes)
    ]


def minhash_lsh_pairs(docs: DataFrame, text_col: str = "text",
                      id_col: str = "doc_id", num_hashes: int = 16,
                      bands: int = 2, threshold: float = 0.9,
                      max_bucket_size: int | None = None,
                      broadcast_verify: bool = False,
                      reuse_cache: bool = True) -> DataFrame:
    """MinHash + LSH banding: candidates = pairs sharing >=1 band bucket,
    then verified with EXACT token-set Jaccard >= threshold.

    Defaults target HIGH thresholds (bands=2 x rows=8 -> LSH S-curve knee
    ~0.92): near-dup detection over templated corpora collapses to "most
    pairs match" at low thresholds, where any correct operator's OUTPUT is
    Theta(n^2) — no algorithm fixes that; pick the threshold that makes
    the answer sparse.

    Scale path: the only shuffles are (band_key) and the pair groupBy; a
    band bucket with B docs emits O(B^2) pairs, so max_bucket_size skips
    degenerate buckets (the stop-shingle analogue — a bucket holding a
    measurable fraction of the corpus carries no near-dup signal at 100TB;
    cut pairs are recorded nowhere, which trades recall for survival
    exactly like max_shingle_df).

    Physical notes (measured at sf0.1, 5k docs -> 7.7M candidates):
    - the candidate .distinct() is kept deliberately: besides dedup it is
      the shuffle that REBALANCES the band-join output — dropping it (a
      first-matching-band filter makes it semantically removable) lands
      every hot bucket's pairs on one task (measured 5x slower).
    - the source text is tokenized ONCE: the distinct-token-array frame
      feeds the minhash signatures, the band keys AND both verify sides
      (the naive formulation re-tokenizes 4x because Catalyst does not
      reuse exchanges across aliased self-join branches); reuse_cache
      persists that frame + the band keys (default ON — at 100 TB this is
      the persisted signature table every production pipeline keeps).
    - broadcast_verify ships the token-array table to executors so the
      candidate stream never reshuffles; default OFF (beyond broadcast
      size at scale — use a bucketed shuffle join instead)."""
    rows = num_hashes // bands
    tokarr = docs.select(
        F.col(id_col).alias("doc_id"),
        F.array_sort(F.array_distinct(_tok_array(text_col))).alias("ta"),
    )
    if reuse_cache:
        tokarr = tokarr.cache()
    hm = F.transform(F.col("ta"),
                     lambda t: _hash60(t).bitwiseAND(F.lit(M30)))
    sigs = (tokarr.where(F.size("ta") > 0)
            .select("doc_id", hm.alias("hm"))
            .select("doc_id", F.array(*[
                F.array_min(F.transform(
                    F.col("hm"),
                    lambda h: (F.lit(a) * h + F.lit(b)) % F.lit(MH_PRIME)))
                for a, b in mh_consts(num_hashes)
            ]).alias("sig")))
    banded = sigs.select(
        "doc_id",
        F.posexplode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.md5(
                    F.concat_ws(",", F.slice(F.col("sig"), b * rows + 1, rows))
                ),
            )
        ).alias("band", "bkey"),
    )
    if reuse_cache:
        banded = banded.cache()
    if max_bucket_size is not None:
        hot = (
            banded.groupBy("band", "bkey")
            .agg(F.count("*").alias("bsz"))
            .where(F.col("bsz") > max_bucket_size)
            .select("band", "bkey")
        )
        banded = banded.join(F.broadcast(hot), ["band", "bkey"], "left_anti")
    a = banded.select("band", "bkey", F.col("doc_id").alias("doc_a"))
    b = banded.select("band", "bkey", F.col("doc_id").alias("doc_b"))
    cand = (
        a.join(b, ["band", "bkey"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .distinct()
    )
    # exact-verify candidates with token-SET Jaccard computed per pair as
    # an in-row array_intersect (no explode-join: two hash joins bringing
    # each side's sorted-distinct token array to the pair, then JVM set
    # intersection — at cluster scale the token-array table is the small,
    # bucketable side)
    pa = tokarr.select(F.col("doc_id").alias("doc_a"), F.col("ta").alias("arr_a"))
    pb = tokarr.select(F.col("doc_id").alias("doc_b"), F.col("ta").alias("arr_b"))
    if broadcast_verify:
        pa, pb = F.broadcast(pa), F.broadcast(pb)
    inter = F.size(F.array_intersect(F.col("arr_a"), F.col("arr_b"))).cast("double")
    union = (F.size("arr_a") + F.size("arr_b")).cast("double") - inter
    return (
        cand.join(pa, "doc_a").join(pb, "doc_b")
        .select("doc_a", "doc_b",
                F.round(inter / union, ROUND).alias("jaccard"))
        .where(F.col("jaccard") >= threshold)
    )


def simhash(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id",
            bits: int = 32) -> DataFrame:
    """(doc_id, simhash) — tf-weighted simhash over token md5 bits.

    bit b of the fingerprint is 1 iff sum over tokens of
    tf * (2*bit_b(h(tok)) - 1) > 0.  tf-weighting == summing each token
    OCCURRENCE once, so the plan needs neither a (doc, tok) pre-aggregate
    nor a xbits row explode: ONE groupBy(doc_id) with `bits` sum columns
    (partial map-side combine collapses every partition to one 32-long row
    per doc before the only shuffle — at 100 TB the shuffle volume is
    docs x bits longs, independent of token count).  At 64+ bits, chunk
    into multiple longs; 32 bits fits the portable 60-bit md5 hash."""
    occ = docs.select(
        F.col(id_col).alias("doc_id"),
        F.explode(_tok_array(text_col)).alias("tok"),
    ).withColumn("h", _hash60(F.col("tok")))
    sums = [
        F.sum(F.expr(f"(shiftright(h, {b}) & 1) * 2 - 1")).alias(f"s{b}")
        for b in range(bits)
    ]
    per_doc = occ.groupBy("doc_id").agg(*sums)
    fp = F.lit(0).cast("long")
    for b in range(bits):
        fp = fp + F.when(F.col(f"s{b}") > 0,
                         F.lit(1 << b).cast("long")).otherwise(F.lit(0).cast("long"))
    return per_doc.select("doc_id", fp.alias("simhash"))


def simhash_pairs(docs: DataFrame, text_col: str = "text",
                  id_col: str = "doc_id", bits: int = 32,
                  max_hamming: int = 3) -> DataFrame:
    """(doc_a, doc_b, hamming) pairs within Hamming distance.

    Sandbox implementation joins on a 4-segment prefix index (pigeonhole:
    distance <= 3 over 4 segments => at least one segment identical), the
    standard scale trick — never a full cross join."""
    sh = simhash(docs, text_col, id_col, bits)
    seg_bits = bits // 4
    mask = (1 << seg_bits) - 1
    segs = F.array(
        *[
            F.shiftright(F.col("simhash"), i * seg_bits).bitwiseAND(F.lit(mask))
            for i in range(4)
        ]
    )
    seg = sh.select(
        "doc_id", "simhash",
        F.posexplode(segs).alias("seg_i", "seg_v"),
    )
    a = seg.select("seg_i", "seg_v", F.col("doc_id").alias("doc_a"),
                   F.col("simhash").alias("ha"))
    b = seg.select("seg_i", "seg_v", F.col("doc_id").alias("doc_b"),
                   F.col("simhash").alias("hb"))
    ham = F.bit_count(F.col("ha").bitwiseXOR(F.col("hb"))).cast("long")
    return (
        a.join(b, ["seg_i", "seg_v"])
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", ham.alias("hamming"))
        .distinct()
        .where(F.col("hamming") <= max_hamming)
    )


def near_dup_clusters(pairs: DataFrame, max_iterations: int = 20) -> DataFrame:
    """Resolve (doc_a, doc_b) near-dup PAIRS into CLUSTERS: every doc
    gets cluster_id = the smallest doc_id in its connected component,
    plus keep = (doc_id == cluster_id) — the canonical-representative
    keep-list a dedup pass actually applies (pairs alone cannot be
    applied: deleting one doc of every pair over-deletes transitive
    groups and under-deletes chains).

    Distributed min-label propagation (the alternating double-join of
    the connected-components literature — Hash-Min): labels start as the
    node id; each round every node takes the min label over itself and
    its neighbors; converged when no label changes.  Rounds needed =
    component diameter, and near-dup components are template cliques
    from banding (diameter 1-2, bounded by the LSH bucket guards
    upstream), so the loop converges in 2-3 rounds in practice;
    max_iterations bounds pathological chains.  Each round is ONE
    shuffle (groupBy node) over the edge list — no driver-side graph,
    no collect; the convergence check is a count() per round, which is
    the standard price of iterative dataflow on Spark.

    No reference counterpart: single-node Lucene dedups via
    DuplicateFilter (term-level exact); transitive near-dup grouping is
    part of the training-data-pipeline surface (SURVEY §2 extension,
    same family as minhash_lsh_pairs whose output this consumes).
    """
    # undirected edge list + self-loops so singletons-in-pairs keep labels
    edges = (pairs.select(F.col("doc_a").alias("src"),
                          F.col("doc_b").alias("dst"))
             .unionByName(pairs.select(F.col("doc_b").alias("src"),
                                       F.col("doc_a").alias("dst")))
             .distinct()
             .persist())
    labels = (edges.select(F.col("src").alias("node"))
              .distinct()
              .withColumn("label", F.col("node"))
              .persist())
    labels.count()

    for _ in range(max_iterations):
        # min over (own label, neighbors' labels) in one aggregation
        prop = (edges.join(labels, edges.src == labels.node)
                .select(F.col("dst").alias("node"), "label")
                .unionByName(labels)
                .groupBy("node").agg(F.min("label").alias("label"))
                .persist())
        changed = (prop.join(labels.withColumnRenamed("label", "old"),
                             "node")
                   .where(F.col("label") != F.col("old")).count())
        labels.unpersist()
        labels = prop
        if changed == 0:
            break

    out = labels.select(
        F.col("node").alias("doc_id"),
        F.col("label").alias("cluster_id"),
        (F.col("node") == F.col("label")).alias("keep"))
    edges.unpersist()
    return out
