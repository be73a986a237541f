"""Deduplication operators: exact, MinHash+LSH, SimHash, n-gram Jaccard.

Design rules for 100 TB readiness:

- every hash is an md5 **column expression** (JVM-side, codegen'd; also
  engine-portable, so DuckDB oracles reproduce results bit-for-bit);
- candidate generation is always *blocked* (LSH bands, simhash values,
  shared shingles) — nothing ever builds an unblocked |D|² cross join;
- outputs are pair/mapping frames keyed by document id, composing with
  the same keep-first / remap pattern as the feed Merge operator
  (impuls/tasks/merge.py uses the identical dedup-then-remap shape on
  routes/stops — these operators generalize it to web-scale text).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..tools.checkpoints import free_local_checkpoint
from ..tools.concurrency import parallel_writes

SEP = "\x1f"


# ---------------------------------------------------------------------------
# shingling
# ---------------------------------------------------------------------------

def word_shingles(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) — n-word shingles of whitespace-tokenized text.

    All of a document's shingles live in one array, so ``distinct``
    (per-document shingle sets) is ``array_distinct`` BEFORE the
    explode — a map-side dedup that makes the whole operator
    shuffle-free; no global ``DISTINCT`` exchange ever runs.

    Cost is linear in words: shingle i joins element i of the n word
    arrays shifted by 0..n-1, zipped, so each step of the ``transform``
    reads only its own tuple. (Indexing the split text from inside the
    lambda re-splits the whole text for every word — quadratic: one
    20,000-word document took 62 s that way, against under 1 s.)"""
    words = F.col("__w")
    m = F.greatest(F.size(words) - (n - 1), F.lit(0))
    grams = F.arrays_zip(*[
        F.slice(words, 1 + k, m).alias(f"w{k}") for k in range(n)
    ])
    shingle = F.transform(
        grams, lambda g: F.concat_ws(" ", *[g[f"w{k}"] for k in range(n)])
    )
    if distinct:
        shingle = F.array_distinct(shingle)
    return df.select(
        F.col(id_col), F.split(F.col(text_col), " ").alias("__w")
    ).select(F.col(id_col), F.explode(shingle).alias("shingle"))


# ---------------------------------------------------------------------------
# exact dedup
# ---------------------------------------------------------------------------

def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One row per duplicated content hash:
    (content_hash, canonical_id, n_dupes)."""
    return (
        df.groupBy(F.md5(F.col(text_col)).alias("content_hash"))
        .agg(
            F.min(id_col).alias("canonical_id"),
            (F.count("*") - 1).alias("n_dupes"),
        )
        .filter(F.col("n_dupes") > 0)
    )


def exact_dedup(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Keep the lowest-id row per distinct text (hash-groupBy
    keep-first). ``min_by`` over the whole row is a plain hash
    aggregate with map-side partial reduction — a ``row_number()``
    window here would shuffle AND sort every row per content hash."""
    row = F.struct(*[F.col(c) for c in df.columns])
    kept = df.groupBy(F.md5(F.col(text_col)).alias("__h")).agg(
        F.min_by(row, F.col(id_col)).alias("__row")
    )
    return kept.select(*[F.col(f"__row.{c}").alias(c) for c in df.columns])


# ---------------------------------------------------------------------------
# MinHash + LSH
# ---------------------------------------------------------------------------

def minhash_signatures(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 6,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
) -> DataFrame:
    """(id, h0..h{n-1}) — MinHash signature per document.

    Hash family i is ``md5(i <sep> shingle)``; the minimum is taken in
    hex-string order (stable across engines — no 64-bit int coercion
    games). Cost: |shingles| × n_hashes intermediate rows, all
    map-side until the per-document min aggregation. Pass a precomputed
    ``shingles`` frame to share the shingling pass across operators.
    """
    sh = shingles if shingles is not None else word_shingles(
        df, text_col, id_col, n=shingle_n
    )
    # one pass, no seed explode: each hash family is an independent
    # min-aggregate over the same shingle stream (map-side partial mins
    # make this shuffle n_hashes values per doc, not per shingle)
    return sh.groupBy(id_col).agg(*[
        F.min(
            F.md5(F.concat_ws(SEP, F.lit(str(i)), F.col("shingle")))
        ).alias(f"h{i}")
        for i in range(n_hashes)
    ])


def _band_keys(sig: DataFrame, id_col: str, n_hashes: int,
               band_size: int) -> DataFrame:
    """(id, band, key): LSH banding of a minhash signature frame."""
    n_bands = n_hashes // band_size
    return sig.select(
        id_col,
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(b).alias("band"),
                    F.concat_ws(SEP, *[
                        F.col(f"h{b * band_size + j}") for j in range(band_size)
                    ]).alias("key"),
                )
                for b in range(n_bands)
            ])
        ).alias("bk"),
    ).select(id_col, "bk.band", "bk.key")


def lsh_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 6,
    band_size: int = 2,
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    max_bucket: int | None = None,
    signatures: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b) candidate near-duplicate pairs: documents whose
    MinHash signatures collide on at least one band. Classic banding:
    n_hashes/band_size bands; each band's signature is the join key, so
    candidates come from hash-partitioned band buckets — never a cross
    join.

    ``max_bucket`` is the web-scale guard, the band-bucket analog of
    the Jaccard path's ``max_df``: a viral bucket of k documents (empty
    pages, boilerplate templates, spam farms all minhash identically)
    emits k² candidate rows from the self-join; capping skips buckets
    larger than ``max_bucket`` so the per-bucket fan-out is bounded by
    the cap squared regardless of corpus size. Documents in a skipped
    bucket can still pair through their other bands; what's lost is
    only pairs colliding *exclusively* in viral buckets — at web scale
    that's the degenerate-content class an exact-dedup pass upstream
    catches for free. The hot-bucket list is a vocabulary-sized frame,
    broadcast for a map-side anti-join.
    """
    assert n_hashes % band_size == 0
    sig = signatures if signatures is not None else minhash_signatures(
        df, text_col, id_col, n_hashes, shingle_n, shingles=shingles
    )
    bands = _band_keys(sig, id_col, n_hashes, band_size)
    if max_bucket is not None:
        hot = (
            bands.groupBy("band", "key")
            .agg(F.count("*").alias("__n"))
            .filter(F.col("__n") > max_bucket)
            .select("band", "key")
        )
        bands = bands.join(F.broadcast(hot), ["band", "key"], "left_anti")
    a = bands.select(F.col(id_col).alias("id_a"), "band", "key")
    b = bands.select(F.col(id_col).alias("id_b"), "band", "key")
    return (
        a.join(b, ["band", "key"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


# ---------------------------------------------------------------------------
# n-gram Jaccard
# ---------------------------------------------------------------------------

def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.2,
    shingles: DataFrame | None = None,
    max_df: int | None = None,
    parts=None,
) -> DataFrame:
    """(id_a, id_b, jaccard) — EXACT n-gram Jaccard ≥ threshold.

    Two exact strategies, picked by threshold:

    - t < 0.5: shared-shingle candidate join (every co-occurring shingle
      proposes the pair), exact verification over full shingle sets;
    - t ≥ 0.5: **prefix filtering** (the PPJoin family of exact
      set-similarity joins): order each document's shingles by
      ascending global frequency; a pair with Jaccard ≥ t must share a
      shingle within each document's first ``|d| - ceil(t*|d|) + 1``
      shingles, so joining only prefixes prunes the hot-shingle pair
      blowup; candidates verified exactly via ``array_intersect``.
      (At low thresholds the prefix is ~|d| and the filter buys
      nothing — hence the dispatch.)

    Both return identical results.

    ``max_df`` (low-threshold path only) caps the candidate-generation
    inverted list: shingles appearing in more than ``max_df`` documents
    are skipped when *proposing* pairs — a shingle in k docs emits k²
    join rows, so without a cap stop-word shingles make the join
    quadratic on web-scale corpora. Verification is still exact over
    the FULL shingle sets, so every returned (pair, jaccard) is exact;
    the only possible loss is a qualifying pair whose every shared
    shingle is hotter than ``max_df`` — at low thresholds such shingles
    are non-discriminative, and a pair of documents whose overlap is
    entirely stop-shingles is precisely the false-positive class this
    operator exists to avoid. Set ``None`` (default) for the fully
    exhaustive join.
    """
    sh = shingles if shingles is not None else word_shingles(df, text_col, id_col, n=n)
    if threshold < 0.5:
        return _jaccard_count_join(
            sh, id_col, threshold, max_df=max_df, parts=parts
        )
    if parts is not None:
        # loud, not silent: the prefix-filter path generates candidates
        # from frequency-ordered prefixes, never from the capped
        # cold/hot overlap frame — an injected `parts` would be ignored
        raise ValueError(
            "parts= is only consumed by the threshold < 0.5 candidate-join "
            "path; the prefix-filter path (threshold >= 0.5) does not use "
            "it - drop the argument or lower the threshold"
        )
    # global frequency ordering: rare shingles first -> tiny prefixes
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__freq"))
    ranked = sh.join(freq, "shingle")
    w = Window.partitionBy(id_col).orderBy("__freq", "shingle")
    ranked = (
        ranked.withColumn("__pos", F.row_number().over(w))
        .withColumn("__size", F.count("*").over(Window.partitionBy(id_col)))
        .withColumn(
            "__prefix_len",
            (F.col("__size") - F.ceil(F.lit(threshold) * F.col("__size")) + 1)
            .cast("int"),
        )
    )
    prefix = ranked.filter(F.col("__pos") <= F.col("__prefix_len"))
    cand = (
        prefix.select(F.col(id_col).alias("id_a"), "shingle")
        .join(prefix.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )
    return _verify_pairs(sh, cand, id_col, threshold)


def _verify_pairs(
    sh: DataFrame, cand: DataFrame, id_col: str, threshold: float
) -> DataFrame:
    """Exact Jaccard for candidate (id_a, id_b) pairs: md5-hashed full
    shingle sets, JVM ``array_intersect`` — so candidate generation may
    prune however it likes without affecting returned values."""
    sets = sh.groupBy(id_col).agg(
        F.collect_set(F.md5("shingle")).alias("__set"),
        F.count("*").alias("__size"),
    )
    return (
        cand.join(sets.select(F.col(id_col).alias("id_a"),
                              F.col("__set").alias("__seta"),
                              F.col("__size").alias("__sa")), "id_a")
        .join(sets.select(F.col(id_col).alias("id_b"),
                          F.col("__set").alias("__setb"),
                          F.col("__size").alias("__sb")), "id_b")
        .withColumn("__inter", F.size(F.array_intersect("__seta", "__setb")))
        .withColumn(
            "jaccard",
            F.round(
                F.col("__inter")
                / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def _overlap_parts(
    sh: DataFrame, id_col: str, max_df: int
) -> tuple[DataFrame, DataFrame, int]:
    """The measure-independent half of capped pair intersection:
    ``(pre, hotpost, max_df)`` where ``pre`` is every cold-candidate
    pair with its cold overlap count and both documents' stats attached
    (id_a, id_b, __ic, __sa, __sb, __nha, __nhb; ``id_a < id_b``),
    ``hotpost`` is the hot posting list for the exact re-join, and
    ``max_df`` records the cap the split was built with so a consumer
    requesting a different cap fails loudly instead of silently using
    the wrong candidate space.

    Split out (and returned un-pruned) because the expensive stage —
    the cold-postings self-join — depends only on (shingles, max_df),
    not on which similarity measure later prunes it: Jaccard and
    containment queries over the same corpus can compute it ONCE,
    persist, and apply their own thresholds downstream.
    """
    freq = sh.groupBy("shingle").agg(F.count("*").alias("__df"))
    hot = freq.filter(F.col("__df") > max_df).select("shingle")
    mark = sh.join(
        F.broadcast(hot.withColumn("__hot", F.lit(True))), "shingle", "left"
    ).withColumn("__hot", F.coalesce("__hot", F.lit(False)))
    # per-doc stats in one pass: set size + how many of its shingles
    # are hot (the most hot overlap any pair involving it can have)
    stats = mark.groupBy(id_col).agg(
        F.count("*").alias("__size"),
        F.sum(F.col("__hot").cast("int")).alias("__nh"),
    )
    src = mark.filter(~F.col("__hot")).select(id_col, "shingle")
    cold_inter = (
        src.select(F.col(id_col).alias("id_a"), "shingle")
        .join(src.select(F.col(id_col).alias("id_b"), "shingle"), "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__ic"))
    )
    pre = (
        cold_inter
        .join(stats.select(F.col(id_col).alias("id_a"),
                           F.col("__size").alias("__sa"),
                           F.col("__nh").alias("__nha")), "id_a")
        .join(stats.select(F.col(id_col).alias("id_b"),
                           F.col("__size").alias("__sb"),
                           F.col("__nh").alias("__nhb")), "id_b")
    )
    hotpost = mark.filter(F.col("__hot")).select(id_col, "shingle")
    return pre, hotpost, max_df


def _intersections(
    sh: DataFrame,
    id_col: str,
    prune,
    max_df: int | None = None,
    parts: "tuple[DataFrame, DataFrame, int] | None" = None,
) -> DataFrame:
    """(id_a, id_b, __inter, __sa, __sb), ``id_a < id_b`` — exact
    shingle-set intersection sizes for every candidate pair, with the
    per-doc set sizes attached.

    ``prune(ub_inter, sa, sb) -> Column`` is a boolean keep-predicate
    evaluated on an UPPER BOUND of the intersection (capped mode only,
    before the exact hot-correction join); it must be monotone in the
    true intersection so no qualifying pair is dropped. Both the
    Jaccard and the containment measures are computed from this one
    frame — the candidate machinery (max_df cold/hot split, broadcast
    hot vocabulary, upper-bound prune) is shared.
    """
    if max_df is not None or parts is not None:
        # candidate generation only proposes pairs through shingles in
        # ≤ max_df documents: caps the per-shingle join fan-out at
        # max_df² rows regardless of corpus size (stop-shingle k² blowup
        # is the one quadratic hazard in this operator). The exact
        # intersection is computed WITHOUT materializing per-doc sets,
        # as cold + hot parts:
        #
        # - cold part: the candidate count-join itself counts every
        #   shared cold shingle (map-side partial count, one shuffle);
        # - hot part: candidates re-join the hot postings only — fan-out
        #   is |cand| × (hot shingles per doc), and the number of
        #   DISTINCT hot shingles is small by construction (they're the
        #   stop-shingles), so this stays candidate-bounded instead of
        #   df²-bounded.
        #
        # Surviving (pair, jaccard) values are exact over full sets; the
        # only loss is pairs sharing exclusively hot shingles — the
        # non-discriminative false-positive class at low thresholds.
        # the hot LIST is small by construction (it's the distinct
        # stop-shingles, a vocabulary property independent of corpus
        # size), so broadcast it and mark postings map-side — the full
        # inverted list never shuffles through a df-annotation join.
        # The measure-independent pair/overlap frame can be passed in
        # pre-built (and persisted) via ``parts`` — several similarity
        # measures over one corpus share the expensive cold self-join.
        if parts is not None:
            if len(parts) == 3:
                pre, hotpost, parts_max_df = parts
                if max_df is not None and parts_max_df != max_df:
                    raise ValueError(
                        f"parts was built with max_df={parts_max_df} but "
                        f"max_df={max_df} was requested - a mismatched "
                        "candidate space yields wrong pairs; rebuild parts "
                        "or pass the matching max_df"
                    )
            else:  # legacy (pre, hotpost) pair: cap unrecorded
                pre, hotpost = parts
        else:
            pre, hotpost, _ = _overlap_parts(sh, id_col, max_df)
        # upper-bound prune BEFORE the hot-correction join: total
        # intersection ≤ cold overlap + min(hot count a, hot count b),
        # so pairs whose optimistic measure misses the threshold are
        # dropped here and only the (few) near-threshold survivors pay
        # the exact hot re-join — AQE sees a tiny frame and broadcasts.
        ub_i = F.col("__ic") + F.least("__nha", "__nhb")
        near = pre.filter(prune(ub_i, F.col("__sa"), F.col("__sb")))
        hot_inter = (
            near.select("id_a", "id_b")
            .join(hotpost.select(F.col(id_col).alias("id_a"), "shingle"), "id_a")
            .join(
                hotpost.select(F.col(id_col).alias("id_b"), "shingle"),
                ["id_b", "shingle"],
            )
            .groupBy("id_a", "id_b")
            .agg(F.count("*").alias("__ih"))
        )
        return (
            near.join(hot_inter, ["id_a", "id_b"], "left")
            .withColumn(
                "__inter", F.col("__ic") + F.coalesce(F.col("__ih"), F.lit(0))
            )
            .select("id_a", "id_b", "__inter", "__sa", "__sb")
        )

    sizes = sh.groupBy(id_col).agg(F.count("*").alias("__size"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    inter = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count("*").alias("__inter"))
    )
    return (
        inter.join(sizes.select(F.col(id_col).alias("id_a"),
                                F.col("__size").alias("__sa")), "id_a")
        .join(sizes.select(F.col(id_col).alias("id_b"),
                           F.col("__size").alias("__sb")), "id_b")
        .select("id_a", "id_b", "__inter", "__sa", "__sb")
    )


def _jaccard_count_join(
    sh: DataFrame, id_col: str, threshold: float, max_df: int | None = None,
    parts=None,
) -> DataFrame:
    inter = _intersections(
        sh,
        id_col,
        prune=lambda ub, sa, sb: ub / (sa + sb - ub) >= F.lit(threshold),
        max_df=max_df,
        parts=parts,
    )
    return (
        inter.withColumn(
            "jaccard",
            F.round(
                F.col("__inter")
                / (F.col("__sa") + F.col("__sb") - F.col("__inter")),
                6,
            ),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    threshold: float = 0.8,
    text_col: str = "text",
    id_col: str = "doc_id",
    shingle_n: int = 3,
    shingles: DataFrame | None = None,
    max_df: int | None = None,
    parts=None,
) -> DataFrame:
    """(contained_id, container_id, containment) — asymmetric near-dup:
    ``containment(A→B) = |shingles(A) ∩ shingles(B)| / |shingles(A)|``.

    Jaccard misses subset duplication (a paragraph quoted inside a much
    longer page scores near 0 on Jaccard but 1.0 on containment), which
    is the dominant duplication mode in web training data — boilerplate
    wrappers around copied cores. Both directions of every pair are
    tested; a pair can emit two rows when each mostly contains the
    other.

    Plan shape: shares :func:`_intersections` with the Jaccard path —
    one symmetric intersection count per candidate pair (computed once,
    ``id_a < id_b``), then both directional ratios derived from that
    single row. With ``max_df`` the same cold/hot candidate cap
    applies; the prune bound is ``ub / min(|A|, |B|)``, an upper bound
    of BOTH directions, so no qualifying pair is lost to pruning (pairs
    overlapping only in hot shingles are excluded by construction, as
    in the Jaccard path).
    """
    sh = (
        shingles
        if shingles is not None
        else word_shingles(df, text_col, id_col, n=shingle_n)
    )
    inter = _intersections(
        sh,
        id_col,
        prune=lambda ub, sa, sb: ub / F.least(sa, sb) >= F.lit(threshold),
        max_df=max_df,
        parts=parts,
    )
    a_in_b = inter.select(
        F.col("id_a").alias("contained_id"),
        F.col("id_b").alias("container_id"),
        F.round(F.col("__inter") / F.col("__sa"), 6).alias("containment"),
    )
    b_in_a = inter.select(
        F.col("id_b").alias("contained_id"),
        F.col("id_a").alias("container_id"),
        F.round(F.col("__inter") / F.col("__sb"), 6).alias("containment"),
    )
    return a_in_b.unionByName(b_in_a).filter(
        F.col("containment") >= threshold
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

def simhash(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
) -> DataFrame:
    """(id, simhash) — ``bits``-bit SimHash (≤32).

    Bit j of a token is the parity of hex digit j of the token's md5;
    the document bit is the sign of the per-bit vote sum. Pure column
    expressions; portable to any engine with md5/ascii/bit ops.
    """
    assert bits <= 32
    # Scan-stage formulation: no explode, no aggregate, no shuffle.
    # The per-bit vote sum over tokens is 2·(odd-parity count) − n, so
    # bit j is set iff 2·|{tokens with odd hex digit j}| > n — a pure
    # array expression over the token-hash array. The hash array is
    # materialized in its own projection and referenced ``bits`` times,
    # which keeps CollapseProject from inlining (and so re-evaluating)
    # the md5 transform into every bit predicate.
    words = F.split(F.col(text_col), " ")
    hashed = df.select(
        F.col(id_col),
        F.transform(words, lambda w: F.md5(w)).alias("__hs"),
    )
    hs = F.col("__hs")
    n = F.size(hs)
    sig = None
    for j in range(bits):
        odd = F.size(
            F.filter(hs, lambda h: F.ascii(F.substring(h, j + 1, 1)) % 2 == 1)
        )
        bit = F.when(odd * 2 > n, F.lit(1 << j)).otherwise(F.lit(0))
        sig = bit if sig is None else sig + bit
    return hashed.select(id_col, sig.cast("long").alias("simhash"))


def simhash_near_duplicates(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    sig: DataFrame | None = None,
) -> DataFrame:
    """(id_a, id_b, hamming) pairs with SimHash Hamming distance ≤ k.

    Blocking: signatures are split into ``max_hamming+1`` chunks — any
    pair within distance k agrees exactly on ≥1 chunk (pigeonhole), so
    candidates come from equi-joins on (chunk_ix, chunk_value), never a
    cross join. Exact Hamming then filters candidates.

    ``sig`` optionally injects a precomputed (id, simhash) frame (see
    :func:`simhash`). The signature subtree feeds THREE plan branches
    (the distinct value set and both sides of the document expansion),
    so passing a persisted frame here computes the text scan once
    instead of three times — the showcase does this via its session
    cache; a production pipeline would materialize signatures as a
    (id, long) table, ~1% the corpus width.
    """
    if sig is None:
        sig = simhash(df, text_col, id_col, bits)
    # pair DISTINCT signature values, then expand back to documents —
    # on self-similar corpora many documents share a signature, so the
    # value-level pair space is quadratically smaller than the
    # document-level one (results identical)
    vals = sig.select("simhash").distinct()
    n_chunks = max_hamming + 1
    chunk_bits = max(1, bits // n_chunks)
    chunks = vals.select(
        "simhash",
        F.explode(
            F.array(*[
                F.struct(
                    F.lit(c).alias("chunk_ix"),
                    F.shiftright(F.col("simhash"), c * chunk_bits)
                    .bitwiseAND(F.lit((1 << chunk_bits) - 1))
                    .alias("chunk"),
                )
                for c in range(n_chunks)
            ])
        ).alias("ck"),
    ).select("simhash", "ck.chunk_ix", "ck.chunk")
    va = chunks.select(F.col("simhash").alias("__sa"), "chunk_ix", "chunk")
    vb = chunks.select(F.col("simhash").alias("__sb"), "chunk_ix", "chunk")
    value_pairs = (
        va.join(vb, ["chunk_ix", "chunk"])
        .filter(F.col("__sa") <= F.col("__sb"))
        .select("__sa", "__sb")
        .distinct()
        .withColumn("hamming", F.bit_count(F.col("__sa").bitwiseXOR(F.col("__sb"))))
        .filter(F.col("hamming") <= max_hamming)
    )
    a = sig.select(F.col(id_col).alias("id_a"), F.col("simhash").alias("__sa"))
    b = sig.select(F.col(id_col).alias("id_b"), F.col("simhash").alias("__sb"))
    return (
        value_pairs.join(a, "__sa").join(b, "__sb")
        .filter(
            (F.col("__sa") < F.col("__sb"))
            | ((F.col("__sa") == F.col("__sb")) & (F.col("id_a") < F.col("id_b")))
        )
        .select(
            F.least("id_a", "id_b").alias("id_a"),
            F.greatest("id_a", "id_b").alias("id_b"),
            "hamming",
        )
    )


# ---------------------------------------------------------------------------
# duplicate clusters (connected components)
# ---------------------------------------------------------------------------

def duplicate_clusters(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iterations: int = 25,
) -> DataFrame:
    """(doc_id, cluster_id) — connected components over near-duplicate
    pairs; ``cluster_id`` is the smallest document id in the component
    (the canonical survivor a keep-one dedup pass retains).

    Pair emitters (LSH bands, simhash blocks, shingle joins) report the
    same duplicate through many pairs; training-data dedup needs the
    transitive closure so each group keeps exactly one document. This is
    hash-min label propagation: every node repeatedly adopts the minimum
    label among itself and its neighbors, converging in O(diameter)
    rounds — the standard MapReduce/BSP connected-components recipe
    (Vassilvitskii et al.'s CC-MR family), expressed as DataFrame joins.

    Scale notes: each round is one equi-join + one partial-aggregated
    groupBy on the node id. Near-dup graphs have tiny diameters (dup
    groups are cliques-ish), so rounds stay in single digits;
    ``localCheckpoint`` truncates lineage so round N's plan doesn't
    re-analyze rounds 1..N-1. Only nodes that appear in a pair
    participate — singletons are implicitly their own cluster.

    Convergence is probed every OTHER round, and the probe reads a
    ``changed`` flag carried through the round's own (already
    checkpointed) result instead of re-joining new labels against old —
    so a round costs one materialization plus, half the time, one cheap
    scan-only action. Extra rounds past the fixed point are no-ops
    (min-propagation is idempotent), so batched probing never changes
    the result.
    """
    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(
                F.col(id_b).alias("src"), F.col(id_a).alias("dst")
            )
        )
        .distinct()
        .localCheckpoint(eager=False)
    )
    labels = (
        edges.select(F.col("src").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
    )
    for round_ix in range(max_iterations):
        neighbor_min = (
            edges.join(
                labels.withColumnRenamed("node", "dst"), "dst"
            )
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        new_labels = (
            labels.join(neighbor_min, "node", "left")
            .select(
                "node",
                F.least(
                    "label", F.coalesce("nlabel", F.col("label"))
                ).alias("new_label"),
                F.col("label").alias("old_label"),
            )
            .select(
                "node",
                F.col("new_label").alias("label"),
                (F.col("new_label") != F.col("old_label")).alias("changed"),
            )
            .localCheckpoint(eager=True)
        )
        labels = new_labels.select("node", "label")
        # probe every other round: the flag scan is cheap (checkpointed
        # partitions, no join) but still an action; overshooting the
        # fixed point by one round is free, a per-round action is not
        if round_ix % 2 == 1 or round_ix == max_iterations - 1:
            if new_labels.filter("changed").limit(1).count() == 0:
                break
    return labels.select(
        F.col("node").alias("doc_id"), F.col("label").alias("cluster_id")
    )


def apply_clusters(
    df: DataFrame,
    clusters: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """Keep one document per duplicate cluster: the canonical member
    (``cluster_id`` owner) survives, every other clustered document is
    dropped, and unclustered documents pass through untouched.

    ``clusters`` is :func:`duplicate_clusters` output. Plan: one
    broadcast-or-shuffle left-anti join against the (small) set of
    non-canonical members — the corpus never shuffles by anything but
    the join key, and at 100 TB the victim list is the only state.
    """
    victims = clusters.filter(
        F.col(id_col) != F.col("cluster_id")
    ).select(id_col)
    return df.join(victims, id_col, "left_anti")


def incremental_dedup(
    new_df: DataFrame,
    corpus_df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 6,
    band_size: int = 2,
    shingle_n: int = 3,
    corpus_hashes: DataFrame | None = None,
    corpus_bands: DataFrame | None = None,
    broadcast_new: bool = False,
) -> DataFrame:
    """(id, status) for every NEW document, deduplicated AGAINST an
    existing corpus (not within the batch — that's :func:`exact_dedup`
    / :func:`lsh_candidate_pairs`): ``'exact'`` when the verbatim text
    already exists in the corpus, ``'near'`` when at least one MinHash
    band collides with a corpus document, else ``'novel'``.

    The ingest-time operator of a continuously crawled corpus: each
    arriving batch is classified against everything already accepted,
    so the accept/reject decision never rescans accepted text.

    Scale shape: both membership tests are LEFT-SEMI joins — only
    existence is needed, never the matching pairs, so a viral band
    bucket contributes k rows, not k² (the reason this needs no
    ``max_bucket`` cap, unlike the pair-producing path). The corpus
    side reduces to a distinct content-hash set (~32 B/doc) and a
    distinct (band, key) set (n_bands rows/doc) — at 100 TB these are
    precomputed tables maintained per batch, injected via
    ``corpus_hashes`` (distinct ``__h`` md5 column) and
    ``corpus_bands`` (distinct band/key); by default they're derived
    from ``corpus_df`` in one pass each. Nothing is collected.

    Join shape has two modes. Default (``broadcast_new=False``): every
    membership join hash-partitions on its key — right when the NEW
    side is itself large (a full day's crawl classified in batch).
    ``broadcast_new=True`` is the MICRO-BATCH mode
    (``streaming.ingest_with_dedup`` sets it): a left-semi against an
    index-sized right side cannot broadcast-build, so the default
    shuffles the whole corpus hash/band tables through the wire EVERY
    epoch; instead the bounded batch keys push into the index scan as
    a parquet predicate (``probe.pushdown_key_filter``: exact
    membership, no exchange on the corpus tables) and the
    at-most-batch-sized matched sets broadcast back. In that mode
    ``new_df`` is read exactly once, into a checkpointed sketch (id,
    text, md5) that both membership tests read; the hash probe and the
    MinHash band probe run concurrently; the returned frame selects
    from a MATERIALIZED (locally checkpointed) verdict frame, which
    ``free_local_checkpoint(result)`` frees, and every intermediate
    checkpoint is freed before returning. Only set it when the new
    side is trigger-bounded.
    """
    if corpus_hashes is None:
        corpus_hashes = corpus_df.select(
            F.md5(F.col(text_col)).alias("__h")
        ).distinct()
    if corpus_bands is None:
        corpus_bands = _band_keys(
            minhash_signatures(corpus_df, text_col, id_col, n_hashes,
                               shingle_n),
            id_col, n_hashes, band_size,
        ).select("band", "key").distinct()
    status, _, _, temps = _classify_against_index(
        new_df, corpus_hashes, corpus_bands,
        text_col, id_col, n_hashes, band_size, shingle_n,
        broadcast_new=broadcast_new,
    )
    free_local_checkpoint(*temps)
    return status


def _classify_against_index(
    new_df: DataFrame,
    corpus_hashes: DataFrame,
    corpus_bands: DataFrame,
    text_col: str,
    id_col: str,
    n_hashes: int,
    band_size: int,
    shingle_n: int,
    broadcast_new: bool = False,
    cut: bool = False,
):
    """The one classify kernel, shared by :func:`incremental_dedup`,
    :meth:`DedupIndex.classify`, :meth:`DedupIndex.ingest` and the
    streaming ingest sink. Returns ``(status, new_hash, rest_bands,
    temps)``:

    - ``status``: (id, status);
    - ``new_hash``: (id, ``__h``, status), the batch's md5 rows;
    - ``rest_bands``: (id, status, band, key), the band rows of the
      docs that are not ``'exact'``;
    - ``temps``: the intermediate checkpoints, which the caller frees
      (guide §5: the r14 harness left 3 pinned batch RDDs per
      classification to Python GC, measured as 4-6x rep-time spikes).

    All three frames select from one verdict frame (id, ``__h``,
    status, ``__b``: the doc's band keys), so an ingest's appends are
    filters on it (:func:`_accepted_rows`), with no join of their own.

    Everything derives from one SKETCH of the batch, (id, text,
    ``__h``). Two independent branches read it: the hash branch probes
    the md5s and cuts ``exact`` (the ids whose text the index holds);
    the band branch runs MinHash over every doc (per-id ``groupBy``,
    as :func:`minhash_signatures`), cuts the bands, probes their keys
    and cuts ``near`` (per id: its band keys and whether one collides).
    Verdicts join the sketch's (id, ``__h``) to both cuts. In broadcast
    mode the sketch is a checkpoint, so the caller's batch is read
    exactly once, and the two branches run concurrently
    (:func:`~impuls_spark.tools.concurrency.parallel_writes`): the
    call pays the slower branch, not their sum.

    ``cut`` (always on in broadcast mode) materializes the bands and
    the verdicts with ``localCheckpoint``; ``status`` then selects from
    a checkpoint, and ``free_local_checkpoint(status)`` frees it.
    Without it (and without ``broadcast_new``) every frame stays lazy.
    If the kernel raises, it frees what it had already checkpointed."""
    cut = cut or broadcast_new
    temps: list = []

    def checkpoint(df: DataFrame) -> DataFrame:
        df = df.localCheckpoint(eager=True)
        temps.append(df)
        return df

    def keep(df: DataFrame) -> DataFrame:
        return df

    def probe(index: DataFrame, key: str, batch: DataFrame) -> DataFrame:
        # micro-batch mode (see incremental_dedup): the batch keys push
        # INTO the index scan as a parquet predicate (on the
        # key-clustered build/compact layout the scan skips the row
        # groups the batch can't touch, so it stops being O(index)); the
        # scan returns exactly the batch's matches, which broadcast
        # back — the corpus tables are never exchanged
        if not broadcast_new:
            return index
        from .probe import pushdown_key_filter

        return F.broadcast(pushdown_key_filter(index, key, batch))

    # broadcast mode: every join operand besides the probed scans is
    # batch-bounded — hint them all so one classification plans ZERO
    # sort-merge joins, and cut each branch's result so the verdict
    # join reads blocks, not the branches' plans
    small = F.broadcast if broadcast_new else keep
    batch_cut = checkpoint if broadcast_new else keep
    band_cut = checkpoint if cut else keep
    got: dict = {}
    try:
        sketch = batch_cut(new_df.select(
            F.col(id_col), F.col(text_col),
            F.md5(F.col(text_col)).alias("__h"),
        ))
        doc_hash = sketch.select(id_col, "__h")

        def hash_branch() -> None:
            got["exact"] = batch_cut(doc_hash.join(
                probe(corpus_hashes, "__h", doc_hash), "__h", "left_semi"
            ).select(id_col))

        def band_branch() -> None:
            # the ONE MinHash pass: the bands probe and `near` read it
            bands = band_cut(_band_keys(
                minhash_signatures(sketch, text_col, id_col, n_hashes,
                                   shingle_n),
                id_col, n_hashes, band_size,
            ))
            # the probe is on `key` alone (a composite (band, key) In is
            # not pushable): its matches are exact on the key, and this
            # (band, key) semi-join refines cross-band collisions
            hits = bands.join(probe(corpus_bands, "key", bands),
                              ["band", "key"], "left_semi")
            # one aggregate gathers each doc's band keys (what an
            # ingest appends) and whether any collided; a semi-join
            # feeds it because the probe may repeat a bucket (a tracked
            # index holds one row per doc), which an outer join would
            # multiply
            bk = F.struct("band", "key").alias("__bk")
            got["near"] = batch_cut(
                bands.select(id_col, bk, F.lit(False).alias("__n"))
                .unionByName(hits.select(id_col, bk,
                                         F.lit(True).alias("__n")))
                .groupBy(id_col)
                .agg(F.collect_set("__bk").alias("__b"),
                     F.max("__n").alias("__n"))
            )

        parallel_writes(hash_branch, band_branch)
        verdict = (
            doc_hash
            .join(small(got["exact"].withColumn("__e", F.lit(1))),
                  id_col, "left")
            .join(small(got["near"]), id_col, "left")
            .select(
                id_col, "__h",
                F.when(F.col("__e").isNotNull(), F.lit("exact"))
                .when(F.col("__n"), F.lit("near"))
                .otherwise(F.lit("novel"))
                .alias("status"),
                "__b",
            )
        )
        if cut:
            # the verdicts themselves, kept apart from `temps`: the
            # caller's status reads them. The eager evaluation adds no
            # total work: the caller's action was about to run this
            # exact plan.
            verdict = verdict.localCheckpoint(eager=True)
    except BaseException:
        free_local_checkpoint(*temps)
        raise
    return (
        verdict.select(id_col, "status"),
        verdict.select(id_col, "__h", "status"),
        verdict.where(F.col("status") != "exact")
        .select(id_col, "status", F.inline("__b")),
        tuple(temps),
    )


def _accepted_rows(
    new_hash: DataFrame,
    rest_bands: DataFrame,
    id_col: str,
    accept: "tuple[str, ...]" = ("novel",),
    tracked: bool = False,
) -> "tuple[DataFrame, DataFrame]":
    """(hash rows, band rows) that an ingest appends for one
    classification: the kernel's ``new_hash`` and ``rest_bands`` rows
    whose status is in ``accept``, distinct, with the doc id as a
    string ``__id`` column when ``tracked``. Both are filters on the
    kernel's verdicts, so no append joins or re-hashes the batch.
    Shared by :meth:`DedupIndex.ingest` and the streaming ingest
    sink."""
    accepted = F.col("status").isin(*accept)
    id_str = [F.col(id_col).cast("string").alias("__id")] if tracked else []
    return (
        new_hash.where(accepted).select("__h", *id_str).distinct(),
        rest_bands.where(accepted).select("band", "key", *id_str).distinct(),
    )


def block_dedup(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 8,
    max_df: int = 2,
) -> DataFrame:
    """Corpus-wide repeated-block removal (the C4 rule adapted from
    lines to aligned ``block_words``-word blocks): any block occurring
    in more than ``max_df`` documents is boilerplate — navigation
    chrome, license footers, templated headers — and is cut from EVERY
    document containing it.

    Returns (id, n_blocks, n_removed, clean_hash): per-document block
    counts plus the md5 of the cleaned text (blocks re-joined in
    order), so verification never ships full documents.

    Scale shape: one posexplode to (id, block_ix, block); the
    boilerplate dictionary is a count-distinct aggregate keyed on the
    block (map-side partial); the flag join is hash-partitioned on the
    block string; reconstruction is a per-document collect_list whose
    memory is bounded by the document's own size. The hot-block set is
    corpus-derived but never collected or broadcast — at web scale it
    can be cached and reused across curation runs.
    """
    blocks = _word_blocks(df, text_col, id_col, block_words)
    hot = (
        blocks.groupBy("block")
        .agg(F.count_distinct(id_col).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("block", F.lit(1).alias("__hot"))
    )
    flagged = blocks.join(hot, "block", "left")
    kept = F.col("block").isNotNull() & F.col("__hot").isNull()
    return _reassemble_blocks(flagged, id_col, kept)


def _word_blocks(
    df: DataFrame, text_col: str, id_col: str, block_words: int
) -> DataFrame:
    """(id, block_ix, block): aligned ``block_words``-word blocks per
    document — the shared segmentation of :func:`block_dedup` and
    :func:`segment_dedup_keep_first`. posexplode_OUTER: a NULL-text or
    empty document still emits one (NULL block) row, so it survives
    into the per-document report instead of silently vanishing (r8
    review, confirmed by execution)."""
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    nb = F.ceil(n / F.lit(block_words)).cast("int")
    blocks_arr = F.when(
        nb >= 1,
        F.transform(
            F.sequence(F.lit(0), nb - 1),
            lambda i: F.array_join(
                F.slice(words, i * block_words + 1, block_words), " "
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return df.select(
        F.col(id_col),
        F.posexplode_outer(blocks_arr).alias("block_ix", "block"),
    )


def _reassemble_blocks(flagged: DataFrame, id_col: str, kept) -> DataFrame:
    """Per-document report over a flagged block frame: block counts
    (NULL placeholder rows count zero) plus the md5 of the kept blocks
    re-joined in order."""
    kept_struct = F.when(kept, F.struct("block_ix", "block"))
    return flagged.groupBy(id_col).agg(
        F.count("block").alias("n_blocks"),
        F.sum(
            F.when(F.col("block").isNotNull() & ~kept, 1).otherwise(0)
        ).alias("n_removed"),
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(kept_struct)),
                    lambda s: s.getField("block"),
                ),
                " ",
            )
        ).alias("clean_hash"),
    )


def segment_dedup_keep_first(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    block_words: int = 8,
) -> DataFrame:
    """Exact segment-level dedup, Dolma/CCNet keep-FIRST flavor: a
    repeated ``block_words``-word segment survives only at its
    corpus-minimal ``(id, block_ix)`` occurrence; every other copy —
    in other documents or later in the same one — is cut. The sibling
    of :func:`block_dedup`, which removes frequent blocks from EVERY
    document (boilerplate); this keeps exactly one canonical copy
    (syndicated articles, quoted passages).

    Returns (id, n_blocks, n_removed, clean_hash) — cleaned text
    travels as an md5, like block_dedup, so verification never ships
    documents.

    Scale shape: one posexplode to (id, block_ix, block) (shared with
    :func:`block_dedup` via :func:`_word_blocks`); the first-occurrence
    winner per block is ONE min(struct) hash aggregate (map-side
    partial — no window over the block groups); the verdict joins back
    hash-partitioned on the block string; reconstruction is a
    per-document collect_list bounded by the document's own size.
    NULL-text / empty documents report (0, 0, md5('')).
    """
    blocks = _word_blocks(df, text_col, id_col, block_words)
    first = blocks.filter(F.col("block").isNotNull()).groupBy("block").agg(
        F.min(F.struct(F.col(id_col).alias("i"), F.col("block_ix").alias("x")))
        .alias("__f")
    )
    flagged = blocks.join(first, "block", "left")
    kept = (
        F.col("block").isNotNull()
        & (F.col(id_col) == F.col("__f.i"))
        & (F.col("block_ix") == F.col("__f.x"))
    )
    return _reassemble_blocks(flagged, id_col, kept)


def duplicate_spans(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    width: int = 16,
    stride: int = 8,
    max_df: int = 1,
) -> DataFrame:
    """(id, n_windows, n_flagged, dup_token_coverage, dup_coverage_frac)
    — duplicated-SPAN detection: the stride-shingled approximation of
    suffix-array substring dedup (Lee et al. 2022, "Deduplicating
    Training Data Makes Language Models Better"). Unlike
    :func:`block_dedup`'s aligned blocks, windows of ``width`` words
    start every ``stride`` words, so boilerplate shifted between
    documents by any multiple of ``stride`` still collides (an
    arbitrary shift is caught when the offsets agree mod ``stride`` —
    ``stride=1`` gives the exact substring-dedup guarantee at
    |tokens| window rows; larger strides trade recall for cost, the
    standard web-scale setting). Any window occurring in more than
    ``max_df`` distinct documents flags its span.

    ``dup_token_coverage`` is the size of the UNION of flagged windows'
    token ranges — computed from the sorted flagged starts as
    Σ min(next_start − start, width) + width, no interval-merge loop —
    and ``dup_coverage_frac`` divides by the document's token count.
    Only documents with at least one full window appear.

    Scale shape: the window explode carries ~|tokens|/stride rows; the
    duplicated-window dictionary is one count-distinct aggregate
    (map-side partial); flagging is a semi-join on the window string;
    the per-document rollup collects only FLAGGED starts (integers),
    bounded by the document's own window count.
    """
    words = F.split(F.col(text_col), " ")
    n = F.size(words)
    k = F.floor((n - width) / stride).cast("int") + 1
    wins = F.when(
        n >= width,
        F.transform(
            F.sequence(F.lit(0), k - 1),
            lambda i: F.struct(
                (i * stride).alias("start"),
                F.array_join(
                    F.slice(words, i * stride + 1, width), " "
                ).alias("w"),
            ),
        ),
    ).otherwise(F.array().cast("array<struct<start:int,w:string>>"))
    exploded = df.select(
        F.col(id_col), n.alias("__n"), F.explode(wins).alias("win")
    ).select(id_col, "__n", F.col("win.start").alias("__s"),
             F.col("win.w").alias("__w"))
    hot = (
        exploded.groupBy("__w")
        .agg(F.count_distinct(id_col).alias("__df"))
        .filter(F.col("__df") > max_df)
        .select("__w")
    )
    flagged = (
        exploded.join(hot, "__w", "left_semi")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_flagged"),
            F.sort_array(F.collect_list("__s")).alias("__ss"),
        )
    )
    ss = F.col("__ss")
    m = F.size(ss)
    coverage = F.aggregate(
        F.zip_with(
            F.slice(ss, 1, F.greatest(m - 1, F.lit(0))),
            F.slice(ss, 2, F.greatest(m - 1, F.lit(0))),
            lambda a, b: F.least(b - a, F.lit(width)),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    ) + F.lit(width)
    totals = exploded.groupBy(id_col).agg(
        F.count("*").alias("n_windows"), F.max("__n").alias("__n")
    )
    return (
        totals.join(flagged, id_col, "left")
        .select(
            id_col,
            "n_windows",
            F.coalesce("n_flagged", F.lit(0)).cast("int").alias("n_flagged"),
            F.coalesce(F.when(F.col("n_flagged") > 0, coverage), F.lit(0))
            .cast("int").alias("dup_token_coverage"),
            F.round(
                F.coalesce(
                    F.when(F.col("n_flagged") > 0, coverage), F.lit(0)
                ) / F.col("__n"), 6,
            ).alias("dup_coverage_frac"),
        )
    )


# ---------------------------------------------------------------------------
# persisted incremental dedup index
# ---------------------------------------------------------------------------

#: DDL of the two index artifact tables; ``streaming.ingest`` maintains
#: the same shapes as per-epoch stream sidecars.
HASH_SCHEMA = "__h string"
BAND_SCHEMA = "band int, key string"
#: appended to both artifact schemas when the index tracks document
#: ids (``build(track_ids=True)``) — ids ride as strings so one layout
#: serves every id type; classification reads still use the untracked
#: schemas (parquet column pruning skips ``__id`` for free)
ID_COL_SUFFIX = ", __id string"


#: the banding of a streaming corpus whose ingest started before the
#: sidecar manifest existed: ``ingest_with_dedup``'s own defaults
STREAM_BANDING_DEFAULTS = {"text_col": "text", "id_col": "doc_id",
                           "n_hashes": 6, "band_size": 2, "shingle_n": 3}


class DedupIndex:
    """The at-rest form of :func:`incremental_dedup`'s corpus state
    (VERDICT r8 item 1): the distinct content-hash set and the distinct
    MinHash band buckets of every ACCEPTED document, persisted as
    parquet so day-N ingest classifies an arriving batch against the
    stored index — never recomputing corpus signatures, never rereading
    accepted text. The batch-API twin of the streaming ingest sidecars
    (``streaming/ingest.py``), and the LSH sibling of
    ``similarity.AnnIndex``'s save/load contract.

    On-disk layout under ``path`` (pure parquet, any Hadoop-visible
    filesystem — file://, s3a://, gs://):

    - ``hashes/``   — ``__h string``: md5 of each accepted text;
    - ``bands/``    — ``band int, key string``: distinct LSH buckets;
    - ``manifest/`` — one JSON row pinning the build parameters
      (text/id column names, n_hashes, band_size, shingle_n), so a
      consumer cannot silently classify with mismatched banding.

    Cost model at 100 TB: the index is ~32 B/doc of hashes plus
    ``n_bands`` rows/doc of band keys — orders of magnitude smaller
    than the corpus; :meth:`ingest` appends only the arriving batch's
    accepted rows (small files accrue; compact with the corpus
    maintenance pass when needed). All membership tests are LEFT-SEMI
    joins hash-partitioned on their key — a viral band bucket
    contributes k rows, never k².

    Within-batch duplicates are out of scope by the same contract as
    :func:`incremental_dedup` (run :func:`exact_dedup` /
    :func:`lsh_candidate_pairs` upstream): two identical novel docs in
    ONE batch are both accepted ('novel' is judged against the index,
    which only sees the batch after :meth:`ingest` returns).
    """

    def __init__(self, spark, path: str, meta: dict) -> None:
        self.spark = spark
        self.path = path
        self.meta = dict(meta)
        #: True for stream-sidecar views (epoch-partitioned artifacts,
        #: read-only — see :meth:`from_stream_index`)
        self._epoched = False

    # -- construction --------------------------------------------------

    @classmethod
    def build(
        cls,
        corpus_df: DataFrame,
        path: str,
        text_col: str = "text",
        id_col: str = "doc_id",
        n_hashes: int = 6,
        band_size: int = 2,
        shingle_n: int = 3,
        track_ids: bool = False,
        target_shards: "int | None" = None,
    ) -> "DedupIndex":
        """Derive both artifact tables from ``corpus_df`` in one pass
        each and write them (mode=overwrite: rebuilding replaces the
        index wholesale).

        ``track_ids=True`` stores the contributing document id on
        every artifact row (as a string ``__id`` column), which is
        what makes :meth:`remove` — per-document takedown — possible:
        a removed doc's rows delete by semi-join while a hash or band
        bucket another accepted doc shares survives through that doc's
        own row. Costs one row per (doc, key) instead of one per
        distinct key; classification is unchanged either way (the
        membership reads column-prune ``__id`` and the semi-joins
        tolerate the extra per-doc rows — a viral bucket still
        contributes k rows, never k²). Without it the artifacts carry
        no provenance and takedown requires a rebuild.

        ``target_shards`` pins the artifact file count (the
        ``compact`` contract); the default lets AQE size the shards
        (``probe.range_cluster``)."""
        if n_hashes % band_size:
            raise ValueError("n_hashes must be a multiple of band_size")
        spark = corpus_df.sparkSession
        id_str = F.col(id_col).cast("string").alias("__id")
        hashes = corpus_df.select(
            F.md5(F.col(text_col)).alias("__h"),
            *([id_str] if track_ids else []),
        ).distinct()
        bands = _band_keys(
            minhash_signatures(corpus_df, text_col, id_col, n_hashes,
                               shingle_n),
            id_col, n_hashes, band_size,
        ).select("band", "key",
                 *([id_str] if track_ids else [])).distinct()
        # probe-key locality: range partitioning + local sort give
        # every file a disjoint key range and every row group a tight
        # span, so bounded-batch probes (pushdown_key_filter) skip the
        # row groups the batch can't touch — without it the md5/band
        # keys land in hash order and min/max stats can never prune.
        # One extra narrow shuffle at build time buys every future
        # epoch's probe scan; the bloom additionally skips absent keys
        # (the common ingest case).
        from ..tools.rows import write_manifest
        from .probe import write_keyed

        # the two artifact derivations are independent lineages over
        # corpus_df; overlapped, the build pays the slower of the two
        # writes instead of their sum (guide §2.6) — the manifest
        # (completeness marker) still lands strictly last
        parallel_writes(
            lambda: write_keyed(hashes, f"{path}/hashes", "__h",
                                target_shards=target_shards),
            lambda: write_keyed(bands, f"{path}/bands", "key",
                                target_shards=target_shards),
        )
        meta = {
            "text_col": text_col, "id_col": id_col, "n_hashes": n_hashes,
            "band_size": band_size, "shingle_n": shingle_n,
            "track_ids": bool(track_ids),
        }
        write_manifest(spark, f"{path}/manifest", meta)
        return cls(spark, path, meta)

    @classmethod
    def load(cls, spark, path: str, force: bool = False) -> "DedupIndex":
        """Re-attach a saved index; banding parameters come from the
        manifest, never from the caller.

        Refuses on a ROOT-level ``_COMPACTING`` marker — :meth:`remove`
        holds one across its whole multi-artifact rewrite, so a crash
        between the hashes fold and the bands fold (removed doc's hash
        rows gone, band rows still colliding — 'near' instead of
        re-acceptable, takedown incomplete) fail-fasts a fresh session
        here instead of resuming silently. ``force=True`` is the
        recovery path: load SOLELY to re-run ``remove(..., force=True)``
        / ``compact(force=True)`` to convergence, never to classify."""
        from ..streaming.compact import check_not_compacting
        from ..tools.rows import read_manifest

        if not force:
            check_not_compacting(spark, path, "load")  # remove in flight
        meta = read_manifest(spark, f"{path}/manifest", required=True)
        for key in ("text_col", "id_col", "n_hashes", "band_size",
                    "shingle_n"):
            if key not in meta:
                raise ValueError(
                    f"dedup index manifest at {path} lacks {key!r} — not a "
                    "DedupIndex layout?"
                )
        return cls(spark, path, meta)

    @classmethod
    def from_stream_index(
        cls,
        spark,
        corpus_path: str,
        *,
        text_col: "str | None" = None,
        id_col: "str | None" = None,
        n_hashes: "int | None" = None,
        band_size: "int | None" = None,
        shingle_n: "int | None" = None,
    ) -> "DedupIndex":
        """READ-ONLY handle over a STREAMING corpus's dedup sidecars
        (``streaming.ingest_with_dedup`` maintains hash/band tables
        under ``{corpus}/_index``, epoch-partitioned) — so a batch job
        can :meth:`classify` ad-hoc candidates against a corpus a
        stream owns, without touching its state. The STREAM owns all
        writes: :meth:`ingest` and :meth:`compact` raise here (the
        epoch layout's replay contract — a replayed epoch rewrites its
        own partition — must not be disturbed by flat appends; the
        stream's own ``compact_every`` handles maintenance).

        Banding parameters come from the MANIFEST the ingest query
        writes under ``{corpus}/_index/manifest`` (VERDICT r9 item 2) —
        don't pass them. Any parameter passed explicitly is VALIDATED
        against the manifest and a mismatch raises, because it would
        otherwise silently degrade recall (bands built under different
        parameters never collide; no error appears anywhere). The
        kwargs exist only as the fallback for pre-manifest corpora
        (ingest queries started before the manifest was written), where
        they must be the values the ingest query was started with.

        Takedown on a STREAMING corpus: the epoch sidecars carry no
        provenance column, so per-document removal is the operator
        :func:`impuls_spark.streaming.ingest.takedown_stream_corpus`
        (stop ingest → partition-pruned corpus filter → rebuild the
        sidecars as a flat ``track_ids=True`` batch index). AFTER a
        takedown this constructor detects the flat layout from its
        manifest and returns a full READ-WRITE batch handle over it —
        :meth:`remove` then works directly, which is the point of the
        tracked rebuild. Before any takedown (epoch layout) the handle
        is read-only as documented above.

        Visibility: unlike the stream's own per-batch reads (which
        exclude the current epoch for replay safety), this view reads
        EVERY landed partition — including an epoch still in flight.
        For a batch consumer that's the right bias: the in-flight
        epoch's rows will be committed with the same content (a replay
        rewrites its directory wholesale), so at worst a candidate is
        marked duplicate slightly early, never novel wrongly."""
        from ..tools.rows import manifest_params, read_manifest

        manifest = read_manifest(spark, f"{corpus_path}/_index/manifest")
        meta = manifest_params(
            manifest,
            {"text_col": text_col, "id_col": id_col, "n_hashes": n_hashes,
             "band_size": band_size, "shingle_n": shingle_n},
            STREAM_BANDING_DEFAULTS,
            f"{corpus_path}/_index/manifest",
            "a mismatched view would silently miss near-duplicates",
        )
        idx = cls(spark, f"{corpus_path}/_index", meta)
        # a "track_ids" manifest key marks a FLAT batch layout
        # (DedupIndex.build wrote it — takedown_stream_corpus rebuilds
        # the sidecars that way): epoch-aware reads would see it as
        # empty, so serve it as the regular read-write index it is
        idx._epoched = not (manifest is not None
                            and "track_ids" in manifest)
        return idx

    # -- artifact frames (lazy; explicit schemas so an index whose last
    # -- append wrote zero rows still reads — the r8 inference lesson)

    def _artifact(self, name: str, schema: str) -> DataFrame:
        if not self._epoched:
            return self.spark.read.schema(schema).parquet(
                f"{self.path}/{name}"
            )
        # stream sidecars: epoch-partitioned, possibly absent before
        # the first micro-batch — the hardened read maps both missing
        # and empty trees to zero rows (same path as the stream's own
        # per-batch index reads)
        from ..streaming.ingest import _read_or_empty

        return _read_or_empty(
            self.spark, f"{self.path}/{name}", schema, current_epoch=-1
        )

    @property
    def hashes(self) -> DataFrame:
        return self._artifact("hashes", HASH_SCHEMA)

    @property
    def bands(self) -> DataFrame:
        return self._artifact("bands", BAND_SCHEMA)

    # -- use -------------------------------------------------------------

    def _check_batch(self, new_df: DataFrame) -> None:
        missing = {self.meta["text_col"], self.meta["id_col"]} - set(
            new_df.columns
        )
        if missing:
            raise ValueError(
                f"batch frame lacks the columns the index was built with: "
                f"{sorted(missing)} (manifest: text_col="
                f"{self.meta['text_col']!r}, id_col={self.meta['id_col']!r})"
            )

    def classify(
        self, new_df: DataFrame, broadcast_new: bool = False
    ) -> DataFrame:
        """(id, status) per new doc against the STORED index:
        ``'exact'`` / ``'near'`` / ``'novel'`` with
        :func:`incremental_dedup` semantics. ``broadcast_new`` is that
        function's micro-batch join mode (broadcast the bounded batch
        keys, never exchange the index tables) — set it only when
        ``new_df`` is trigger-bounded. In that mode the returned frame
        selects from a MATERIALIZED (locally checkpointed, at most
        batch-sized) verdict frame and every intermediate checkpoint is
        freed before returning; ``free_local_checkpoint`` on the
        returned frame frees its blocks, otherwise they free when it is
        garbage-collected.

        Fails fast on a root ``_COMPACTING`` marker: while a
        :meth:`remove` runs (or after one crashed mid-way) the two
        artifacts can disagree about a removed document, and verdicts
        computed then would be silently wrong."""
        from ..streaming.compact import check_not_compacting

        check_not_compacting(self.spark, self.path, "classify against")
        self._check_batch(new_df)
        m = self.meta
        return incremental_dedup(
            new_df, None, m["text_col"], m["id_col"], m["n_hashes"],
            m["band_size"], m["shingle_n"], corpus_hashes=self.hashes,
            corpus_bands=self.bands, broadcast_new=broadcast_new,
        )

    def ingest(
        self,
        new_df: DataFrame,
        accept: "tuple[str, ...]" = ("novel",),
        broadcast_new: bool = False,
    ) -> DataFrame:
        """Classify ``new_df`` against the stored index, APPEND the
        accepted docs' hashes and band buckets, and return the status
        frame — a selection of the MATERIALIZED (locally checkpointed)
        verdicts: the classification already ran to drive the append,
        so the caller reads the same result without recompute, and the
        appended files cannot leak into it. ``free_local_checkpoint``
        on it frees its blocks; otherwise they free when the frame is
        garbage-collected.

        With the default ``accept=('novel',)`` the appended rows are
        guaranteed absent from the store ('novel' means no hash match
        and zero band collisions), so the on-disk tables stay
        duplicate-free without an anti-join. Widening ``accept`` keeps
        classification correct (semi-joins ignore duplicates) but may
        append rows the store already holds.

        ``broadcast_new`` is :func:`incremental_dedup`'s micro-batch
        join mode (broadcast the bounded batch keys, never exchange
        the index tables) — set it only for trigger-bounded daily/
        hourly appends, never for a backfill the size of the index.

        Classification is :func:`_classify_against_index`, the same
        kernel :meth:`classify` runs, with its lineage cuts on in both
        modes; both appends are filters on its verdicts, so neither
        joins, re-hashes or re-reads the batch. Refuses before any work
        on a ``_COMPACTING`` marker on
        the root or either store dir, and frees the kernel's
        checkpoints on every exit path, a failed append included."""
        if self._epoched:
            raise ValueError(
                "this DedupIndex is a read-only view over a streaming "
                "corpus's index sidecars (from_stream_index); the "
                "ingest query owns all writes — classify() only"
            )
        self._check_batch(new_df)
        bad = set(accept) - {"exact", "near", "novel"}
        if bad:
            raise ValueError(f"unknown accept statuses: {sorted(bad)}")
        from ..streaming.compact import check_not_compacting

        def check_markers() -> None:
            # an append racing a compaction's list/move/delete window
            # can be deleted without being folded — silent data loss
            # the marker turns into an error
            for p in (self.path, f"{self.path}/bands",
                      f"{self.path}/hashes"):
                check_not_compacting(self.spark, p, "ingest into")

        check_markers()
        m = self.meta
        id_col = m["id_col"]
        # Lineage cuts before any append (`cut=True`): every downstream
        # consumer (the two append writes and the frame handed back to
        # the caller) would otherwise re-execute plans that READ the
        # index parquet — and a plain persist() is not enough, because
        # Spark's cache manager re-caches any cached plan whose source
        # path is written (recacheByPath on the append), recomputing it
        # against the NEW files and flipping the batch's own novel docs
        # to 'exact'/'near'. localCheckpoint truncates the plan to the
        # materialized blocks, which no path refresh can touch.
        # (Executor-loss durability caveat as with Merge's lineage cut;
        # the verdicts are batch-sized.)
        status, new_hash, rest_bands, temps = _classify_against_index(
            new_df, self.hashes, self.bands, m["text_col"], id_col,
            m["n_hashes"], m["band_size"], m["shingle_n"],
            broadcast_new=broadcast_new, cut=True,
        )
        # appended batch files carry the same within-file key order and
        # bloom as the built artifact (local sort only — no extra
        # shuffle), so probes prune appended files too until the next
        # compact folds them into the range-partitioned layout
        from .probe import write_keyed

        try:
            # a compaction that started during classification
            check_markers()
            hashes, bands = _accepted_rows(
                new_hash, rest_bands, id_col, accept,
                tracked=self.meta.get("track_ids", False),
            )
            # both append inputs are filters on the checkpointed
            # verdicts, so neither re-reads the store or the batch and
            # append order is free — overlap the two appends so the
            # ingest pays the slower one (guide §2.6)
            parallel_writes(
                lambda: write_keyed(bands, f"{self.path}/bands", "key",
                                    append=True),
                lambda: write_keyed(hashes, f"{self.path}/hashes", "__h",
                                    append=True),
            )
        except BaseException:
            free_local_checkpoint(status)
            raise
        finally:
            # the appends were the intermediates' last consumers; the
            # returned status is a standalone checkpoint, so the
            # caller's reads never touch the freed blocks
            free_local_checkpoint(*temps)
        return status

    def compact(self, target_shards: int = 1,
                force: bool = False,
                stale_after_sec: float = 3600.0) -> "dict[str, dict]":
        """Fold the appended small files (one-plus per :meth:`ingest`)
        into ``target_shards`` per artifact — the index's maintenance
        pass, run on whatever cadence file counts warrant. Both tables
        are membership SETS consumed through semi-joins, so the
        duplicate-tolerant flat-dir compaction applies: no data-loss
        window at any crash point (see
        ``streaming.compact.compact_flat_dir``). Not needed for
        correctness, only for listing/open cost at scale."""
        if self._epoched:
            raise ValueError(
                "stream-sidecar views are read-only: the ingest "
                "query's compact_every maintains the epoch layout"
            )
        from ..streaming.compact import check_not_compacting, compact_flat_dir

        # a ROOT marker means a remove() is running or crashed mid-way:
        # folding the artifacts now would "maintain" an inconsistent
        # takedown state — the recovery is remove(force=True), not this
        check_not_compacting(self.spark, self.path, "compact")

        # a tracked index folds on (key, __id) with the full schema —
        # an untracked-schema fold would silently DROP the provenance
        # column and with it the ability to ever remove() again
        h_schema, h_keys, b_schema, b_keys = self._artifact_layout()
        return {
            "hashes": compact_flat_dir(
                self.spark, f"{self.path}/hashes", h_schema, h_keys,
                target_shards, stale_after_sec=stale_after_sec,
                force=force, cluster_by=["__h"],
            ),
            "bands": compact_flat_dir(
                self.spark, f"{self.path}/bands", b_schema, b_keys,
                target_shards, stale_after_sec=stale_after_sec,
                force=force, cluster_by=["key"],
            ),
        }

    def _artifact_layout(self):
        """(hash schema, hash keys, band schema, band keys) for FULL
        artifact rewrites — includes ``__id`` when tracked, unlike the
        classification reads, which always column-prune to the
        membership keys."""
        if self.meta.get("track_ids", False):
            return (HASH_SCHEMA + ID_COL_SUFFIX, ["__h", "__id"],
                    BAND_SCHEMA + ID_COL_SUFFIX, ["band", "key", "__id"])
        return (HASH_SCHEMA, ["__h"], BAND_SCHEMA, ["band", "key"])

    def remove(self, ids, force: bool = False,
               stale_after_sec: float = 3600.0) -> "dict[str, dict]":
        """Per-document takedown (VERDICT r9 item 4): delete every
        artifact row the given documents contributed, via a staged
        anti-join rewrite of both artifact tables (the
        ``compact_flat_dir`` crash-safe fold with a row-level
        transform). A hash or band bucket SHARED with a surviving
        document survives through that document's own row, so
        classification of everyone else's content is unchanged; the
        removed documents' content — unless some survivor shares it —
        classifies ``novel`` again, i.e. becomes re-acceptable.

        ``ids`` is a list/tuple of document ids or a single-column
        DataFrame of them (compared as strings — the tracked layout
        stores ``__id`` as string for id-type independence).

        Requires an index built (or rebuilt) with ``track_ids=True``:
        without stored provenance there is nothing to anti-join on and
        per-document removal is structurally impossible — the error
        says so and points at the rebuild path. Maintenance-cadence
        operation: one ROOT-level ``_COMPACTING`` marker (heartbeated)
        spans BOTH artifact folds, so a crash at ANY point — including
        BETWEEN the hashes fold and the bands fold, where the removed
        doc's hash rows are gone but its band rows still collide
        ('near' instead of re-acceptable, takedown incomplete on disk)
        — fail-fasts :meth:`load`/:meth:`classify`/:meth:`ingest`
        until a re-run (``force=True``; reload with
        ``load(..., force=True)`` from a fresh session) converges (the
        anti-join is idempotent). Each fold additionally holds its own
        per-dir marker."""
        if self._epoched:
            raise ValueError(
                "stream-sidecar views are read-only: stop the ingest "
                "query and remove against the corpus index directly"
            )
        if not self.meta.get("track_ids", False):
            raise ValueError(
                "this index was built without track_ids=True: artifact "
                "rows carry no document ids, so per-document removal "
                "is structurally impossible — rebuild from the "
                "retained corpus (DedupIndex.build(corpus, path, "
                "track_ids=True)) to make future takedowns cheap"
            )
        from ..streaming.compact import (
            _rid_frame,
            fold_artifacts,
            maintenance,
        )

        h_schema, h_keys, b_schema, b_keys = self._artifact_layout()
        with maintenance(self.spark, self.path, stale_after_sec,
                         force) as m:
            rid = _rid_frame(self.spark, ids)
            if isinstance(ids, DataFrame):
                # both folds broadcast this frame; without a cut each
                # broadcast re-evaluates the caller's subtree (for a
                # DataFrame of ids that can be an arbitrary upstream
                # plan — VERDICT r14 next-round #1). One eager
                # batch-sized checkpoint makes the second evaluation a
                # block read.
                rid = m.checkpoint(rid)
            # batch-sized in every real takedown; broadcast keeps the
            # anti-join map-side over the index scan
            rid = F.broadcast(rid)

            def drop_removed(df: DataFrame) -> DataFrame:
                return df.join(
                    rid, df["__id"] == rid["__rid"], "left_anti"
                )

            return fold_artifacts(m, {
                "hashes": (h_schema, h_keys, drop_removed, ["__h"]),
                "bands": (b_schema, b_keys, drop_removed, ["key"]),
            })
