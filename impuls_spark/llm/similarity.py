"""Similarity search over embedding columns (array<float>).

Two tiers, per the standard ANN playbook:

- :func:`brute_force_topk` — exact cosine top-k; the correctness
  baseline. Cost |Q|×|D| dot products, all inside whole-stage codegen
  (``zip_with`` + ``aggregate`` fold — no UDF, no Python).
- :func:`lsh_topk` — sign-bucket LSH: vectors bucketed by the sign
  pattern of ``n_planes`` fixed coordinates; search touches only the
  query's bucket. Deterministic (coordinate hyperplanes), so
  oracle-checkable; swap in random-projection planes at scale by
  passing ``plane_dims``.

All math is done in double precision (inputs cast up) so results are
reproducible across engines.
"""

from __future__ import annotations

import math
from collections.abc import Sequence
from contextlib import contextmanager
from typing import NamedTuple

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..tools.checkpoints import checkpoints
from ..tools.concurrency import parallel_writes


def _topk(scored: DataFrame, k: int) -> DataFrame:
    """(query_id, neighbor_id, cosine) -> exact per-query top-k with
    ``rank``, ordered by cosine desc then neighbor_id.

    Implemented as a two-level tree aggregation instead of a
    ``row_number()`` window: the window plan shuffles and SORTS every
    candidate row per query; here each input partition first reduces to
    at most k candidates per query map-side (the group key includes
    ``spark_partition_id``, so the partial aggregate completes without
    a shuffle), then the merge level combines ≤ k·n_partitions rows per
    query. Ordering rides a (-cosine, neighbor_id) struct so one
    ``array_sort`` gives the exact same total order the window used.
    """
    item = F.struct((-F.col("cosine")).alias("s"), F.col("neighbor_id").alias("n"))
    partial = (
        scored.groupBy("query_id", F.spark_partition_id().alias("__p"))
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("__top"))
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__top"))), 1, k).alias("__top")
    )
    return (
        merged.select("query_id", F.posexplode("__top").alias("__pos", "__it"))
        .select(
            "query_id",
            F.col("__it.n").alias("neighbor_id"),
            (-F.col("__it.s")).alias("cosine"),
            (F.col("__pos") + 1).cast("int").alias("rank"),
        )
    )


def _as_double(col: Column) -> Column:
    return F.transform(col, lambda x: x.cast("double"))


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0), lambda acc, x: acc + x * x))


def with_cosine(
    pairs: DataFrame, vec_a: str = "__va", vec_b: str = "__vb",
    out: str = "cosine", decimals: int = 6,
) -> DataFrame:
    a, b = _as_double(F.col(vec_a)), _as_double(F.col(vec_b))
    # try_divide: a zero-norm vector (empty doc embedded to zeros) must
    # yield NULL cosine, not an ANSI DIVIDE_BY_ZERO job failure
    return pairs.withColumn(
        out, F.round(F.try_divide(_dot(a, b), _norm(a) * _norm(b)), decimals)
    )


def brute_force_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(query_id, neighbor_id, cosine, rank) — exact top-k by cosine.

    ``queries`` is expected to be small (it is broadcast); ``vectors``
    streams through in parallel. Ties break on neighbor id so ranking
    is total and reproducible.
    """
    # cast + norm once per ROW before the cross join (bit-identical to
    # casting inside the pair expression — norm(a) depends only on a —
    # but |Q|+|D| casts instead of |Q| x |D|)
    q = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__va"),
    ).withColumn("__na", _norm(F.col("__va")))
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__vb"),
    ).withColumn("__nb", _norm(F.col("__vb")))
    pairs = F.broadcast(q).crossJoin(v).filter(F.col("query_id") != F.col("neighbor_id"))
    scored = pairs.select(
        "query_id", "neighbor_id",
        F.round(
            F.try_divide(_dot(F.col("__va"), F.col("__vb")),
                         F.col("__na") * F.col("__nb")),
            6,
        ).alias("cosine"),
    )
    return _topk(scored, k)


def recall_at_k(approx: DataFrame, exact: DataFrame, k: int = 10) -> DataFrame:
    """One row ``(n_queries, mean_recall)``: how much of the EXACT
    top-k (:func:`brute_force_topk`) each query's approximate result
    recovered, averaged over queries — the quality axis of the ANN
    estate that value-hash oracles cannot see (a deterministic index
    can degrade silently while every hash still matches; VERDICT r13
    item 4). Both inputs in topk shape (``query_id, neighbor_id,
    rank``); rows past ``rank <= k`` are ignored on both sides.
    Per-query recall divides by that query's own exact-result size, so
    queries with fewer than ``k`` true neighbors are not penalized.
    Queries absent from ``approx`` entirely count as recall 0 (the
    left join keeps the exact side's query set)."""
    a = (approx.filter(F.col("rank") <= k)
         .select("query_id", "neighbor_id").distinct()
         .withColumn("__hit", F.lit(1)))
    e = exact.filter(F.col("rank") <= k).select("query_id", "neighbor_id")
    per = (
        e.join(a, ["query_id", "neighbor_id"], "left")
        .groupBy("query_id")
        .agg(F.try_divide(
            F.sum(F.coalesce(F.col("__hit"), F.lit(0))),
            F.count(F.lit(1)),
        ).alias("recall"))
    )
    return per.agg(
        F.count(F.lit(1)).alias("n_queries"),
        F.round(F.avg("recall"), 6).alias("mean_recall"),
    )


#: pq_k candidates — powers of two up to 256 (one byte per
#: subquantizer code, the PQ storage standard; past 256 capacity
#: grows by adding subspaces, not wider codes)
_PQ_K_CHOICES = (4, 8, 16, 32, 64, 128, 256)


class AnnCapacity(NamedTuple):
    """A corpus-sized IVF-PQ configuration (:func:`ann_capacity`)."""

    n: int          #: corpus size the plan was derived for
    dim: int        #: embedding dimensionality
    n_cells: int    #: IVF coarse-quantizer cell count (~ sqrt n)
    n_probe: int    #: cells probed per query (~ n_cells / 8)
    m: int          #: PQ subspace count (divides dim)
    pq_k: int       #: centroids per subspace codebook (power of 2,
                    #: <= 256)
    margin: int     #: required code_space / n ratio the plan met

    @property
    def code_space(self) -> float:
        """Distinct representable codes, ``pq_k ** m``."""
        return float(self.pq_k) ** self.m


def _resolution_m(dim: int) -> int:
    """The RESOLUTION subspace count for ``dim``: the largest divisor
    with >= 4 dims per subspace, capped at 32 subspaces (codes-frame
    width / ADC lookup count sanity). Measured (BASELINE.md r14, PQ
    sweep at trained anchors, refined rerank=8): at dim=64 the 4-dim
    subspaces of m=16/pq_k=16 beat every coarser split at EVERY
    corpus size — 0.840 vs ~0.45 (500 vectors), 0.885 vs 0.805 (2k),
    0.580 vs 0.465 (20k) — quantization error per subspace, not code
    collision, is what actually caps recall once capacity clears the
    collision bound."""
    cands = [d for d in range(1, min(32, dim // 4) + 1) if dim % d == 0]
    return max(cands) if cands else 1


def ann_capacity(n: int, dim: int, margin: int = 16) -> AnnCapacity:
    """Corpus-scaled IVF-PQ capacity plan — the quality law the r14
    recall instrument forced (RECALL.json / BASELINE.md r14): a FIXED
    codebook collides as the corpus grows (m=4/pq_k=4 is a 256-code
    space; measured recall@10 0.155 at 500 vectors -> 0.01 at 20k —
    thousands of vectors per identical code make asymmetric distance
    a constant function), exactly as d13's fixed LSH planes went
    quadratic and d56's fixed cell count did before their own scaling
    laws. Capacity must grow with ``n``; this is the one place that
    growth is defined.

    The laws (all public ANN practice — FAISS's published guidelines
    for IVF training, Jégou et al.'s PQ paper for the code budget —
    with the constants set by this repo's own recall sweeps):

    - ``n_cells = clamp(ceil(sqrt(n)), 4, n)`` — sqrt-of-corpus IVF
      lists, balancing per-cell scan cost against routing cost;
    - ``n_probe = clamp(ceil(n_cells / 8), 2, n_cells)`` — probe a
      fixed ~1/8 of the cells, so the probed CANDIDATE fraction stays
      roughly constant as the index grows instead of decaying like a
      fixed n_probe would;
    - ``m = max(resolution_m, collision_m)`` — the RESOLUTION term
      (:func:`_resolution_m`: ~4 dims per subspace, <= 32 subspaces)
      is what the r14 PQ sweep showed actually drives recall; the
      COLLISION term (smallest divisor of ``dim`` whose maximal code
      space ``256**m`` holds ``margin * n``) is the floor that keeps
      astronomically large corpora representable;
    - ``pq_k = max(16, smallest power of two with pq_k**m >=
      margin*n)``, clamped to [4, 256] and to the largest power of
      two <= n (a codebook cannot out-resolve its training set). The
      16 floor is the measured resolution knee; the margin bound
      takes over only when collisions would.

    ``margin`` is the code-space head-room: >= ``margin`` times more
    representable codes than vectors keeps expected code collisions
    ~Poisson-thin so PQ distances still rank candidates. Pure integer
    arithmetic on one scalar — deterministic, and expressible in ANSI
    SQL (the d75 oracle recomputes it; keep the two in lock-step,
    pinned by ``tests/test_ann_recall.py::test_ann_capacity_law``).
    """
    if n < 1:
        raise ValueError(f"corpus size must be >= 1, got {n}")
    if dim < 4:
        raise ValueError(f"dim must be >= 4 for PQ, got {dim}")
    s = math.isqrt(n)
    ceil_sqrt = s if s * s == n else s + 1
    n_cells = min(n, max(4, ceil_sqrt))
    n_probe = min(n_cells, max(2, -(-n_cells // 8)))
    target = float(margin) * float(n)
    m_candidates = [d for d in range(4, dim // 2 + 1)
                    if dim % d == 0] or [max(
                        d for d in range(1, dim + 1) if dim % d == 0
                        and d <= dim // 2)]
    collision_m = next((d for d in m_candidates if 256.0 ** d >= target),
                       m_candidates[-1])
    m = max(_resolution_m(dim), collision_m)
    pq_k = next((p for p in _PQ_K_CHOICES if float(p) ** m >= target),
                _PQ_K_CHOICES[-1])
    pq_k = max(16, pq_k)
    # never more centroids than training vectors: largest power of
    # two <= n, floored at the smallest choice
    pq_k = min(pq_k, max(4, 1 << (n.bit_length() - 1)))
    return AnnCapacity(n, dim, n_cells, n_probe, m, pq_k, margin)


def ann_capacity_columns(n: Column, dim: int,
                         margin: int = 16) -> "dict[str, Column]":
    """Column-expression twin of :func:`ann_capacity` — the same
    integer law as Catalyst expressions over a corpus-count column,
    so a capacity plan can be derived IN-PLAN (the d75 oracle query:
    one agg row -> plan columns, zero driver round-trips) and
    re-computed by any ANSI engine. ``tests/test_ann_recall.py`` pins
    the two formulations equal over a 12-orders-of-magnitude sweep of
    ``n`` — change one, change both. Only exact float operations are
    used (sqrt/log2/pow on integers and powers of two), so the
    boundaries cannot drift between engines.

    Returns ``{"n_cells", "n_probe", "m", "pq_k"}``; expressions for
    the two later keys reference the EXPANDED earlier ones (pure
    expressions, no column references), so the dict can go straight
    into ``select``/``withColumns`` in any order."""
    nl = n.cast("bigint")
    nd = nl.cast("double")
    mn = nd * F.lit(float(margin))
    n_cells = F.least(
        nl, F.greatest(F.lit(4).cast("bigint"), F.ceil(F.sqrt(nd)))
    ).cast("int")
    n_probe = F.least(
        n_cells.cast("bigint"),
        F.greatest(F.lit(2).cast("bigint"),
                   F.ceil(n_cells.cast("double") / F.lit(8.0))),
    ).cast("int")
    m_candidates = [d for d in range(4, dim // 2 + 1)
                    if dim % d == 0] or [max(
                        d for d in range(1, dim + 1) if dim % d == 0
                        and d <= dim // 2)]
    collision_m = F.lit(m_candidates[-1])
    for d in reversed(m_candidates[:-1]):
        collision_m = F.when(F.pow(F.lit(256.0), F.lit(d)) >= mn,
                             F.lit(d)).otherwise(collision_m)
    m = F.greatest(F.lit(_resolution_m(dim)), collision_m)
    pq_raw = F.lit(_PQ_K_CHOICES[-1])
    for p in reversed(_PQ_K_CHOICES[:-1]):
        pq_raw = F.when(F.pow(F.lit(float(p)), m.cast("double")) >= mn,
                        F.lit(p)).otherwise(pq_raw)
    pow2_floor = F.pow(F.lit(2.0), F.floor(F.log2(nd)))
    pq_k = F.least(
        F.greatest(pq_raw, F.lit(16)).cast("double"),
        F.greatest(F.lit(4.0), pow2_floor),
    ).cast("int")
    return {"n_cells": n_cells, "n_probe": n_probe,
            "m": m.cast("int"), "pq_k": pq_k}


def _evenly_spaced(
    vectors: DataFrame,
    n_rows: int,
    id_col: str,
    vec_col: str,
    n: "int | None" = None,
) -> DataFrame:
    """Exactly ``min(n, n_rows)`` rows, evenly spaced in id-RANK order
    — the deterministic corpus sample under :func:`sample_anchors` and
    :meth:`AnnIndex.build_auto`'s quantizer-training set. Rank-spaced
    beats first-k-ids on any corpus whose id order correlates with
    content (ingest batches, sorted exports): first-k rows all land in
    one region, every ``n/n_rows``-th row by rank covers the id space
    by construction. One rank pass (:func:`impuls_spark.operators.
    ranks.distributed_row_number`, global span — no single-partition
    stage) plus a scalar count (pass ``n`` to skip it)."""
    from ..operators.ranks import distributed_row_number

    if n is None:
        n = vectors.count()
    stride = max(1, n // max(1, n_rows))
    ranked = distributed_row_number(
        vectors.select(id_col, vec_col), [id_col], "__rank",
        span="global",
    )
    return (
        ranked.filter(
            ((F.col("__rank") - 1) % stride == 0)
            & (F.col("__rank") <= stride * n_rows)
        )
        .select(id_col, vec_col)
    )


def sample_anchors(
    vectors: DataFrame,
    n_cells: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """``n_cells`` UNTRAINED seed anchors, evenly spaced in id-rank
    order — the zero-training-cost initializer for an IVF index when
    the caller wants routing without a Lloyd pass (prototyping, or a
    corpus known to be unclustered). :meth:`AnnIndex.build_auto`
    trains real k-means anchors instead (measured: Lloyd anchors
    lifted the probed-recall ceiling 0.36 -> 0.92 on the clustered
    test corpus at identical n_probe — routing quality IS anchor
    quality); retrains replace any anchors with Lloyd centroids."""
    return _evenly_spaced(vectors, n_cells, id_col, vec_col)


def lsh_buckets(
    vectors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_dims: Sequence[int] = (0, 1, 2, 3, 4, 5, 6, 7),
) -> DataFrame:
    """Add a ``bucket`` int column: bit i = sign of coordinate
    ``plane_dims[i]``. Coordinate hyperplanes are the deterministic
    stand-in for random projections (same bucketing algebra)."""
    bucket = None
    for i, d in enumerate(plane_dims):
        bit = F.when(
            F.element_at(F.col(vec_col), d + 1).cast("double") > 0.0, F.lit(1 << i)
        ).otherwise(F.lit(0))
        bucket = bit if bucket is None else bucket + bit
    return vectors.withColumn("bucket", bucket.cast("int"))


def lsh_topk(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_dims: Sequence[int] = (0, 1, 2, 3, 4, 5, 6, 7),
) -> DataFrame:
    """Approximate top-k: candidates limited to the query's LSH bucket.

    The bucket equi-join replaces the cross join — at 100 TB this is
    the difference between |Q|×|D| and |Q|×|D|/2^planes, and the join
    shuffles on the bucket key like any other aggregation.
    """
    vb = lsh_buckets(vectors, id_col, vec_col, plane_dims).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb"), "bucket"
    )
    qb = lsh_buckets(queries, id_col, vec_col, plane_dims).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__va"), "bucket"
    )
    pairs = F.broadcast(qb).join(vb, "bucket").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = with_cosine(pairs).select("query_id", "neighbor_id", "cosine")
    return _topk(scored, k)


def ivf_assign(
    vectors: DataFrame,
    anchors: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Assign every vector to its nearest anchor (IVF cell).

    ``anchors`` is a small frame (anchor_id, embedding) — at scale the
    output of k-means sampling; for reproducibility any deterministic
    subset works (e.g. the first k vectors). Broadcast nested-loop of
    |D| × |anchors| dot products, then argmax per vector — the
    standard IVF coarse quantizer as a pure DataFrame plan.
    """
    # cast + norm per row, not per (row, anchor) pair — see
    # brute_force_topk; identical bits, k-fold fewer casts
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        _as_double(F.col(vec_col)).alias("__va"),
    ).withColumn("__nna", _norm(F.col("__va")))
    v = vectors.select(
        F.col(id_col).alias("__vid"),
        _as_double(F.col(vec_col)).alias("__vb"),
    ).withColumn("__nnb", _norm(F.col("__vb")))
    scored = v.crossJoin(F.broadcast(a)).withColumn(
        "__sim",
        F.round(
            F.try_divide(_dot(F.col("__va"), F.col("__vb")),
                         F.col("__nna") * F.col("__nnb")),
            6,
        ),
    )
    # argmax via min_by over a (-sim, anchor_id) ordering struct: a
    # plain hash aggregate with map-side partial reduction, where a
    # row_number() window would shuffle AND sort all |D|×|anchors| rows
    return scored.groupBy("__vid").agg(
        F.min_by(
            "anchor_id",
            F.struct((-F.col("__sim")).alias("s"), F.col("anchor_id").alias("a")),
        ).alias("anchor_id")
    ).select(F.col("__vid").alias(id_col), "anchor_id")


def ivf_assign_probes(
    queries: DataFrame,
    anchors: DataFrame,
    n_probe: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, anchor_id) — each query's ``n_probe`` nearest anchors.

    Top-n over the broadcast anchor scores via a hash aggregate
    (collect + ``array_sort`` + ``slice``), never a row_number window:
    the per-group list is bounded by |anchors|, which is small by IVF
    construction, and partial aggregation keeps the shuffle at
    n_probe-ish rows per query."""
    a = anchors.select(
        F.col(id_col).alias("anchor_id"),
        _as_double(F.col(vec_col)).alias("__va"),
    ).withColumn("__nna", _norm(F.col("__va")))
    v = queries.select(
        F.col(id_col).alias("__vid"),
        _as_double(F.col(vec_col)).alias("__vb"),
    ).withColumn("__nnb", _norm(F.col("__vb")))
    scored = v.crossJoin(F.broadcast(a)).withColumn(
        "__sim",
        F.round(
            F.try_divide(_dot(F.col("__va"), F.col("__vb")),
                         F.col("__nna") * F.col("__nnb")),
            6,
        ),
    )
    item = F.struct((-F.col("__sim")).alias("s"), F.col("anchor_id").alias("a"))
    top = scored.groupBy("__vid").agg(
        F.slice(F.array_sort(F.collect_list(item)), 1, n_probe).alias("__top")
    )
    return top.select(
        F.col("__vid").alias(id_col),
        F.explode("__top.a").alias("anchor_id"),
    )


def ivf_topk(
    vectors: DataFrame,
    queries: DataFrame,
    anchors: DataFrame,
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_probe: int = 1,
) -> DataFrame:
    """IVF approximate top-k: queries search their ``n_probe`` nearest
    cells. The cell equi-join bounds candidates to
    n_probe × |D|/|anchors| per query on average; cells are disjoint,
    so multi-probe candidates need no dedup. Recall rises monotonically
    with ``n_probe`` (at n_probe = |anchors| this is exact brute
    force)."""
    cells = ivf_assign(vectors, anchors, id_col, vec_col)
    qcells = (
        ivf_assign(queries, anchors, id_col, vec_col)
        if n_probe == 1
        else ivf_assign_probes(queries, anchors, n_probe, id_col, vec_col)
    )
    v = vectors.join(cells, id_col).select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("__vb"), "anchor_id"
    )
    q = queries.join(qcells, id_col).select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("__va"), "anchor_id"
    )
    pairs = F.broadcast(q).join(v, "anchor_id").filter(
        F.col("query_id") != F.col("neighbor_id")
    )
    scored = with_cosine(pairs).select("query_id", "neighbor_id", "cosine")
    return _topk(scored, k)


def embedding_near_duplicates(
    vectors: DataFrame,
    threshold: float = 0.98,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    plane_dims: Sequence[int] = (0, 1, 2, 3, 4, 5, 6, 7),
) -> DataFrame:
    """(id_a, id_b, cosine) near-duplicate pairs by embedding cosine,
    LSH-blocked (near-identical vectors share sign buckets)."""
    vb = lsh_buckets(vectors, id_col, vec_col, plane_dims).withColumn(
        "__vd", _as_double(F.col(vec_col))
    ).withColumn("__nn", _norm(F.col("__vd")))
    a = vb.select(F.col(id_col).alias("id_a"), F.col("__vd").alias("__va"),
                  F.col("__nn").alias("__na"), "bucket")
    b = vb.select(F.col(id_col).alias("id_b"), F.col("__vd").alias("__vb"),
                  F.col("__nn").alias("__nb"), "bucket")
    pairs = a.join(b, "bucket").filter(F.col("id_a") < F.col("id_b"))
    return (
        pairs.withColumn(
            "cosine",
            F.round(
                F.try_divide(_dot(F.col("__va"), F.col("__vb")),
                             F.col("__na") * F.col("__nb")),
                6,
            ),
        )
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def centroid_outliers(
    vectors: DataFrame,
    group_col: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float | None = None,
) -> DataFrame:
    """(id, group, centroid_cosine) — each vector's cosine to its own
    group's mean embedding; rows far below 1.0 are the group's semantic
    outliers (mislabeled documents, crawler junk inside a source,
    contaminated shards). ``threshold`` keeps only rows at or below it.

    Plan shape: posexplode to (group, position, component) → one
    partial-aggregated average per (group, position) — the shuffle
    carries |groups| × dim rows, NOT |vectors| × dim, thanks to
    map-side combine — then the per-group centroid (a |groups| × dim
    frame, tiny by construction) is rebuilt with an ordered
    collect_list and BROADCAST back onto the vectors for a scan-stage
    cosine. Two narrow shuffles, no join on the big side's row count,
    no driver collect.
    """
    comp = vectors.select(
        F.col(group_col).alias("__g"),
        F.posexplode(_as_double(F.col(vec_col))).alias("__pos", "__x"),
    )
    means = comp.groupBy("__g", "__pos").agg(F.avg("__x").alias("__m"))
    centroids = means.groupBy("__g").agg(
        F.transform(
            F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
            lambda s: s["__m"],
        ).alias("__centroid")
    )
    joined = vectors.select(
        F.col(id_col), F.col(group_col), F.col(vec_col).alias("__va")
    ).join(
        F.broadcast(
            centroids.select(F.col("__g").alias(group_col), F.col("__centroid"))
        ),
        group_col,
    )
    out = joined.select(
        id_col,
        group_col,
        F.round(
            _dot(_as_double(F.col("__va")), F.col("__centroid"))
            / (_norm(_as_double(F.col("__va"))) * _norm(F.col("__centroid"))),
            6,
        ).alias("centroid_cosine"),
    )
    if threshold is not None:
        out = out.filter(F.col("centroid_cosine") <= threshold)
    return out


def _sq_l2(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _kmeans_assign(v: DataFrame, centroids: DataFrame) -> DataFrame:
    """(vid, cid): nearest centroid by squared L2, ties to the lowest
    cluster id (deterministic, engine-portable)."""
    scored = v.crossJoin(F.broadcast(centroids)).select(
        "__vid", "__cid",
        _sq_l2(F.col("__v"), F.col("__c")).alias("__d2"),
    )
    return scored.groupBy("__vid").agg(
        F.min_by(
            "__cid", F.struct(F.col("__d2").alias("d"), F.col("__cid").alias("c"))
        ).alias("__cid")
    )


def _lloyd(v: DataFrame, init: DataFrame, n_iter: int,
           by: "tuple[str, ...]" = ()) -> DataFrame:
    """``n_iter`` Lloyd iterations of the centroids ``init`` (``by``
    keys, ``__cid``, ``__c``) over the points ``v`` (``__vid``, ``by``
    keys, ``__v``); every ``by`` group is its own k-means. Empty
    clusters retain their centroid, and each iteration's centroids are
    checkpointed (a checkpoint does not reference the one before it:
    the scope frees the superseded k-row blocks, keeps the returned).

    r15 iteration shape (guide §2.4): the update pass FUSES assignment
    and vector carry into one min_by/first aggregate — ``first(__v)``
    is deterministic because every row of a (``__vid``, ``by``) group
    carries the same vector — so the per-iteration ``assign ->
    join(v)`` shuffle pair collapses to a single exchange."""
    cell = [*by, "__cid"]
    with checkpoints() as cps:
        centroids = cps.checkpoint(init)
        for _ in range(n_iter):
            c = F.broadcast(centroids)
            scored = (v.join(c, list(by)) if by else v.crossJoin(c)).select(
                "__vid", *cell,
                _sq_l2(F.col("__v"), F.col("__c")).alias("__d2"),
                "__v",
            )
            assigned = scored.groupBy("__vid", *by).agg(
                F.min_by(
                    "__cid",
                    F.struct(F.col("__d2").alias("d"),
                             F.col("__cid").alias("c")),
                ).alias("__cid"),
                F.first("__v").alias("__v"),
            )
            comp = assigned.select(
                *cell, F.posexplode("__v").alias("__pos", "__x")
            )
            means = comp.groupBy(*cell, "__pos").agg(
                F.avg("__x").alias("__m")
            )
            new_c = means.groupBy(*cell).agg(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("__pos", "__m"))),
                    lambda st: st["__m"],
                ).alias("__c")
            )
            centroids = cps.checkpoint(
                centroids.select(*cell, F.col("__c").alias("__old"))
                .join(new_c, cell, "left")
                .select(*cell, F.coalesce("__c", "__old").alias("__c"))
            )
        cps.keep(centroids)
    return centroids


def _kmeans_centroids(v: DataFrame, k: int, n_iter: int) -> DataFrame:
    """(cid, c): Lloyd-iterated centroids of a (__vid, __v) frame —
    init from the first k vectors in id order (see kmeans_fit and
    :func:`_lloyd`). The points frame is persisted for the duration of
    the loop (every Lloyd implementation caches the points — the
    iterations re-scanned the source n_iter times before). Same math,
    same tie-breaks, same result."""
    v = v.persist()
    try:
        w = Window.orderBy("__vid")
        return _lloyd(v, v.orderBy("__vid").limit(k).select(
            (F.row_number().over(w) - 1).alias("__cid"),
            F.col("__v").alias("__c"),
        ), n_iter)
    finally:
        # consumers after the loop (counts/codes passes) recompute the
        # points from source exactly as they did before this change —
        # the cache serves only the eager iterations above, and a
        # leaked pin would be the d74-class churn VERDICT r14 flagged
        v.unpersist()


def kmeans_fit(
    vectors: DataFrame,
    k: int = 8,
    n_iter: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(cluster_id, dim_ix, val, n_members) — Lloyd's k-means over an
    embedding column, exploded to scalar centroid components so results
    hash-compare without float-array formatting games.

    The trainer for :func:`ivf_topk`'s coarse quantizer (IVF cells
    should be k-means cells, not arbitrary anchors). Deterministic by
    construction: centroids initialize from the first ``k`` vectors in
    id order, argmin ties break toward the lower cluster id, and empty
    clusters keep their previous centroid — so the result is a pure
    function of the input, reproducible across engines and runs.

    Scale shape per iteration: assignment is a broadcast of the k×dim
    centroid table onto the PERSISTED points (scan-stage distance +
    one fused min_by/first hash aggregate that carries the vector —
    never a row_number window over |D|×k rows, and no assign→join
    shuffle pair); the update is d27's posexplode partial-agg pattern,
    whose second shuffle carries k × dim rows, not |D| × dim. The
    centroid frame is ``localCheckpoint``-ed between iterations so the
    plan stays flat instead of nesting ``n_iter`` deep (the d14
    label-propagation discipline), and the superseded checkpoints are
    freed when the loop ends. Nothing |D|-sized is ever collected.
    """
    v = vectors.select(
        F.col(id_col).alias("__vid"), _as_double(F.col(vec_col)).alias("__v")
    )
    centroids = _kmeans_centroids(v, k, n_iter)
    counts = _kmeans_assign(v, centroids).groupBy("__cid").agg(
        F.count("*").alias("n_members")
    )
    return (
        centroids.select(
            "__cid", F.posexplode("__c").alias("dim_ix", "__val")
        )
        .join(counts, "__cid", "left")
        .select(
            F.col("__cid").alias("cluster_id"),
            "dim_ix",
            F.round("__val", 6).alias("val"),
            F.coalesce("n_members", F.lit(0)).alias("n_members"),
        )
    )


def pq_train(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> "tuple[DataFrame, DataFrame]":
    """(id, code_0..code_{m-1}, recon_error) — product quantization:
    the embedding is split into ``m`` contiguous subspaces of
    ``dim/m`` dims, each subspace gets its own Lloyd-trained codebook
    of ``k`` centroids (the :func:`kmeans_fit` machinery per
    subspace), and every vector is encoded as its nearest sub-centroid
    id per subspace. At scale this compresses ``dim×4`` bytes to ``m``
    small ints — the memory layer under every serious ANN index (IVF
    cells route the search, PQ codes score the candidates without
    touching raw vectors). ``recon_error`` is the L2 distance between
    the vector and its reconstruction (concatenated sub-centroids) —
    the compression-quality metric that chooses m and k. Returns
    ``(codes, codebooks)`` — codebooks as a (subspace, cid, centroid)
    frame for asymmetric-distance scoring (:func:`ivfpq_topk`).

    Deterministic end to end (k-means init/ties per subspace as in
    :func:`kmeans_fit`), so the full train+encode pipeline is
    hash-checkable. Per subspace: one broadcast of k sub-centroids for
    a scan-stage distance + min_by; the m per-subspace outputs join
    back on the id (m is small; at 10^10 rows pre-partition by id so
    the m joins share one shuffle).
    """
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    # ALL subspaces train in ONE Lloyd loop: a single projection slices
    # the vector into (id, subspace, subvector) rows, centroids carry a
    # subspace key, and every iteration is one pass over the data — not
    # m sequential loops (m x n_iter scans). Identical math per
    # subspace, so codes match the per-subspace formulation exactly.
    # Points persisted for the eager Lloyd loop (they were re-projected
    # from source every iteration before); :func:`_lloyd` runs it with
    # the subspace as its group key, as _kmeans_centroids does with none.
    v = _pq_project(vectors, dim, m, id_col, vec_col).persist()
    try:
        first_ids = (
            vectors.select(F.col(id_col).alias("__vid"))
            .orderBy("__vid").limit(k)
            .select("__vid", (F.row_number().over(
                Window.orderBy("__vid")) - 1).alias("__cid"))
        )
        centroids = _lloyd(
            v,
            v.join(F.broadcast(first_ids), "__vid")
            .select("__sub", "__cid", F.col("__v").alias("__c")),
            n_iter, by=("__sub",),
        )
    finally:
        # the final encode pass below recomputes the projection from
        # source exactly as before this change; the cache serves only
        # the eager iterations (deterministic release, guide §5)
        v.unpersist()

    codes = _pq_codes_from_assign(_pq_assign(v, centroids), m, id_col)
    return codes, centroids


def _pq_project(vectors: DataFrame, dim: int, m: int, id_col: str,
                vec_col: str) -> DataFrame:
    """(id, subspace, subvector) rows — the shared PQ slicing."""
    sub = dim // m
    return vectors.select(
        F.col(id_col).alias("__vid"),
        F.posexplode(
            F.array(*[
                _as_double(F.slice(F.col(vec_col), j * sub + 1, sub))
                for j in range(m)
            ])
        ).alias("__sub", "__v"),
    )


def _pq_assign(vv: DataFrame, cc: DataFrame) -> DataFrame:
    """Nearest sub-centroid per (vector, subspace): broadcast of the
    m×k codebook, scan-stage distance, min_by hash aggregate."""
    scored = vv.join(F.broadcast(cc), "__sub").select(
        "__vid", "__sub", "__cid",
        _sq_l2(F.col("__v"), F.col("__c")).alias("__d2"),
    )
    return scored.groupBy("__vid", "__sub").agg(
        F.min_by(
            "__cid",
            F.struct(F.col("__d2").alias("d"), F.col("__cid").alias("c")),
        ).alias("__cid"),
        F.min(
            F.struct(F.col("__d2").alias("d"), F.col("__cid").alias("c"))
        ).getField("d").alias("__d2"),
    )


def _pq_codes_from_assign(final: DataFrame, m: int, id_col: str) -> DataFrame:
    code_cols = [
        F.max(F.when(F.col("__sub") == j, F.col("__cid"))).alias(f"code_{j}")
        for j in range(m)
    ]
    err = F.round(F.sqrt(F.sum("__d2")), 6).alias("recon_error")
    return final.groupBy(F.col("__vid").alias(id_col)).agg(*code_cols, err)


def pq_encode(
    vectors: DataFrame,
    codebooks: DataFrame,
    dim: int,
    m: int,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Encode vectors against EXISTING codebooks — no training. The
    incremental-ingest half of PQ: day-N vectors are coded with the
    codebooks day 0 trained (the standard IVF-PQ practice — retrain
    periodically, encode appends in between; the drift cost is
    ``recon_error``, which this emits per row so the caller can trigger
    a retrain when it climbs). Exactly :func:`pq_train`'s final
    assignment pass: ``pq_encode(A, books)`` where ``(codes, books) =
    pq_train(A)`` reproduces ``codes`` bit for bit (pinned by test).
    One broadcast of the m×k codebook; everything else scan-stage."""
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m {m}")
    v = _pq_project(vectors, dim, m, id_col, vec_col)
    return _pq_codes_from_assign(_pq_assign(v, codebooks), m, id_col)


def pq_codes(
    vectors: DataFrame,
    dim: int,
    m: int = 4,
    k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Codes-only wrapper around :func:`pq_train` (see there)."""
    codes, _ = pq_train(vectors, dim, m, k, n_iter, id_col, vec_col)
    return codes


def ivfpq_topk(
    vectors: DataFrame,
    queries: DataFrame,
    anchors: DataFrame,
    dim: int,
    k: int = 3,
    n_probe: int = 2,
    m: int = 4,
    pq_k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: "tuple[DataFrame, DataFrame] | None" = None,
    cells: "DataFrame | None" = None,
) -> DataFrame:
    """(query_id, neighbor_id, approx_dist, rank) — IVF-PQ search, the
    composition every production ANN index runs (FAISS IVFPQ): the IVF
    cell join routes each query to ``n_probe`` cells' candidates, and
    candidates are scored by ASYMMETRIC DISTANCE — per subspace, the
    query's precomputed distance to the candidate's sub-centroid,
    looked up by the candidate's PQ code — so scoring never touches a
    raw candidate vector. At 10^10 vectors that's the difference
    between streaming dim×4-byte rows through the scorer and streaming
    m bytes.

    Plan shape: codes come from :func:`pq_train` (one Lloyd loop over
    all subspaces); the ADC table is |Q| × m × pq_k rows folded into a
    per-query array-of-arrays and BROADCAST; candidate scoring is then
    one scan-stage expression (two element_at per subspace) over the
    cell-join output; top-k uses the tree aggregation, never a
    row_number window over all candidates.
    """
    # a pre-trained (codes, codebooks) pair and/or the cell-routing
    # frame can be injected: both are index-BUILD artifacts shared by
    # every search over the same corpus, not a per-query cost (build
    # them once via :class:`AnnIndex`)
    if model is not None:
        codes, books = model
        # subspace count comes from the MODEL, never the parameter: a
        # caller searching an index built with non-default m (e.g.
        # AnnIndex.topk, which doesn't know its build m) would
        # otherwise slice queries into m-param subspaces against
        # codebooks trained on a different split — silently-garbage
        # asymmetric distances (caught by the r14 recall instrument,
        # scripts/ann_recall.py; same derivation append/retrain use)
        m = sum(1 for c in codes.columns if c.startswith("code_"))
    else:
        codes, books = pq_train(
            vectors, dim, m, pq_k, n_iter, id_col, vec_col
        )
    sub = dim // m

    if cells is None:
        cells = ivf_assign(vectors, anchors, id_col, vec_col)
    qprobes = ivf_assign_probes(queries, anchors, n_probe, id_col, vec_col)

    qsub = queries.select(
        F.col(id_col).alias("query_id"),
        F.posexplode(
            F.array(*[
                _as_double(F.slice(F.col(vec_col), j * sub + 1, sub))
                for j in range(m)
            ])
        ).alias("__sub", "__qv"),
    )
    adc = (
        qsub.join(F.broadcast(books), "__sub")
        .select(
            "query_id", "__sub", "__cid",
            _sq_l2(F.col("__qv"), F.col("__c")).alias("__d2"),
        )
        .groupBy("query_id", "__sub")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__cid", "__d2"))),
                lambda st: st["__d2"],
            ).alias("__dists")
        )
        .groupBy("query_id")
        .agg(
            F.transform(
                F.array_sort(F.collect_list(F.struct("__sub", "__dists"))),
                lambda st: st["__dists"],
            ).alias("__adc")
        )
    )

    cand = (
        F.broadcast(
            qprobes.select(F.col(id_col).alias("query_id"), "anchor_id")
        )
        .join(cells.select(F.col(id_col).alias("neighbor_id"), "anchor_id"),
              "anchor_id")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .join(codes.select(F.col(id_col).alias("neighbor_id"),
                           *[f"code_{j}" for j in range(m)]),
              "neighbor_id")
        .join(F.broadcast(adc), "query_id")
    )
    approx = sum(
        F.element_at(F.element_at("__adc", j + 1), F.col(f"code_{j}") + 1)
        for j in range(m)
    )
    scored = cand.select(
        "query_id", "neighbor_id", F.round(approx, 6).alias("approx_dist")
    )
    # tree-agg top-k ordered by (approx_dist asc, neighbor_id)
    item = F.struct(F.col("approx_dist").alias("s"),
                    F.col("neighbor_id").alias("n"))
    partial = (
        scored.groupBy("query_id", F.spark_partition_id().alias("__p"))
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("__top"))
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__top"))), 1, k)
        .alias("__top")
    )
    return (
        merged.select("query_id", F.posexplode("__top").alias("__pos", "__it"))
        .select(
            "query_id",
            F.col("__it.n").alias("neighbor_id"),
            F.col("__it.s").alias("approx_dist"),
            (F.col("__pos") + 1).cast("int").alias("rank"),
        )
    )


def ivfpq_topk_refined(
    vectors: DataFrame,
    queries: DataFrame,
    anchors: DataFrame,
    dim: int,
    k: int = 3,
    rerank: int = 3,
    n_probe: int = 2,
    m: int = 4,
    pq_k: int = 4,
    n_iter: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    model: "tuple[DataFrame, DataFrame] | None" = None,
    cells: "DataFrame | None" = None,
) -> DataFrame:
    """(query_id, neighbor_id, dist, rank) — IVF-PQ search with an
    EXACT re-rank stage: the standard FAISS ``refine`` step
    (IndexRefineFlat). :func:`ivfpq_topk` retrieves the top
    ``k * rerank`` candidates by asymmetric PQ distance, then ONLY
    those ``|Q| x k x rerank`` candidate vectors are fetched raw and
    re-scored by true squared L2; the final top-k ranks by the exact
    distance. This recovers the ranking quality PQ quantization loses
    while still never streaming the corpus' raw vectors through the
    scorer — the refine join touches ``k x rerank`` vectors per query,
    not a cell's worth, and at 10^10 vectors that pool is broadcast
    while the id-keyed vector fetch stays a semi-join-shaped lookup.

    Recall can only improve over plain :func:`ivfpq_topk` at equal
    ``k``: the candidate pool is a superset of the plain top-k, and
    exact distances rank it perfectly within the pool (pinned by the
    recall@k test).
    """
    pool = ivfpq_topk(
        vectors, queries, anchors, dim, k=k * rerank, n_probe=n_probe,
        m=m, pq_k=pq_k, n_iter=n_iter, id_col=id_col, vec_col=vec_col,
        model=model, cells=cells,
    ).select("query_id", "neighbor_id")
    # the pool is |Q| x (k x rerank) rows — broadcast it into the two
    # id-keyed vector fetches so neither join shuffles the corpus
    nvec = vectors.select(
        F.col(id_col).alias("neighbor_id"),
        _as_double(F.col(vec_col)).alias("__nv"),
    )
    qvec = queries.select(
        F.col(id_col).alias("query_id"),
        _as_double(F.col(vec_col)).alias("__qv"),
    )
    scored = (
        nvec.join(F.broadcast(pool), "neighbor_id")
        .join(F.broadcast(qvec), "query_id")
        .select(
            "query_id", "neighbor_id",
            F.round(_sq_l2(F.col("__qv"), F.col("__nv")), 6).alias("dist"),
        )
    )
    # tree-agg top-k ordered by (exact dist asc, neighbor_id) — same
    # shape as ivfpq_topk's finalizer, never a window over all rows
    item = F.struct(F.col("dist").alias("s"), F.col("neighbor_id").alias("n"))
    partial = (
        scored.groupBy("query_id", F.spark_partition_id().alias("__p"))
        .agg(F.slice(F.array_sort(F.collect_list(item)), 1, k).alias("__top"))
    )
    merged = partial.groupBy("query_id").agg(
        F.slice(F.array_sort(F.flatten(F.collect_list("__top"))), 1, k)
        .alias("__top")
    )
    return (
        merged.select("query_id", F.posexplode("__top").alias("__pos", "__it"))
        .select(
            "query_id",
            F.col("__it.n").alias("neighbor_id"),
            F.col("__it.s").alias("dist"),
            (F.col("__pos") + 1).cast("int").alias("rank"),
        )
    )


def semantic_dedup(
    vectors: DataFrame,
    anchors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    cells: "DataFrame | None" = None,
    keep: str = "min_id",
    cell_presplit: "int | None" = None,
) -> DataFrame:
    """(vec_id, anchor_id, dup_of, dup_cos) — cluster-scoped semantic
    dedup, the SemDeDup recipe (Abbas et al. 2023, arXiv:2303.09540):
    embeddings are routed to k-means cells, and WITHIN each cell any
    vector with a higher-precedence cell-mate at cosine >= ``threshold``
    is marked a semantic duplicate of that mate (``dup_of`` = the
    highest-precedence such mate, ``dup_cos`` = the cosine to it);
    survivors carry NULL ``dup_of``. Keep ``dup_of IS NULL`` rows for
    the deduped set.

    ``keep`` picks the precedence order (which group member survives):

    - ``"min_id"`` (default): smallest id wins — stable across runs and
      the cheapest to verify.
    - ``"centroid_far"``: the member FARTHEST from its cell centroid
      (lowest cosine to the assigned anchor) wins — the paper's own
      selection (Abbas et al. 2023 keep the example with the lowest
      similarity to the centroid, which biases the kept set toward the
      cluster boundary and preserves diversity); id breaks exact ties,
      so the output stays deterministic and oracle-checkable.

    The cell scoping is the scale story exactly as in the paper: the
    pairwise cosine join runs per cell (|cell|^2, bounded by the
    clustering granularity k), never corpus x corpus, and the anchor
    table is broadcast. ``centroid_far`` adds one broadcast join of the
    anchor vectors and one |D| dot-product pass — never a pair-scale
    cost.

    The assignment frame feeds THREE branches of the plan (both join
    sides and the survivor base); pass a persisted ``cells`` (the
    :func:`ivf_assign` output — an index-build artifact, like d43's PQ
    model) to compute the |D| x k routing once instead of per branch,
    or build an :class:`AnnIndex` once and call its
    :meth:`AnnIndex.semantic_dedup`.

    ``cell_presplit=N`` is the viral-cell guard (the family's
    max_df/bucket-cap analog, opt-in like Merge's geo pre-split): a
    cell larger than N is hash-split into ceil(|cell|/N) deterministic
    sub-cells and the pair join runs per sub-cell, so a degenerate
    routing (all vectors in one cell) costs ~|cell| x N pairs instead
    of |cell|^2. APPROXIMATE: duplicate pairs straddling two sub-cells
    of the same giant cell are missed — the exact default never
    splits. Cells at or under N are untouched either way.
    """
    if keep not in ("min_id", "centroid_far"):
        raise ValueError(
            f"keep must be 'min_id' or 'centroid_far', got {keep!r}"
        )
    if cell_presplit is not None and cell_presplit <= 0:
        raise ValueError("cell_presplit must be positive")
    if cells is None:
        cells = ivf_assign(vectors, anchors, id_col, vec_col)
    if cell_presplit is not None:
        sizes = cells.groupBy("anchor_id").agg(F.count("*").alias("__csz"))
        cells = (
            cells.join(F.broadcast(sizes), "anchor_id")
            .withColumn(
                "__subcell",
                F.when(
                    F.col("__csz") > cell_presplit,
                    F.pmod(
                        F.xxhash64(F.col(id_col)),
                        F.ceil(F.col("__csz") / cell_presplit),
                    ),
                ).otherwise(F.lit(0)),
            )
            .drop("__csz")
        )
    # cast + norm ONCE PER ROW before the pair join: the per-pair
    # expression is then a single dot product — same bits as computing
    # norms inside the pair (norm(a) depends only on a), a third of the
    # flops over |cell|^2 pairs
    v = (
        vectors.select(
            F.col(id_col).alias("__vid"),
            _as_double(F.col(vec_col)).alias("__v"),
        )
        .join(cells.withColumnRenamed(id_col, "__vid"), "__vid")
        .withColumn("__n", _norm(F.col("__v")))
    )
    if keep == "centroid_far":
        # cosine to the assigned anchor — same rounded formula as
        # ivf_assign's score, so the oracle's assign-stage sim reuses it
        a = anchors.select(
            F.col(id_col).alias("anchor_id"),
            _as_double(F.col(vec_col)).alias("__av"),
        ).withColumn("__an", _norm(F.col("__av")))
        v = (
            v.join(F.broadcast(a), "anchor_id")
            .withColumn(
                "__ccos",
                F.round(
                    F.try_divide(
                        _dot(F.col("__v"), F.col("__av")),
                        F.col("__n") * F.col("__an"),
                    ),
                    6,
                ),
            )
            .drop("__av", "__an")
        )
        v = v.withColumn(
            "__key",
            F.struct(F.col("__ccos").alias("c"), F.col("__vid").alias("i")),
        )
    else:
        # min_id precedence IS the id itself: compare the raw long, not
        # a 1-field struct — struct compares over |cell|^2 pairs cost a
        # measured +1.7 s at sf0.1 (r7 pinned) for identical semantics
        v = v.withColumn("__key", F.col("__vid"))
    join_cols = ["anchor_id"] + (
        ["__subcell"] if cell_presplit is not None else []
    )
    older = v.select(
        F.col("__vid").alias("__oid"), F.col("__v").alias("__vo"),
        F.col("__n").alias("__no"), F.col("__key").alias("__okey"),
        *join_cols,
    )
    pairs = (
        v.join(older, join_cols)
        .filter(F.col("__okey") < F.col("__key"))
        .withColumn(
            "__cos",
            F.round(
                F.try_divide(
                    _dot(F.col("__v"), F.col("__vo")),
                    F.col("__n") * F.col("__no"),
                ),
                6,
            ),
        )
        .filter(F.col("__cos") >= threshold)
    )
    # dup_of = highest-precedence qualifying mate; dup_cos = the cosine
    # to THAT mate (min_by keyed on the mate's precedence) — a hash
    # aggregate with map-side partials, no window
    dup = pairs.groupBy("__vid").agg(
        F.min_by("__oid", "__okey").alias("dup_of"),
        F.min_by("__cos", "__okey").alias("dup_cos"),
    )
    return (
        v.select("__vid", "anchor_id")
        .join(dup, "__vid", "left")
        .select(
            F.col("__vid").alias(id_col), "anchor_id", "dup_of", "dup_cos"
        )
    )


def _saved_artifacts(spark, path: str) -> "tuple[dict, dict[str, str]]":
    """(manifest, ``{artifact dir: DDL}``) of a saved index's id-keyed
    artifacts: ``cells``, plus ``pq_codes`` with PQ. The DDL comes from
    the manifest when the layout recorded it (save/retrain do since
    r11); pre-r11 layouts fall back to footer inference, safe because
    build guarantees non-empty artifact dirs (unlike the maybe-empty
    dedup sidecars)."""
    from ..tools.rows import read_manifest

    meta = read_manifest(spark, f"{path}/manifest", required=True)
    names = ["cells"] + (["pq_codes"] if meta["with_pq"] else [])
    return meta, {
        name: meta.get("cells_ddl" if name == "cells" else "codes_ddl")
        or ", ".join(
            f"{f.name} {f.dataType.simpleString()}"
            for f in spark.read.parquet(f"{path}/{name}").schema.fields
        )
        for name in names
    }


@contextmanager
def _pinned_for_write(df: DataFrame):
    """Context manager that DISK_ONLY-pins ``df`` around a
    range-clustered write (``repartitionByRange``'s boundary-sampling
    job would otherwise re-run the whole child lineage — no exchange
    for Spark's shuffle-reuse to skip) UNLESS the caller already
    persisted it: ``persist`` on an already-persisted frame is a no-op
    warning that keeps the caller's level, and the paired ``unpersist``
    would then silently evict the CALLER's cache after the write
    (ADVICE r12). An already-cached frame doesn't recompute for the
    sample job anyway, which is all the pin exists for."""
    from pyspark import StorageLevel

    if df.storageLevel != StorageLevel.NONE:
        yield df  # caller-owned cache: use it, never unpersist it
        return
    pinned = df.persist(StorageLevel.DISK_ONLY)
    try:
        yield pinned
    finally:
        pinned.unpersist()


def _ddl_of(df: DataFrame) -> str:
    return ", ".join(
        f"{f.name} {f.dataType.simpleString()}" for f in df.schema.fields
    )


class AnnIndex:
    """Shared ANN index artifacts for one corpus, built once and reused
    across every search and dedup over it (VERDICT r6 item 7: without
    the handle, each of :func:`ivfpq_topk` / :func:`ivfpq_topk_refined`
    / :func:`semantic_dedup` silently re-derives the |D| x k cell
    routing and the PQ codebooks per call).

    Bundles the two index-BUILD artifacts:

    - ``cells`` — the :func:`ivf_assign` routing frame (|D| rows);
    - ``model`` — the :func:`pq_train` ``(codes, codebooks)`` pair
      (|D| rows of m small ints + the m x k centroid table); absent
      when the index is built with ``with_pq=False`` (cells-only, for
      :meth:`semantic_dedup`).

    ``persist()`` pins all artifact frames (MEMORY_AND_DISK semantics
    via DataFrame.persist defaults) so the chain
    ``index.topk(...); index.topk_refined(...); index.semantic_dedup(...)``
    computes the routing and codebooks ONCE; ``unpersist()`` releases
    them. The handle never persists implicitly — executor storage is
    the caller's budget.
    """

    def __init__(
        self,
        vectors: DataFrame,
        anchors: DataFrame,
        cells: DataFrame,
        model: "tuple[DataFrame, DataFrame] | None",
        dim: "int | None",
        id_col: str,
        vec_col: str,
        capacity: "AnnCapacity | None" = None,
    ) -> None:
        self.vectors = vectors
        self.anchors = anchors
        self.cells = cells
        self.model = model
        self.dim = dim
        self.id_col = id_col
        self.vec_col = vec_col
        #: the :func:`ann_capacity` plan this index was sized by, when
        #: capacity-built (:meth:`build_auto` / ``retrain(capacity=
        #: ...)``); carries the search-time n_probe default
        self.capacity = capacity

    @classmethod
    def build(
        cls,
        vectors: DataFrame,
        anchors: DataFrame,
        dim: "int | None" = None,
        m: int = 4,
        pq_k: int = 4,
        n_iter: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        with_pq: bool = True,
    ) -> "AnnIndex":
        """Assemble the artifacts (lazily — nothing computes until an
        action). ``dim`` is required when ``with_pq``."""
        cells = ivf_assign(vectors, anchors, id_col, vec_col)
        model = None
        if with_pq:
            if dim is None:
                raise ValueError("dim is required to build the PQ model")
            model = pq_train(vectors, dim, m, pq_k, n_iter, id_col, vec_col)
        return cls(vectors, anchors, cells, model, dim, id_col, vec_col)

    @classmethod
    def build_auto(
        cls,
        vectors: DataFrame,
        dim: int,
        margin: int = 16,
        n_iter: int = 2,
        id_col: str = "vec_id",
        vec_col: str = "embedding",
        with_pq: bool = True,
        anchors: "DataFrame | None" = None,
        train_per_cell: int = 256,
        anchor_iters: int = 3,
    ) -> "AnnIndex":
        """Capacity-scaled, quantizer-TRAINED index build — the two
        quality levers the r14 recall instrument isolated, together:

        - **capacity**: cell count, subspace count, and codebook width
          from :func:`ann_capacity` on ``len(vectors)``, so recall
          does not sink as the corpus grows (fixed m=4/pq_k=4
          recall@10 fell 0.155 -> 0.01 from 500 to 20k vectors while
          every determinism oracle stayed green);
        - **training**: coarse-quantizer anchors are Lloyd centroids
          (the :func:`kmeans_fit` kernel), not raw corpus rows —
          measured at sf0.1, trained anchors lift the probed-recall
          ceiling 0.36 -> 0.92 at identical ``n_probe`` (clustered
          corpora route by cluster; arbitrary seed anchors shear
          clusters across cells). Pass ``anchors`` to skip training.

        Scale shape (the FAISS training discipline): k-means and the
        PQ codebooks train on an evenly-spaced rank sample of
        ``n_cells * train_per_cell`` rows — at 10^9 vectors and 31k
        cells that is an ~8M-row training set, so the Lloyd iterations
        never scan the corpus. (256/cell, not less: a 64/cell sample
        cost 0.16 refined recall at 20k vectors — the codebooks, not
        just the anchors, want corpus-shaped training data.) The corpus pays exactly TWO full
        passes, both unavoidable: one :func:`ivf_assign` routing pass
        and (``with_pq``) one :func:`pq_encode` encode pass against
        the sample-trained codebooks. The plan rides on the handle
        (``.capacity``) and supplies the default ``n_probe`` for
        :meth:`topk` / :meth:`topk_refined`; :meth:`retrain` with
        ``capacity="auto"`` re-derives it from the accreted corpus —
        the append -> retrain loop is where capacity keeps scaling.
        """
        n = vectors.count()
        cap = ann_capacity(n, dim, margin)
        train = vectors
        target = cap.n_cells * train_per_cell
        if target < n:
            train = _evenly_spaced(
                vectors, target, id_col, vec_col, n=n
            ).localCheckpoint(eager=False)
        if anchors is None:
            v = train.select(
                F.col(id_col).alias("__vid"),
                _as_double(F.col(vec_col)).alias("__v"),
            )
            cents = _kmeans_centroids(v, cap.n_cells, anchor_iters)
            id_type = dict(vectors.dtypes).get(id_col, "bigint")
            anchors = cents.select(
                F.col("__cid").cast(id_type).alias(id_col),
                F.transform("__c", lambda x: F.round(x, 6)).alias(
                    vec_col),
            )
        cells = ivf_assign(vectors, anchors, id_col, vec_col)
        model = None
        if with_pq:
            codes, books = pq_train(
                train, dim, cap.m, cap.pq_k, n_iter, id_col, vec_col)
            if train is not vectors:
                codes = pq_encode(
                    vectors, books, dim, cap.m, id_col, vec_col)
            model = (codes, books)
        return cls(vectors, anchors, cells, model, dim, id_col,
                   vec_col, capacity=cap)

    def _frames(self) -> "list[DataFrame]":
        out = [self.cells]
        if self.model is not None:
            out.extend(self.model)
        return out

    def persist(self) -> "AnnIndex":
        for df in self._frames():
            df.persist()
        return self

    def unpersist(self) -> "AnnIndex":
        for df in self._frames():
            df.unpersist()
        return self

    def _default_n_probe(self, n_probe: "int | None") -> int:
        """Explicit caller value wins; a capacity-built index defaults
        to its plan's n_probe (scales with n_cells — a fixed default
        would probe a decaying fraction as the index grows); 2
        otherwise (the pre-capacity convention)."""
        if n_probe is not None:
            return n_probe
        return self.capacity.n_probe if self.capacity is not None else 2

    def topk(self, queries: DataFrame, k: int = 3,
             n_probe: "int | None" = None, **kw) -> DataFrame:
        if self.model is None:
            raise ValueError("index built with with_pq=False has no PQ model")
        return ivfpq_topk(
            self.vectors, queries, self.anchors, self.dim, k=k,
            n_probe=self._default_n_probe(n_probe), id_col=self.id_col,
            vec_col=self.vec_col, model=self.model, cells=self.cells,
            **kw,
        )

    def topk_refined(self, queries: DataFrame, k: int = 3,
                     rerank: "int | None" = None,
                     n_probe: "int | None" = None, **kw) -> DataFrame:
        if self.model is None:
            raise ValueError("index built with with_pq=False has no PQ model")
        if rerank is None:
            # capacity-built: pool 32x k before the exact re-rank —
            # measured to SATURATE at the routing ceiling (sf1 sweep:
            # rerank 8/16/32 -> 0.72/0.85/0.925 refined vs a 0.93-0.945
            # ceiling; more probes at fixed rerank went DOWN — ADC
            # noise floods a small pool faster than true neighbors
            # enter it). The pool multiple is roughly scale-free: it
            # covers PQ noise at the top-k boundary, not the corpus.
            # Cost is k*rerank exact distances per query — trivial
            # next to the probed-candidate ADC scan. 3 is the legacy
            # default.
            rerank = 32 if self.capacity is not None else 3
        return ivfpq_topk_refined(
            self.vectors, queries, self.anchors, self.dim, k=k,
            rerank=rerank, n_probe=self._default_n_probe(n_probe),
            id_col=self.id_col,
            vec_col=self.vec_col, model=self.model, cells=self.cells, **kw,
        )

    def semantic_dedup(self, threshold: float = 0.95,
                       keep: str = "min_id",
                       cell_presplit: "int | None" = None) -> DataFrame:
        return semantic_dedup(
            self.vectors, self.anchors, threshold=threshold,
            id_col=self.id_col, vec_col=self.vec_col, cells=self.cells,
            keep=keep, cell_presplit=cell_presplit,
        )

    def append(
        self,
        new_vectors: DataFrame,
        path: "str | None" = None,
        force: bool = False,
        stale_after_sec: float = 3600.0,
    ) -> "AnnIndex":
        """Incremental vector ingest (the ANN twin of
        ``dedup.DedupIndex.ingest``): route ``new_vectors`` to the
        EXISTING anchors (:func:`ivf_assign` — no re-clustering) and,
        when the index carries a PQ model, encode them with the
        EXISTING codebooks (:func:`pq_encode` — no retraining), then
        return a new handle over the unioned artifacts. The standard
        IVF-PQ day-N practice: anchors/codebooks retrain periodically,
        appends ride between retrains; drift shows up as climbing
        ``recon_error`` on the appended codes.

        With ``path``, the new rows are ALSO appended to the saved
        artifact parquet (``cells/``, ``pq_codes/``) so a later
        :meth:`load` sees them — the manifest is unchanged (same build
        parameters by construction). Callers own id uniqueness: ids
        already present in the index would double-count downstream.

        The ``path`` form builds the returned handle from a FRESH
        post-append read of the artifact dirs, never from a union with
        ``self.cells``/codes: those frames scan the very dirs the
        append writes, and if the caller ``persist()``-ed them Spark's
        cache manager re-caches them against the NEW files on the
        write (recacheByPath — the ``DedupIndex.ingest`` hazard), after
        which ANY union with the batch double-counts it. The fresh
        read's file listing is frozen at read time, so the handle sees
        the batch exactly once regardless of the old handle's cache
        state. The PRE-append handle is the one recacheByPath can still
        mutate — discard it after calling ``append(path=...)``.

        The ``path`` form runs under the index root's heartbeated
        ``_COMPACTING`` marker (readers fail fast for the append's
        duration — the cells append landing before the codes append
        would otherwise serve a routed vector with no code); a crashed
        append leaves the marker and a ``force=True`` re-run (after
        the heartbeat is provably dead, ``stale_after_sec`` grace)
        converges — re-appended rows are duplicates the next
        :meth:`compact`'s keyed fold collapses."""
        new_cells = ivf_assign(
            new_vectors, self.anchors, self.id_col, self.vec_col
        )
        new_codes = None
        if self.model is not None:
            codes, books = self.model
            m = sum(1 for c in codes.columns if c.startswith("code_"))
            new_codes = pq_encode(
                new_vectors, books, self.dim, m, self.id_col, self.vec_col
            )
        if path is None:
            # pure in-memory accretion: nothing writes under the frames'
            # source paths, so the lazy unions are safe as-is
            model = self.model
            if new_codes is not None:
                model = (codes.unionByName(new_codes), books)
            return AnnIndex(
                self.vectors.unionByName(new_vectors),
                self.anchors,
                self.cells.unionByName(new_cells),
                model,
                self.dim,
                self.id_col,
                self.vec_col,
                # carried UNCHANGED: the plan's n is now stale w.r.t.
                # the grown corpus — the capacity-drift appends always
                # accrue until retrain(capacity="auto") re-derives it
                capacity=self.capacity,
            )
        from ..streaming.ann_ingest import check_no_stream_epochs
        from ..streaming.compact import check_not_compacting, maintenance

        from .probe import write_keyed

        spark = new_vectors.sparkSession
        # Root marker FIRST, fences under it (ADVICE r11): holding the
        # marker makes new ingest micro-batches fail fast, so the
        # no-stream-epochs check below can only be raced by a batch
        # already past its own marker check and mid-write — the
        # narrowest window the marker protocol allows. The marker also
        # closes append's own torn-read window: a loader listing cells
        # after the cells append but pq_codes before the codes append
        # would see a routed vector with no code.
        with maintenance(spark, path, stale_after_sec, force) as m:
            # batch appends and a live vector stream are two unfenced
            # writers with separate id-dedup views — absorb first
            m.guard(check_no_stream_epochs, spark, path, "append to")
            # per-dir markers (a crashed per-dir fold ages these
            # independently of the root)
            m.guard(check_not_compacting, spark, f"{path}/cells",
                    "append to")
            if new_codes is not None:
                m.guard(check_not_compacting, spark, f"{path}/pq_codes",
                        "append to")
            # appended files keep the artifact's within-file id order
            # and bloom (local sort, no shuffle) so probes prune them.
            # The two appends target disjoint artifact dirs under the
            # one held root marker — overlap them (guide §2.6); the
            # fresh-listing reads happen after both land.
            jobs = [lambda: write_keyed(new_cells, f"{path}/cells",
                                        self.id_col, append=True)]
            if new_codes is not None:
                jobs.append(lambda: write_keyed(
                    new_codes, f"{path}/pq_codes", self.id_col, append=True
                ))
            parallel_writes(*jobs)
            cells = spark.read.parquet(f"{path}/cells")
            model = None
            if new_codes is not None:
                model = (spark.read.parquet(f"{path}/pq_codes"), books)
        return AnnIndex(
            self.vectors.unionByName(new_vectors),
            self.anchors,
            cells,
            model,
            self.dim,
            self.id_col,
            self.vec_col,
            capacity=self.capacity,
        )

    def retrain(
        self,
        k: "int | None" = None,
        n_iter: int = 3,
        pq_n_iter: int = 2,
        path: "str | None" = None,
        force: bool = False,
        stale_after_sec: float = 3600.0,
        target_shards: "int | None" = None,
        capacity: "str | None" = None,
    ) -> "AnnIndex":
        """Periodic rebuild — the other half of the day-N practice
        :meth:`append` documents (appends ride between retrains;
        climbing ``recon_error`` on the appended codes is the
        trigger). Re-derives the coarse quantizer from the ACCRETED
        corpus with :func:`kmeans_fit` (k-means cells replacing the
        aging anchors), re-assigns every vector, and re-trains
        codebooks + re-encodes every code with :func:`pq_train`. The
        handle's ``vectors`` frame must therefore carry the FULL
        corpus (a loaded handle given the whole vectors table, or an
        :meth:`append` chain from one). ``k`` defaults to the current
        anchor count.

        With ``path``, the saved artifacts are REWRITTEN wholesale,
        the new anchors are persisted under ``{path}/anchors`` (a
        later :meth:`load` resolves them from disk instead of needing
        the caller to reproduce a k-means run), and the manifest
        records ``anchors_stored``. The rewrite holds the
        ``_COMPACTING`` marker at the INDEX ROOT for its whole run,
        HEARTBEATED so a retrain of any length stays distinguishable
        from a crash (``stale_after_sec`` is only the crash-detection
        grace, never a run-length bound): :meth:`load` and
        :meth:`append` fail fast during it, a crash stops the
        heartbeat and leaves the marker so serving cannot resume on a
        half-rewritten index, and a re-run (``force=True``; reload the
        handle with ``load(..., force=True)`` first when the crash
        killed the session) converges — :func:`kmeans_fit` and
        :func:`pq_train` are deterministic, so the re-run writes
        identical artifacts. Returns a handle over the stored
        artifacts (``path`` form) or the in-memory frames.

        ``capacity="auto"`` re-derives the FULL configuration — cell
        count, subspace count, codebook width — from the accreted
        corpus via :func:`ann_capacity` (margin from the handle's
        existing plan, default 16) instead of keeping the build-time
        sizes. This is where capacity actually scales: appends carry
        the day-0 plan unchanged, and a 10x-grown corpus on day-0
        codebooks is exactly the fixed-capacity recall collapse the
        r14 instrument measured. Explicit ``k`` still overrides the
        cell count.
        """
        new_cap = None
        if capacity is not None:
            if capacity != "auto":
                raise ValueError(
                    f"capacity must be 'auto' or None, got {capacity!r}")
            if self.dim is None:
                raise ValueError(
                    "capacity='auto' needs the index dim (PQ sizing)")
            new_cap = ann_capacity(
                self.vectors.count(), self.dim,
                self.capacity.margin if self.capacity is not None
                else 16,
            )
        k_anchors = (
            int(k) if k is not None
            else new_cap.n_cells if new_cap is not None
            else self.anchors.count()
        )
        # the Lloyd kernel directly (kmeans_fit's math), NOT its public
        # exploded output: that plan joins a per-cluster member count —
        # a full extra corpus assignment pass — which the anchor fold
        # would drop anyway. Same centroids, same 6-decimal rounding,
        # one corpus pass per iteration and nothing else.
        v = self.vectors.select(
            F.col(self.id_col).alias("__vid"),
            _as_double(F.col(self.vec_col)).alias("__v"),
        )
        cents = _kmeans_centroids(v, k_anchors, n_iter)
        id_type = dict(self.anchors.dtypes).get(self.id_col, "bigint")
        anchors = cents.select(
            F.col("__cid").cast(id_type).alias(self.id_col),
            F.transform("__c", lambda x: F.round(x, 6)).alias(
                self.vec_col),
        )
        model = None
        if self.model is not None:
            if new_cap is not None:
                # capacity retrain: the NEW plan's subspace/codebook
                # sizes, not the aging model's
                m, pq_k = new_cap.m, new_cap.pq_k
            else:
                codes, _books = self.model
                m = sum(1 for c in codes.columns if c.startswith("code_"))
                pq_k = _books.agg(
                    F.countDistinct("__cid").alias("k")).collect()[0]["k"]
            model = pq_train(
                self.vectors, self.dim, m, pq_k, pq_n_iter,
                self.id_col, self.vec_col,
            )
        cells = ivf_assign(self.vectors, anchors, self.id_col, self.vec_col)
        # plan riding on the retrained handle: the fresh derivation if
        # capacity="auto"; the old plan only if the geometry it
        # describes survived (no explicit k override); else none
        carried_cap = (
            new_cap if new_cap is not None
            else self.capacity if k is None
            else None
        )
        if path is None:
            return AnnIndex(
                self.vectors, anchors, cells, model, self.dim,
                self.id_col, self.vec_col, capacity=carried_cap,
            )

        from ..streaming.ann_ingest import check_no_stream_epochs
        from ..streaming.compact import maintenance

        spark = self.vectors.sparkSession
        # marker FIRST, fence under it (ADVICE r11): with the root
        # marker held, new ingest micro-batches fail fast, so only a
        # batch already mid-write can race the check. A retrain swaps
        # the anchors; stream-sidecar rows were assigned under the OLD
        # set and would absorb into a corrupted index — absorb first.
        with maintenance(spark, path, stale_after_sec, force) as run:
            run.guard(check_no_stream_epochs, spark, path, "retrain")
            self._write(path, anchors, cells, model, carried_cap,
                        target_shards)
        # fresh-read handle, same discipline as append(path=): frozen
        # listing over exactly the rewritten artifacts
        return AnnIndex.load(spark, path, self.vectors)

    @staticmethod
    def compact(spark, path: str, target_shards: int = 1,
                force: bool = False,
                stale_after_sec: float = 3600.0) -> "dict":
        """Fold the files :meth:`append` accretes under a SAVED index
        (``cells/``, ``pq_codes/``) into ``target_shards`` each — the
        maintenance pass, sharing ``compact_flat_dir`` with
        ``DedupIndex.compact``. The flat-dir fold's brief
        rows-seen-twice window is harmless here for a different reason
        than the dedup sets: every artifact row is a DETERMINISTIC
        function of its id (same assignment, same codes), so any copy
        is byte-identical and the keyed dedup folds them losslessly; a
        crashed run converges on re-run — and its leftover
        ``_COMPACTING`` marker makes :meth:`load` and :meth:`append`
        fail fast until the re-run (``force=True``) completes, since
        duplicate cells/codes rows would change serving results. Still
        maintenance: run without concurrent queries, like any
        VACUUM."""
        from ..streaming.compact import (
            check_not_compacting,
            compact_flat_dir,
        )

        # a ROOT marker means a remove()/retrain() is running or
        # crashed mid-way: the recovery is that op's force=True re-run,
        # not a fold over its inconsistent intermediate state
        check_not_compacting(spark, path, "compact")
        meta, ddls = _saved_artifacts(spark, path)
        id_col = meta["id_col"]
        return {
            name: compact_flat_dir(
                spark, f"{path}/{name}", ddl, [id_col], target_shards,
                stale_after_sec=stale_after_sec, force=force,
                cluster_by=[id_col],
            )
            for name, ddl in ddls.items()
        }

    @staticmethod
    def remove(spark, path: str, ids, force: bool = False,
               stale_after_sec: float = 3600.0, _lease=None) -> "dict":
        """Per-vector takedown on a SAVED index — the ANN side of
        ``DedupIndex.remove``. Every artifact row is keyed by the
        vector id directly (cells: one row per id; pq_codes: one row
        per id), so no provenance column is needed: removal is a
        broadcast anti-join rewrite of each artifact through
        ``compact_flat_dir``'s crash-safe staged fold. Removed vectors
        stop appearing as candidates in ``topk``/``semantic_dedup``;
        the caller owns deleting them from the corpus ``vectors``
        table itself (the index never copied it).

        Maintenance-cadence: one ROOT-level ``_COMPACTING`` marker
        (heartbeated) spans BOTH artifact folds, exactly like
        :meth:`retrain` — a crash at ANY point, including between the
        cells fold and the pq_codes fold, leaves the root marker so
        :meth:`load` and :meth:`append` fail fast on a half-removed
        index (a cells row without its code, or codes still carrying a
        removed vector, would silently resurface it as a candidate);
        each fold additionally holds its own per-dir marker. A
        ``force=True`` re-run converges — the anti-join is idempotent.
        ``ids`` is a list/tuple or a single-column DataFrame; values
        are cast to the artifact's id type.

        ``_lease`` (private) is the ``streaming.compact.maintenance``
        scope of a caller that already holds the root marker
        (``takedown_stream_vectors`` spans one marker across its whole
        absorb → purge chain); this remove borrows it instead of
        taking its own."""
        from ..streaming.ann_ingest import check_no_stream_epochs
        from ..streaming.compact import fold_out_ids, maintenance

        meta, ddls = _saved_artifacts(spark, path)
        id_col = meta["id_col"]
        with maintenance(spark, path, stale_after_sec, force,
                         lease=_lease) as m:
            # fence under the marker (ADVICE r11): a remove that purged
            # only the flat dirs would leave the removed vectors serving
            # from the stream sidecars; with the marker held, new ingest
            # batches fail fast before the check runs
            m.guard(check_no_stream_epochs, spark, path, "remove from")
            return fold_out_ids(m, ids, {
                name: (ddl, [id_col], id_col, [id_col])
                for name, ddl in ddls.items()
            })

    # -- at-rest form: a 100 TB index is built once and SERVED many
    # -- times across sessions; rebuilding Lloyd iterations per process
    # -- would dominate query cost
    def save(self, path: str,
             target_shards: "int | None" = None) -> "AnnIndex":
        """Write the artifacts as parquet under ``path`` (cells,
        pq_codes, pq_codebooks, anchors) plus a manifest recording the
        build parameters. The raw vector table is NOT copied — it is
        corpus data the caller already stores; :meth:`load` takes it
        back as an argument. The ANCHORS (k×dim, tiny) ARE stored, so
        :meth:`load` needs no anchor frame and per-batch consumers
        (``streaming.ingest_vectors``) can route new vectors from the
        saved layout alone. ``target_shards`` pins the artifact file
        count (``compact``-style); the default lets AQE size the
        shards (see ``probe.range_cluster``)."""
        self._write(
            path, self.anchors.select(F.col(self.id_col), F.col(self.vec_col)),
            self.cells, self.model, self.capacity, target_shards,
        )
        return self

    def _write(self, path: str, anchors: DataFrame, cells: DataFrame,
               model, capacity, target_shards: "int | None") -> None:
        """Write a full saved layout under ``path`` — anchors, cells
        and, with ``model``, pq_codes and pq_codebooks — then its
        manifest, strictly last (the completeness marker). The shared
        body of :meth:`save` and :meth:`retrain`.

        cells and codes are id-clustered (``probe.write_keyed``): files
        own disjoint id ranges, row groups tight id spans (+ bloom), so
        the streaming ingest's per-epoch id-dedup probe
        (``dedup_against_index``) skips the row groups a batch can't
        touch. Each is pinned around its range write, entered BEFORE
        the pool: the boundary-sampling job would otherwise re-run the
        whole assignment / encode lineage (no exchange to shuffle-
        reuse). The artifacts are independent frames, so their writes
        overlap (guide §2.6: the write pays the slowest artifact, not
        the sum)."""
        from contextlib import ExitStack

        from ..tools.rows import write_manifest

        from .probe import write_keyed

        meta = {
            "dim": self.dim, "id_col": self.id_col,
            "vec_col": self.vec_col,
            "with_pq": model is not None,
            "anchors_stored": True,
            # artifact schemas as data (r10 adjudicated-minor closed):
            # maintenance rewrites (compact/remove) read with these
            # instead of inferring DDL from whatever footers are live
            "cells_ddl": _ddl_of(cells),
        }
        if capacity is not None:
            meta["capacity"] = dict(capacity._asdict())
        with ExitStack() as stack:
            def keyed(df: DataFrame, name: str):
                pinned = stack.enter_context(_pinned_for_write(df))
                return lambda: write_keyed(
                    pinned, f"{path}/{name}", self.id_col,
                    target_shards=target_shards,
                )

            jobs = [
                keyed(cells, "cells"),
                lambda: anchors.write.mode("overwrite").parquet(
                    f"{path}/anchors"),
            ]
            if model is not None:
                codes, books = model
                jobs += [
                    keyed(codes, "pq_codes"),
                    lambda: books.write.mode("overwrite").parquet(
                        f"{path}/pq_codebooks"),
                ]
                meta["codes_ddl"] = _ddl_of(codes)
            parallel_writes(*jobs)
        # the manifest rides parquet too, so the layout is pure-Spark
        # readable on any storage the session can reach
        write_manifest(self.vectors.sparkSession, f"{path}/manifest", meta)

    @classmethod
    def load(
        cls, spark, path: str, vectors: DataFrame,
        anchors: "DataFrame | None" = None,
        force: bool = False,
    ) -> "AnnIndex":
        """Re-attach saved artifacts to the (caller-provided) corpus
        frames. The id/vec column names and ``dim`` come from the
        manifest, so a consumer can't silently search with mismatched
        build parameters. ``anchors`` may be omitted once a
        :meth:`retrain` has persisted them under ``{path}/anchors``
        (``anchors_stored`` in the manifest) — passing a frame then
        OVERRIDES the stored ones, which is almost never right after a
        retrain (the artifacts were assigned against the stored set).

        Refuses to load while a compaction marker sits on the root or
        artifact dirs: unlike the dedup index's semi-join membership
        sets, a crashed :meth:`compact`'s leftover duplicate
        cells/codes rows change serving results (duplicate candidates
        in topk/semantic_dedup), so serving must not resume until a
        re-run (``AnnIndex.compact(..., force=True)``) completes the
        fold. ``force=True`` is the cross-session RECOVERY path
        (ADVICE r10): after a crashed :meth:`retrain`/:meth:`remove`
        killed its whole session, the re-run needs a handle but a
        plain load refuses on the leftover marker — load with
        ``force=True`` SOLELY to hand the handle straight to
        ``retrain(force=True)`` / a ``remove``/``compact`` re-run,
        never to serve queries (the artifacts are untrustworthy until
        maintenance converges)."""
        from ..streaming.compact import check_not_compacting
        from ..tools.rows import read_manifest

        if not force:
            check_not_compacting(spark, path, "load")  # retrain/remove
        meta = read_manifest(spark, f"{path}/manifest", required=True)
        if not force:
            check_not_compacting(spark, f"{path}/cells", "load")
            if meta["with_pq"]:
                check_not_compacting(spark, f"{path}/pq_codes", "load")
        if anchors is None:
            if not meta.get("anchors_stored"):
                raise ValueError(
                    f"index at {path} stores no anchors (no retrain "
                    "has persisted them) — pass the anchors frame the "
                    "index was built with"
                )
            anchors = spark.read.parquet(f"{path}/anchors")
        missing = {meta["id_col"], meta["vec_col"]} - set(vectors.columns)
        if missing:
            raise ValueError(
                f"vectors frame lacks the columns the index was built "
                f"with: {sorted(missing)} (manifest: id_col="
                f"{meta['id_col']!r}, vec_col={meta['vec_col']!r})"
            )
        cells = spark.read.parquet(f"{path}/cells")
        model = None
        if meta["with_pq"]:
            model = (
                spark.read.parquet(f"{path}/pq_codes"),
                spark.read.parquet(f"{path}/pq_codebooks"),
            )
        cap = meta.get("capacity")
        return cls(
            vectors, anchors, cells, model, meta["dim"],
            meta["id_col"], meta["vec_col"],
            capacity=AnnCapacity(**cap) if cap else None,
        )

    @classmethod
    def from_stream_index(
        cls, spark, path: str, vectors: DataFrame,
        upto_epoch: "int | None" = None,
    ) -> "AnnIndex":
        """Serving view over a saved index PLUS its streaming-ingest
        sidecars (``streaming.ingest_vectors``) — the ANN twin of
        ``DedupIndex.from_stream_index``. The flat artifacts union
        with the epoch-partitioned stream rows, so queries see the
        accreted corpus without waiting for an ``absorb_stream``.

        ``upto_epoch`` bounds the stream epochs read (pass
        ``streaming.last_committed_epoch(checkpoint)`` while the
        ingest query is LIVE — its current epoch is mid-write and a
        replay rewrites it, so an unbounded read of a live stream can
        see rows that later vanish); ``None`` reads every epoch, which
        is only safe with the query stopped. Read-only by convention:
        content maintenance (``append(path=)``/``remove``/``retrain
        (path=)``) is refused while stream epochs exist, so this
        handle is for serving — absorb to get a maintainable index."""
        from ..streaming.ann_ingest import (
            _read_stream_rows,
            check_stream_parity,
        )
        from ..streaming.compact import check_not_compacting
        from ..tools.rows import read_manifest

        check_not_compacting(spark, path, "read the stream view of")
        # a crashed epoch that wrote cells but not codes must repair
        # (restart the ingest) before serving, not silently drop the
        # vector from the ADC rerank
        check_stream_parity(spark, path, upto_epoch)
        meta = read_manifest(spark, f"{path}/manifest", required=True)
        if not meta.get("anchors_stored"):
            raise ValueError(
                f"index at {path} stores no anchors — only saved "
                "layouts with stored anchors can ingest a stream, so "
                "there is no stream view to take"
            )
        anchors = spark.read.parquet(f"{path}/anchors")

        def side(name: str, ddl: str) -> DataFrame:
            rows = _read_stream_rows(spark, path, name, ddl, upto_epoch)
            return spark.read.parquet(f"{path}/{name}").unionByName(rows)

        cells = side("cells", meta["cells_ddl"])
        model = None
        if meta["with_pq"]:
            model = (
                side("pq_codes", meta["codes_ddl"]),
                spark.read.parquet(f"{path}/pq_codebooks"),
            )
        cap = meta.get("capacity")
        return cls(
            vectors, anchors, cells, model, meta["dim"],
            meta["id_col"], meta["vec_col"],
            capacity=AnnCapacity(**cap) if cap else None,
        )
