"""Bounded-batch probe pruning (impuls_spark/llm/probe.py) and the
key-clustered index layout that makes it bite (VERDICT r11 #2)."""

from __future__ import annotations

import contextlib
import glob
import io

import pytest
from pyspark.sql import functions as F

from impuls_spark.llm import probe
from impuls_spark.llm.dedup import DedupIndex
from impuls_spark.llm.probe import pushdown_key_filter


def _plan_of(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def _docs(spark, lo, hi):
    # doc-unique tokens: cross-document band collisions would make the
    # novel/near split depend on minhash luck instead of membership
    return spark.createDataFrame(
        [(i, f"document number {i} with words " + " ".join(
            f"w{i}x{j}" for j in range(10)))
         for i in range(lo, hi)],
        "doc_id long, text string",
    )


def test_pushdown_filter_equals_semi_join(spark, tmp_path):
    index = spark.createDataFrame(
        [(str(i), f"p{i}") for i in range(100)], "k string, payload string"
    )
    batch = spark.createDataFrame(
        [(str(i),) for i in (3, 5, 5, 97, 200)] + [(None,)], "k string"
    )
    got = pushdown_key_filter(index, "k", batch)
    want = index.join(F.broadcast(batch.distinct()), "k", "left_semi")
    assert sorted(map(tuple, got.collect())) == sorted(
        map(tuple, want.collect())
    )


def test_pushdown_filter_empty_batch_and_cap(spark):
    index = spark.createDataFrame(
        [("a", 1), ("m", 2), ("z", 3)], "k string, v int"
    )
    empty = spark.createDataFrame([], "k string")
    assert pushdown_key_filter(index, "k", empty).count() == 0
    # above the cap the filter degrades to the batch keys' CHUNKED
    # SPANS (r14, VERDICT r13 item 1): still a SUPERSET of the batch's
    # rows — callers' semi-joins stay the exact membership step — but
    # always pushable, never a driver-side value collect, and far
    # tighter than the r13 single global span
    old = probe.PROBE_PUSHDOWN_MAX
    probe.PROBE_PUSHDOWN_MAX = 2
    try:
        big = spark.createDataFrame(
            [(k,) for k in ("b", "c", "d", "e", "n")], "k string"
        )
        got = pushdown_key_filter(index, "k", big)
        # the r13 global span [b, n] kept "m"; the chunked spans
        # ([b..e], [n]) prune it too — nothing in the index matches
        assert got.count() == 0
    finally:
        probe.PROBE_PUSHDOWN_MAX = old


def test_probe_scan_carries_pushed_in_filter(spark, tmp_path):
    """The micro-batch classify's index scans must carry the batch
    keys as a parquet PushedFilters In predicate — that is the whole
    mechanism by which a grown index stops costing O(index) per
    epoch.

    r14 (recompute cut): the HASHES probe executes exactly once,
    inside classify's eager `exact` lineage cut, so the pushed-In
    mechanism is asserted at the kernel surface (same frame the cut
    materializes). r15 (deterministic checkpoint release): classify
    (broadcast mode) now also materializes the STATUS frame and frees
    every intermediate checkpoint, so the returned plan is a
    standalone checkpoint scan — asserted to re-read NEITHER artifact
    path; the BANDS probe's pushed In is asserted at the kernel
    surface like the hashes one."""
    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 60), path)
    idx = DedupIndex.load(spark, path)
    batch = _docs(spark, 55, 65)
    batch_h = batch.select(F.md5(F.col("text")).alias("__h")).distinct()
    probe_plan = _plan_of(pushdown_key_filter(idx.hashes, "__h", batch_h))
    assert "PushedFilters: [In(__h" in probe_plan, probe_plan
    batch_bk = batch.select(
        F.md5(F.col("text")).alias("key")
    ).distinct()  # any bounded key frame exercises the probe surface
    bands_plan = _plan_of(pushdown_key_filter(idx.bands, "key", batch_bk))
    assert "PushedFilters: [In(key" in bands_plan, bands_plan
    status = idx.classify(batch, broadcast_new=True)
    plan = _plan_of(status)
    # the probes ran once each, inside the lineage cuts: the status
    # plan is a materialized checkpoint that re-reads NO artifact path
    assert "/hashes" not in plan, plan
    assert "/bands" not in plan, plan
    assert "ExistingRDD" in plan or "LogicalRDD" in plan, plan
    # and the verdicts are unchanged vs the plain join mode
    plain = idx.classify(_docs(spark, 55, 65), broadcast_new=False)
    assert sorted(map(tuple, status.collect())) == sorted(
        map(tuple, plain.collect())
    )


def test_built_artifacts_are_key_sorted(spark, tmp_path):
    """build writes hashes/bands range-partitioned and key-sorted:
    every parquet file's key column is non-decreasing, and file ranges
    are disjoint (repartitionByRange), so row-group min/max stats can
    prune probes."""
    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 120), path)
    ranges = []
    for f in glob.glob(f"{path}/hashes/*.parquet"):
        vals = [r["__h"] for r in spark.read.parquet(f).collect()]
        if not vals:
            continue
        assert vals == sorted(vals), f
        ranges.append((vals[0], vals[-1]))
    ranges.sort()
    for (a_lo, a_hi), (b_lo, b_hi) in zip(ranges, ranges[1:]):
        assert a_hi <= b_lo  # disjoint file ranges


def test_ingest_roundtrip_with_pushdown_and_compact_cluster(
    spark, tmp_path
):
    """ingest(broadcast_new=True) on the clustered layout: statuses
    match a fresh classify, appended docs classify 'exact' afterwards,
    and a compact keeps files key-sorted."""
    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 40), path)
    idx = DedupIndex.load(spark, path)
    st = idx.ingest(_docs(spark, 35, 50), broadcast_new=True)
    got = {r["doc_id"]: r["status"] for r in st.collect()}
    assert all(got[i] == "exact" for i in range(35, 40))
    assert all(got[i] == "novel" for i in range(40, 50))
    # the appended docs are now members
    again = idx.classify(_docs(spark, 40, 50), broadcast_new=True)
    assert {r["status"] for r in again.collect()} == {"exact"}
    idx.compact()
    for f in glob.glob(f"{path}/hashes/*.parquet"):
        vals = [r["__h"] for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)
    final = idx.classify(_docs(spark, 40, 50), broadcast_new=True)
    assert {r["status"] for r in final.collect()} == {"exact"}


def test_ensure_in_pushdown_raises_minimally_and_monotonic(spark):
    """ADVICE r12: the session threshold rises only as far as the
    batch needs (not the blanket cap) and never lowers — lazy frames
    from an earlier, larger probe must still clear it."""
    conf = "spark.sql.parquet.pushdown.inFilterThreshold"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "10")
        probe._ensure_in_pushdown(spark, 300)
        assert int(spark.conf.get(conf)) == 301
        probe._ensure_in_pushdown(spark, 50)  # smaller probe: no lower
        assert int(spark.conf.get(conf)) == 301
        probe._ensure_in_pushdown(spark, 400)  # bigger: monotonic raise
        assert int(spark.conf.get(conf)) == 401
        probe.configure_probe_pushdown(spark, 1234)
        assert int(spark.conf.get(conf)) == 1234
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_ensure_in_pushdown_concurrent_raises_keep_the_max(
    spark, monkeypatch
):
    """The classify kernel probes hashes and bands at once: concurrent
    raises must leave the largest one. The threshold read is slowed, the
    more the smaller the raise, so that unlocked every thread reads
    before any sets and the largest raise is overwritten."""
    import threading
    import time

    conf = "spark.sql.parquet.pushdown.inFilterThreshold"
    old = spark.conf.get(conf, None)
    read = probe._session_in_threshold
    raising = threading.local()

    def slow_read(session):
        value = read(session)
        time.sleep(0.1 - raising.n / 10_000)
        return value

    monkeypatch.setattr(probe, "_session_in_threshold", slow_read)
    counts = [120, 900, 40, 610, 300, 75, 880, 15]
    try:
        spark.conf.set(conf, "10")
        go = threading.Barrier(len(counts))

        def raise_for(n):
            raising.n = n
            go.wait()
            probe._ensure_in_pushdown(spark, n)

        threads = [threading.Thread(target=raise_for, args=(n,))
                   for n in counts]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        assert int(spark.conf.get(conf)) == max(counts) + 1
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_range_cluster_shard_control(spark, tmp_path):
    """range_cluster: an explicit target_shards pins the file count;
    the AQE default coalesces a tiny artifact to a few files; with AQE
    coalescing off the size-estimate fallback still avoids
    shuffle-partition-many near-empty files (ADVICE r12 #4)."""
    df = spark.range(20_000).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )

    def files_of(p):
        return [
            f for f in glob.glob(f"{p}/*.parquet")
        ]

    p1 = str(tmp_path / "pinned")
    probe.range_cluster(df, ["k"], target_shards=3).write.parquet(p1)
    assert len(files_of(p1)) == 3

    p2 = str(tmp_path / "aqe")
    probe.range_cluster(df, ["k"]).write.parquet(p2)
    n_aqe = len(files_of(p2))
    sp = int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert 1 <= n_aqe < sp

    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    old = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        p3 = str(tmp_path / "fallback")
        probe.range_cluster(df, ["k"]).write.parquet(p3)
        assert 1 <= len(files_of(p3)) < sp
    finally:
        spark.conf.set(conf, old)

    # every layout stays key-sorted within files (the probe contract)
    for f in files_of(p1) + files_of(p2):
        vals = [r["k"] for r in spark.read.parquet(f).collect()]
        assert vals == sorted(vals)


def test_cap_stays_under_parquet_or_chain_soe_boundary(spark):
    """PROBE_CAP.json (r13, 20M/200M-row artifacts): an In ADMITTED by
    the session threshold reaches parquet as a values-deep Or-chain
    whose recursive evaluation throws StackOverflowError above ~1-2k
    STRING values — the r12 blanket threshold raise was a latent
    crash. PARQUET_IN_MAX is set from measurement (anyone raising it
    must re-run scripts/probe_cap.py), and _ensure_in_pushdown must
    REFUSE to raise the threshold for bigger batches: the un-admitted
    In then converts to parquet's native min/max range (measured safe
    at 5000 keys) while Catalyst's InSet keeps the row filter exact."""
    assert probe.PARQUET_IN_MAX <= 1_000
    conf = "spark.sql.parquet.pushdown.inFilterThreshold"
    old = spark.conf.get(conf, None)
    try:
        spark.conf.set(conf, "10")
        probe._ensure_in_pushdown(spark, probe.PARQUET_IN_MAX + 1)
        assert int(spark.conf.get(conf)) == 10  # refused: over the cap
        probe._ensure_in_pushdown(spark, probe.PARQUET_IN_MAX)
        assert int(spark.conf.get(conf)) == probe.PARQUET_IN_MAX + 1
    finally:
        if old is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old)


def test_overcap_multi_span_prunes_and_stays_superset(spark, tmp_path):
    """Regime 3 (batch > PROBE_PUSHDOWN_MAX, VERDICT r13 item 1): a
    backfill whose keys occupy two narrow regions of the keyspace gets
    a chunked OR-of-between the parquet reader can prune with — the
    scan keeps exactly the in-span rows (not the whole index, as the
    r13 global span did) — and the caller's semi-join stays exact."""
    path = str(tmp_path / "overcap")
    idx = spark.range(10_000).select(F.col("id").alias("k"))
    probe.range_cluster(idx, ["k"], target_shards=4).write.parquet(path)
    stored = spark.read.parquet(path)
    batch = (
        spark.range(100, 200).union(spark.range(9_000, 9_100))
        .select(F.col("id").alias("k"))
    )
    old = probe.PROBE_PUSHDOWN_MAX
    probe.PROBE_PUSHDOWN_MAX = 4
    try:
        got = probe.pushdown_key_filter(stored, "k", batch)
        plan = _plan_of(got)
        assert "Or(And(" in plan, plan       # chunked spans, pushed
        # the two clusters merge into two spans: exactly their rows
        # survive the scan (the r13 global span would keep 9 000)
        assert got.count() == 200
        exact = got.join(F.broadcast(batch.distinct()), "k", "left_semi")
        want = stored.join(F.broadcast(batch.distinct()), "k", "left_semi")
        assert exact.count() == want.count() == 200
    finally:
        probe.PROBE_PUSHDOWN_MAX = old


def test_overcap_uniform_batch_falls_back_to_global_span(spark):
    """Regime 3 with uniformly-distributed keys: the chunk spans
    blanket the global [min, max] (coverage >= PROBE_SPAN_COVERAGE),
    so no span scheme can prune — the filter falls back to the single
    global between and the scan pays no per-row chunk evaluation."""
    idx = spark.range(2_000).select(F.col("id").alias("k"))
    batch = spark.range(2_000).select(F.col("id").alias("k"))
    old = probe.PROBE_PUSHDOWN_MAX
    probe.PROBE_PUSHDOWN_MAX = 4
    try:
        got = probe.pushdown_key_filter(idx, "k", batch)
        assert "Or(And(" not in _plan_of(got)
        assert got.count() == 2_000
    finally:
        probe.PROBE_PUSHDOWN_MAX = old


def test_overcap_multi_span_string_surrogate(spark, tmp_path):
    """The string surrogate (first 7 post-common-prefix UTF-8 bytes as
    a big-endian long) buckets rank-consistently: two string-key
    clusters come back as exactly their rows, sharing a long common
    prefix does not break anything."""
    path = str(tmp_path / "overcap_str")
    idx = spark.range(5_000).select(
        F.format_string("doc_%07d", F.col("id")).alias("k")
    )
    probe.range_cluster(idx, ["k"], target_shards=4).write.parquet(path)
    stored = spark.read.parquet(path)
    batch = (
        spark.range(50, 150).union(spark.range(4_500, 4_600))
        .select(F.format_string("doc_%07d", F.col("id")).alias("k"))
    )
    old = probe.PROBE_PUSHDOWN_MAX
    probe.PROBE_PUSHDOWN_MAX = 4
    try:
        got = probe.pushdown_key_filter(stored, "k", batch)
        assert got.count() == 200
        want = stored.join(F.broadcast(batch.distinct()), "k", "left_semi")
        assert (
            sorted(r["k"] for r in got.collect())
            == sorted(r["k"] for r in want.collect())
        )
    finally:
        probe.PROBE_PUSHDOWN_MAX = old


def test_surrogate_and_chunk_helpers():
    """Pure-python halves of the span machinery: byte-surrogate rank
    preservation, equal-count chunking, overlap merging."""
    # rank preservation incl. the "az" > "abc" case a no-padding
    # surrogate gets wrong, and prefix-of ties
    vals = ["ab", "abc", "az", "ba", "a", ""]
    ranked = sorted(vals)
    pos = [probe._utf8_pos(v, 0) for v in ranked]
    assert pos == sorted(pos)
    # lcp-relative positions
    assert probe._utf8_pos("doc_0001", 4) == probe._utf8_pos("0001", 0)
    chunks = probe._chunks_from_sorted(list(range(10)))
    assert chunks[0][0] == 0 and chunks[-1][1] == 9
    assert all(lo <= hi for lo, hi in chunks)
    merged = probe._merge_spans([(1, 3), (3, 5), (7, 9), (8, 12)])
    assert merged == [(1, 5), (7, 12)]


def test_configure_probe_pushdown_refuses_soe_thresholds(spark):
    """ADVICE r13: configure_probe_pushdown must hard-error past the
    measured Or-chain StackOverflow boundary instead of arming a
    session-wide crash."""
    with pytest.raises(ValueError):
        probe.configure_probe_pushdown(
            spark, 2 * probe.PARQUET_IN_MAX + 1
        )


def test_mid_regime_admitted_threshold_falls_back_to_spans(spark, tmp_path):
    """ADVICE r13 (medium): if the session threshold would ADMIT a
    >PARQUET_IN_MAX In to parquet (the SOE Or-chain), the mid regime
    drops the isin entirely and pushes only the chunked spans — the
    result is a superset and the caller's semi-join stays exact."""
    path = str(tmp_path / "admitted")
    idx = spark.range(2_000).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    probe.range_cluster(idx, ["k"], target_shards=2).write.parquet(path)
    stored = spark.read.parquet(path)
    batch = spark.range(0, 400, 2).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    conf = "spark.sql.parquet.pushdown.inFilterThreshold"
    old_max = probe.PARQUET_IN_MAX
    old_thr = spark.conf.get(conf, None)
    probe.PARQUET_IN_MAX = 100
    try:
        spark.conf.set(conf, "5000")   # would admit a 200-key In
        got = probe.pushdown_key_filter(stored, "k", batch)
        plan = _plan_of(got)
        assert "In(k" not in plan      # the isin was dropped
        assert "Or(And(" in plan       # spans carry the pruning
        want = stored.join(F.broadcast(batch.distinct()), "k", "left_semi")
        exact = got.join(F.broadcast(batch.distinct()), "k", "left_semi")
        assert exact.count() == want.count() == 200
    finally:
        probe.PARQUET_IN_MAX = old_max
        if old_thr is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old_thr)


def test_mid_regime_isin_exact_without_threshold_raise(spark, tmp_path):
    """PARQUET_IN_MAX < batch <= PROBE_PUSHDOWN_MAX: the isin is still
    applied (exact InSet at the scan) but the parquet threshold stays
    untouched — the SOE-dangerous full-In admission never happens, and
    the verdicts match the bare semi-join exactly."""
    from pyspark.sql import functions as F

    path = str(tmp_path / "mid")
    idx = spark.range(5000).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    probe.range_cluster(idx, ["k"], target_shards=2).write.parquet(path)
    stored = spark.read.parquet(path)
    batch = spark.range(0, 4000, 2).select(
        F.md5(F.col("id").cast("string")).alias("k")
    )
    conf = "spark.sql.parquet.pushdown.inFilterThreshold"
    old_max = probe.PARQUET_IN_MAX
    old_thr = spark.conf.get(conf, None)
    probe.PARQUET_IN_MAX = 100
    try:
        spark.conf.set(conf, "10")
        got = probe.pushdown_key_filter(stored, "k", batch)
        assert int(spark.conf.get(conf)) == 10  # never raised
        want = stored.join(F.broadcast(batch.distinct()), "k", "left_semi")
        assert got.count() == want.count() == 2000
    finally:
        probe.PARQUET_IN_MAX = old_max
        if old_thr is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old_thr)


@pytest.mark.parametrize("ddl", ["k string", "k bigint"])
def test_probe_py4j_round_trips_do_not_grow_with_keys(
    spark, monkeypatch, ddl
):
    """The keys stay in the JVM (isInCollection over a JVM-side list,
    chunk bounds fetched as one string), so a 3,000-key probe — mid
    regime, In plus chunked spans — makes about as many Py4J round
    trips as a 50-key one. A per-key Python ``isin`` measured 16,378
    vs 259 (string) and 16,378 vs 258 (bigint)."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    send = client.send_command
    calls = [0]

    def counting(command, *args, **kwargs):
        # reference deletes for objects Python freed earlier are sent
        # whenever they happen to flush: not this probe's round trips
        if not command.startswith(MEMORY_COMMAND_NAME):
            calls[0] += 1
        return send(command, *args, **kwargs)

    kcol = F.col("id") if ddl.endswith("bigint") else F.md5(
        F.col("id").cast("string"))
    index = spark.range(10_000).select(kcol.alias("k"))

    def round_trips(n):
        batch = spark.range(0, 2 * n, 2).select(kcol.alias("k"))
        calls[0] = 0
        monkeypatch.setattr(client, "send_command", counting)
        try:
            got = pushdown_key_filter(index, "k", batch)
        finally:
            monkeypatch.setattr(client, "send_command", send)
        assert got.count() == n
        return calls[0]

    small, large = round_trips(50), round_trips(3_000)
    assert large <= small + 100, (small, large)


def _bound_batch(spark, lo, hi):
    # exact copies of _docs(lo, hi), near copies (one extra word), two
    # texts shorter than shingle_n words and a null text: every verdict
    # kind plus docs that have no bands at all
    rows = [(i, t) for i, t in _docs(spark, lo, hi).collect()]
    rows += [(1_000 + i, t + " extra") for i, t in rows]
    rows += [(2_000, "two words"), (2_001, "x"), (2_002, None)]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _final_plans(spark, run):
    """Final physical plans of the SQL executions ``run()`` starts."""
    store = spark._jsparkSession.sharedState().statusStore()
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def last_ids(k):
        n = store.executionsCount()
        window = store.executionsList(max(0, n - k), k)
        return [window.apply(i) for i in range(window.size())]

    bus.waitUntilEmpty()
    before = max((e.executionId() for e in last_ids(1)), default=-1)
    run()
    bus.waitUntilEmpty()
    return [
        e.physicalPlanDescription().split("== Initial Plan ==")[0]
        for e in last_ids(100) if e.executionId() > before
    ]


#: Spark jobs one classify(broadcast_new=True) of the guard test's
#: batch submits on the test session (local[4], AQE, 4 shuffle
#: partitions). Measured: 15, against 21 when each index scan was also
#: semi-joined against the batch keys (the runtime bloom filter on such
#: a semi-join alone costs 2 jobs per probe).
CLASSIFY_BROADCAST_JOBS = 15


def test_broadcast_classify_probe_is_the_only_index_join(
    spark, tmp_path, spark_jobs
):
    """classify(broadcast_new=True): each index scan is restricted by
    the pushed probe alone — it is never semi-joined against the
    batch keys, so no plan carries the runtime bloom filter Catalyst
    injects into such a semi-join (a bloom_filter_agg subquery, i.e. 2
    more jobs and a second index scan per probe) — and the call stays
    within its measured job count."""
    path = str(tmp_path / "idx")
    DedupIndex.build(_docs(spark, 0, 60), path, track_ids=True)
    idx = DedupIndex.load(spark, path)
    batch = _bound_batch(spark, 50, 60).localCheckpoint(eager=True)
    out = {}

    def run():
        j0 = spark_jobs()
        out["status"] = idx.classify(batch, broadcast_new=True)
        out["jobs"] = spark_jobs() - j0

    plans = _final_plans(spark, run)
    verdicts = [r["status"] for r in out["status"].collect()]
    assert {"exact", "near", "novel"} <= set(verdicts)
    scans = [p for p in plans if "Scan parquet" in p]
    assert len(scans) == 2, plans  # one per artifact: hashes, bands
    for p in plans:
        assert "bloom_filter_agg" not in p, p
    for p in scans:
        # the batch rows against the broadcast matches, nothing else
        assert p.count("LeftSemi") == 1, p
    assert out["jobs"] <= CLASSIFY_BROADCAST_JOBS, out["jobs"]


@pytest.mark.parametrize("regime", [
    "in", "in_and_spans", "admitted_spans_only", "over_cap",
])
def test_classify_and_ingest_agree_across_modes_and_regimes(
    spark, tmp_path, monkeypatch, regime
):
    """Differential: for every probe regime, classify gives the same
    verdicts in both join modes, ingest returns those verdicts, and
    both modes append the same hashes/bands rows."""
    import shutil

    conf = "spark.sql.parquet.pushdown.inFilterThreshold"
    if regime != "in":
        monkeypatch.setattr(probe, "PARQUET_IN_MAX", 5)
    if regime == "over_cap":
        monkeypatch.setattr(probe, "PROBE_PUSHDOWN_MAX", 5)
    old_thr = spark.conf.get(conf, None)
    if regime == "admitted_spans_only":
        spark.conf.set(conf, "100000")   # would admit any In
    try:
        base = str(tmp_path / "base")
        DedupIndex.build(_docs(spark, 0, 40), base, track_ids=True)
        batch = _bound_batch(spark, 30, 40).union(
            _docs(spark, 100, 110)).localCheckpoint(eager=True)
        verdicts, stores = {}, {}
        for mode in (False, True):
            path = str(tmp_path / f"idx_{mode}")
            shutil.copytree(base, path)
            idx = DedupIndex.load(spark, path)
            classified = dict(idx.classify(batch, broadcast_new=mode)
                              .collect())
            ingested = dict(idx.ingest(batch, broadcast_new=mode)
                            .collect())
            assert ingested == classified, mode
            verdicts[mode] = classified
            stores[mode] = {
                name: sorted(map(tuple, spark.read.parquet(
                    f"{path}/{name}").collect()), key=repr)
                for name in ("hashes", "bands")
            }
    finally:
        if old_thr is None:
            spark.conf.unset(conf)
        else:
            spark.conf.set(conf, old_thr)
    assert verdicts[True] == verdicts[False]
    v = verdicts[True]
    assert all(v[i] == "exact" for i in range(30, 40))
    assert all(v[i] == "novel" for i in range(100, 110))
    assert all(v[i] == "novel" for i in (2_000, 2_001, 2_002))
    assert "near" in {v[1_000 + i] for i in range(30, 40)}
    assert stores[True] == stores[False]
