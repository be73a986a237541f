"""In-literal pushdown cost at production-ish scale (VERDICT r12 #2).

PROBE_SCALE.json proves the probe law at 30k->300k artifact rows with
200-key batches; this instrument measures WHERE the In pushdown stops
paying as the batch grows toward PROBE_PUSHDOWN_MAX, against a 20M-row
(default; --rows to go bigger) range-clustered + bloomed key artifact —
the exact layout DedupIndex/AnnIndex write.

Per batch size, three end-to-end probe strategies (each timed fresh,
min of --reps):

- in_admitted:   the parquet threshold force-raised past the batch so
        the reader receives the FULL In set (Or-chain evaluation) —
        the boundary probe that finds where admission StackOverflows.
- in_unadmitted: the same isin with the threshold left at default —
        Catalyst InSet exact row filter + parquet-native [min,max]
        range conversion (the production mid regime for batches above
        PARQUET_IN_MAX).
- span: the no-collect [min, max] fallback (collect cap forced below
        the batch) followed by the same semi-join.
- semi: the bare broadcast semi-join with no scan prefilter — the
        pre-r12 plan, linear in the index.

The In path's cost is split once per size into its driver-side
component (collect + literal construction + analysis/optimize/physical
planning, measured via executedPlan()) and its execution component, so
the cap can be chosen where driver+planning overtakes the scan savings.

The r14 "overcap" section measures the regimes ABOVE
PROBE_PUSHDOWN_MAX (VERDICT r13 item 1), per over-cap batch size and
key distribution:

- multispan: the production regime-3 chunked OR-of-between (no key
        collect; surrogate-bucketed spans) followed by the semi-join.
- globalspan: the r13 single [min,max] fallback (forced by pinning
        PROBE_SPAN_CHUNKS=1, which makes the coverage check collapse
        the chunks) — the design the multispan replaces.
- semi: the bare broadcast semi-join, no scan prefilter.

"clustered" batches draw their keys from four narrow md5 ranges
(nibble prefixes 0/4/8/c — the shape of a backfill that re-ingests a
few source shards on the key-clustered layout): ~25% keyspace
coverage, where chunked spans should prune ~75% of row groups while
the global span (which stretches 0x0..0xc_fff, ~80% of keyspace)
prunes ~nothing. "uniform" batches spread over the whole keyspace —
no span scheme can prune those; the multispan must detect it
(coverage fallback) and match the global span instead of paying
per-row chunk evaluation.

Writes PROBE_CAP.json:
    {"rows": N, "files": F, "sizes": {"<k>": {"in_admitted_e2e": s,
     "in_unadmitted_e2e": s, "in_driver_plan": s, "span_e2e": s,
     "semi_e2e": s}, ...}, "overcap": {"<k>": {...}},
     "recommended_parquet_in_max": K}

Run:  python scripts/probe_cap.py [--rows 20000000] [--reps 3]
"""

from __future__ import annotations

import argparse
import glob
import json
import os
import shutil
import sys
import time

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from pyspark.sql import SparkSession  # noqa: E402
from pyspark.sql import functions as F  # noqa: E402

#: Bigger sizes' ADMITTED rows are guarded: raising the parquet In
#: threshold past ~2-5k string keys makes the reader evaluate a
#: values-deep Or-chain and DIE with StackOverflowError (first
#: measured here, r13) — the run records the failure instead of
#: crashing.
SIZES = [200, 500, 1_000, 2_000, 5_000]


def keys_of(spark, ids):
    return ids.select(F.md5(F.col("id").cast("string")).alias("__h"))


def batch_of(spark, n_rows: int, size: int, absent: bool = False):
    """``size`` distinct keys spread uniformly over the artifact's key
    population (or shifted past it for the absent case)."""
    step = max(n_rows // size, 1)
    ids = spark.range(0, size).select(
        (F.col("id") * step + (n_rows if absent else 0)).alias("id")
    )
    return keys_of(spark, ids).localCheckpoint(eager=True)


def clustered_batch(spark, size: int):
    """``size`` PRESENT keys drawn from four narrow md5 ranges (nibble
    prefixes 0/4/8/c): the key-space shape of a backfill that
    re-ingests a few source shards of a key-clustered artifact."""
    cand = keys_of(spark, spark.range(0, size * 8))
    return (
        cand.filter(F.substring("__h", 1, 1).isin("0", "4", "8", "c"))
        .limit(size)
        .localCheckpoint(eager=True)
    )


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--rows", type=int, default=20_000_000)
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--out", default=os.path.join(REPO, "PROBE_CAP.json"))
    ap.add_argument("--keep", action="store_true",
                    help="reuse an artifact left by a previous run")
    ap.add_argument("--overcap-sizes", default="20000,100000",
                    help="comma list of over-PROBE_PUSHDOWN_MAX batch "
                         "sizes for the multispan section ('' skips)")
    ap.add_argument("--skip-sizes", action="store_true",
                    help="skip the under-cap SIZES sweep (overcap only)")
    ap.add_argument("--cold", action="store_true",
                    help="add cold-cache overcap rows (drops the OS "
                         "page cache before each run; needs root)")
    args = ap.parse_args()

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "16")
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory",
                os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # many small row groups emulate a 100 TB artifact's row-group
        # count at test scale — the pruning ratio is what transfers
        .config("spark.hadoop.parquet.block.size", str(1 << 20))
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from impuls_spark.llm import probe
    from impuls_spark.llm.probe import write_keyed

    path = f"/tmp/spark_graft_probe_cap_{args.rows}"
    if not (args.keep and os.path.exists(path)):
        shutil.rmtree(path, ignore_errors=True)
        t0 = time.time()
        write_keyed(keys_of(spark, spark.range(args.rows)), path, "__h")
        print(f"# built {args.rows}-row artifact in {time.time()-t0:.1f}s",
              file=sys.stderr)
    files = len(glob.glob(f"{path}/*.parquet"))
    out = {"rows": args.rows, "files": files, "reps": args.reps,
           "sizes": {}}

    def timed(fn):
        best = float("inf")
        for _ in range(args.reps):
            t0 = time.time()
            fn()
            best = min(best, time.time() - t0)
        return round(best, 3)

    for size in ([] if args.skip_sizes else SIZES):
        idx = spark.read.parquet(path)
        batch = batch_of(spark, args.rows, size)
        row = {}

        def in_admitted_e2e():
            # force ADMISSION past the shipped PARQUET_IN_MAX — this
            # instrument is what MEASURES where that cap belongs
            old_cap, old_adm = probe.PROBE_PUSHDOWN_MAX, probe.PARQUET_IN_MAX
            probe.PROBE_PUSHDOWN_MAX = max(old_cap, size + 1)
            probe.PARQUET_IN_MAX = max(old_adm, size + 1)
            try:
                probe.pushdown_key_filter(idx, "__h", batch).join(
                    F.broadcast(batch), "__h", "left_semi"
                ).count()
            finally:
                probe.PROBE_PUSHDOWN_MAX = old_cap
                probe.PARQUET_IN_MAX = old_adm

        def in_unadmitted_e2e():
            # production mid regime: isin applied, threshold untouched
            old_cap, old_adm = probe.PROBE_PUSHDOWN_MAX, probe.PARQUET_IN_MAX
            probe.PROBE_PUSHDOWN_MAX = max(old_cap, size + 1)
            probe.PARQUET_IN_MAX = 0
            thr = spark.conf.get(
                "spark.sql.parquet.pushdown.inFilterThreshold", None)
            spark.conf.set(
                "spark.sql.parquet.pushdown.inFilterThreshold", "10")
            try:
                probe.pushdown_key_filter(idx, "__h", batch).join(
                    F.broadcast(batch), "__h", "left_semi"
                ).count()
            finally:
                probe.PROBE_PUSHDOWN_MAX = old_cap
                probe.PARQUET_IN_MAX = old_adm
                if thr is not None:
                    spark.conf.set(
                        "spark.sql.parquet.pushdown.inFilterThreshold", thr)
                else:
                    # ADVICE r13: a previously-unset threshold must be
                    # UNSET again, not left pinned at the explicit "10"
                    spark.conf.unset(
                        "spark.sql.parquet.pushdown.inFilterThreshold")

        def span_e2e():
            old = probe.PROBE_PUSHDOWN_MAX
            probe.PROBE_PUSHDOWN_MAX = size - 1
            try:
                probe.pushdown_key_filter(idx, "__h", batch).join(
                    F.broadcast(batch), "__h", "left_semi"
                ).count()
            finally:
                probe.PROBE_PUSHDOWN_MAX = old

        def semi_e2e():
            idx.join(F.broadcast(batch), "__h", "left_semi").count()

        # driver-side cost of the In path alone: collect + literal +
        # full query planning, no execution
        def in_driver_plan():
            old_cap, old_adm = probe.PROBE_PUSHDOWN_MAX, probe.PARQUET_IN_MAX
            probe.PROBE_PUSHDOWN_MAX = max(old_cap, size + 1)
            probe.PARQUET_IN_MAX = max(old_adm, size + 1)
            try:
                f = probe.pushdown_key_filter(idx, "__h", batch).join(
                    F.broadcast(batch), "__h", "left_semi"
                )
                f._jdf.queryExecution().executedPlan().toString()
            finally:
                probe.PROBE_PUSHDOWN_MAX = old_cap
                probe.PARQUET_IN_MAX = old_adm

        try:
            row["in_admitted_e2e"] = timed(in_admitted_e2e)
            row["in_driver_plan"] = timed(in_driver_plan)
        except Exception as ex:
            # the admitted In breaking IS a data point (Or-chain SOE)
            row["in_admitted_error"] = type(ex).__name__
            print(f"# {size}: admitted In failed: {ex}"[:300],
                  file=sys.stderr)
        row["in_unadmitted_e2e"] = timed(in_unadmitted_e2e)
        row["span_e2e"] = timed(span_e2e)
        row["semi_e2e"] = timed(semi_e2e)
        out["sizes"][str(size)] = row
        print(f"# {size}: {row}", file=sys.stderr)

    # absent-key batches (the common crawl case) are where ADMISSION
    # pays: parquet checks the actual values against the blooms and
    # skips row groups whose span contains the absent positions — the
    # unadmitted range conversion cannot (spans of uniform keys cover
    # everything)
    absent = batch_of(spark, args.rows, 500, absent=True)
    idx = spark.read.parquet(path)

    def absent_admitted():
        probe.pushdown_key_filter(idx, "__h", absent).join(
            F.broadcast(absent), "__h", "left_semi"
        ).count()

    def absent_unadmitted():
        old_adm = probe.PARQUET_IN_MAX
        probe.PARQUET_IN_MAX = 0
        thr = spark.conf.get(
            "spark.sql.parquet.pushdown.inFilterThreshold", None)
        spark.conf.set("spark.sql.parquet.pushdown.inFilterThreshold", "10")
        try:
            probe.pushdown_key_filter(idx, "__h", absent).join(
                F.broadcast(absent), "__h", "left_semi"
            ).count()
        finally:
            probe.PARQUET_IN_MAX = old_adm
            if thr is not None:
                spark.conf.set(
                    "spark.sql.parquet.pushdown.inFilterThreshold", thr)
            else:
                # ADVICE r13: mirror the tests' unset-when-unset pattern
                spark.conf.unset(
                    "spark.sql.parquet.pushdown.inFilterThreshold")

    out["absent_500_admitted_e2e"] = timed(absent_admitted)
    out["absent_500_unadmitted_e2e"] = timed(absent_unadmitted)

    # ------------------------------------------------------------------
    # over-cap regimes (VERDICT r13 item 1): batches past
    # PROBE_PUSHDOWN_MAX, where no key collect is allowed.
    #
    # Two cache regimes, reported separately, because they answer
    # different questions (measured r14):
    # - WARM (page-cached artifact) models the CPU-bound floor. Here
    #   Spark 4.1's own runtime join filter already drops most probe
    #   rows AFTER the scan for structured batches, so the multispan's
    #   warm edge over the bare semi-join is modest.
    # - COLD (--cold, drops the OS page cache before every run; needs
    #   root) models the IO-bound regime a 100 TB artifact is ALWAYS
    #   in — no cluster page-caches an 800 GB key column. Only a
    #   PUSHED predicate skips row-group BYTES; the runtime join
    #   filter reads everything and filters afterwards. This is the
    #   regime the multispan exists for, and each cold row also
    #   records the JVM's actual disk read_bytes delta.
    # ------------------------------------------------------------------
    overcap_sizes = [
        int(s) for s in args.overcap_sizes.split(",") if s.strip()
    ]
    if overcap_sizes:
        out["overcap"] = {}

    def _jvm_disk_read_bytes() -> int:
        total = 0
        for pid in os.listdir("/proc"):
            if not pid.isdigit():
                continue
            try:
                with open(f"/proc/{pid}/cmdline") as fh:
                    if "java" not in fh.read():
                        continue
                with open(f"/proc/{pid}/io") as fh:
                    for line in fh:
                        if line.startswith("read_bytes"):
                            total += int(line.split()[1])
            except OSError:
                pass
        return total

    def _drop_caches() -> bool:
        try:
            import subprocess

            subprocess.run(
                ["sh", "-c", "sync; echo 3 > /proc/sys/vm/drop_caches"],
                check=True, capture_output=True,
            )
            return True
        except Exception as ex:
            print(f"# cold run unavailable ({ex}); skipping",
                  file=sys.stderr)
            return False

    def cold_timed(fn) -> "dict | None":
        if not _drop_caches():
            return None
        b0 = _jvm_disk_read_bytes()
        t0 = time.time()
        fn()
        return {"sec": round(time.time() - t0, 3),
                "disk_gib": round(
                    (_jvm_disk_read_bytes() - b0) / 2**30, 3)}

    for size in overcap_sizes:
        idx = spark.read.parquet(path)
        batches = {
            "clustered": clustered_batch(spark, size),
            "uniform": batch_of(spark, args.rows, size),
        }
        row = {}
        for shape, batch in batches.items():

            def multispan():
                probe.pushdown_key_filter(idx, "__h", batch).join(
                    F.broadcast(batch), "__h", "left_semi"
                ).count()

            def globalspan():
                # the r13 single-[min,max] design: one chunk collapses
                # the coverage check into the global-span fallback
                old = probe.PROBE_SPAN_CHUNKS
                probe.PROBE_SPAN_CHUNKS = 1
                try:
                    probe.pushdown_key_filter(idx, "__h", batch).join(
                        F.broadcast(batch), "__h", "left_semi"
                    ).count()
                finally:
                    probe.PROBE_SPAN_CHUNKS = old

            def semi():
                idx.join(F.broadcast(batch), "__h", "left_semi").count()

            # warm rows: fully cache the artifact first so every
            # strategy times the same regime (the r14 first cut timed
            # the first strategy against a half-cold cache and the
            # last against a warm one — min-of-reps can't fix a
            # between-strategy regime difference)
            idx.agg(F.sum(F.length("__h"))).collect()
            row[f"{shape}_multispan_warm_e2e"] = timed(multispan)
            row[f"{shape}_globalspan_warm_e2e"] = timed(globalspan)
            row[f"{shape}_semi_warm_e2e"] = timed(semi)
            if args.cold:
                row[f"{shape}_multispan_cold"] = cold_timed(multispan)
                row[f"{shape}_globalspan_cold"] = cold_timed(globalspan)
                row[f"{shape}_semi_cold"] = cold_timed(semi)
        out["overcap"][str(size)] = row
        print(f"# overcap {size}: {row}", file=sys.stderr)

    # admission-cap recommendation: largest measured size where the
    # ADMITTED In did not error and is not materially worse (>25%)
    # than the best alternative on present keys — admission's real
    # edge (bloom skips on absent keys, the common crawl case) lives
    # in the absent_* rows, so present-key ties must not veto it; the
    # binding constraint is the Or-chain SOE, which errors the row
    if out["sizes"]:
        winning = [
            int(s) for s, r in out["sizes"].items()
            if "in_admitted_e2e" in r
            and r["in_admitted_e2e"] <= 1.25 * min(
                r["in_unadmitted_e2e"], r["span_e2e"], r["semi_e2e"])
        ]
        out["recommended_parquet_in_max"] = max(winning) if winning else 0
    with open(args.out, "w") as fh:
        json.dump(out, fh, indent=1)
    print(json.dumps(out))
    spark.stop()


if __name__ == "__main__":
    main()
