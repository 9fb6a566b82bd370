"""The north-rule end-to-end job: pages -> canonical text -> salted
partitioning -> raw->1m->1h->1d tier ladder -> gap-filled view ->
Gorilla blocks, with a checkpoint manifest per stage and mid-tier
resume.

Layout under ``out_root``:

    canonical/            url -> canonical text + sha256 (latest-wins)
    t1m/ t1h/ t1d/        tier state tables, parquet partitioned by dt
    gapfill_1h/ blocks_1h/  gap-filled view + Gorilla block table
                            (gapfill_1h is rebalanced on dt before its
                            write: one file per date up to AQE's
                            advisory size, not one per task per date
                            as the url-hashed union gives. Each file
                            costs a parquet footer and, on a local FS
                            without libhadoop, a forked chmod per file,
                            .crc sidecar and directory)
    _manifests/<stage>.json per-partition lineage (rows, value_crc,
                            input_snapshot, input_crc)
    <table>/_VERSION        table snapshot counter (Iceberg-id analogue)

Resume contract (two layers):
1. every stage filters its INPUT to dts missing-or-invalid in its own
   manifest BEFORE any compute — for dt-partitioned parquet inputs that
   is a partition-pruned scan, so a resumed run doesn't even read
   completed dates — and writes with dynamic partition overwrite;
2. validity is chained per-partition via lineage crcs: a downstream
   entry records the upstream dt's value_crc it was computed from, so a
   recomputed upstream date invalidates exactly the matching downstream
   date (incremental view maintenance), and an upstream rewrite that
   reproduced identical bytes invalidates nothing.

Tier dts are self-contained (a minute/hour/day bucket never spans a
calendar date), which is what makes the date the correct resume unit.
The gap-fill stage interpolates ACROSS dates, so it is all-or-nothing:
it pins a global fingerprint of the whole upstream manifest instead.

Run via ``spark-submit --py-files spartan2_spark.zip`` on a cluster;
locally the same entry point drives local[N].
"""

from __future__ import annotations

import os
import zlib

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from spartan2_spark.operators import gapfill as G
from spartan2_spark.operators import gorilla as GO
from spartan2_spark.operators import manifest as M
from spartan2_spark.operators import partitioning as P
from spartan2_spark.operators import rollup as R

__all__ = ["run_pipeline"]


def _run_stage(
    spark: SparkSession,
    out_root: str,
    stage: str,
    input_df: DataFrame,
    input_dt_col,
    build,
    input_snapshot: int,
    resume: bool,
    upstream: dict[str, int] | None = None,
    all_or_nothing: bool = False,
) -> dict:
    """Stage protocol: resume-prune input -> build -> dynamic-overwrite
    write -> per-partition lineage -> manifest merge -> version bump.

    ``all_or_nothing=True`` is the full-rebuild protocol (t1w,
    gapfill_1h): the build's output IS the whole table, so the write
    uses STATIC partition overwrite (the stage dir is wiped — orphan
    partitions from a previous, larger upstream cannot survive a
    retention trim) and the manifest is REPLACED with exactly the
    produced dts rather than merged. Incompatible with resume pruning
    (the caller decides staleness via a global fingerprint instead).

    Metrics: each manifest entry additionally records the partition's
    physical bytes + file count at write time, and the stage report
    carries wall seconds — the per-commit operational metrics the north
    rule pairs with lineage."""
    import time as _time

    if all_or_nothing and resume:
        raise ValueError(
            "all_or_nothing stages cannot resume-prune: validity is "
            "decided by the caller's global fingerprint"
        )
    t_start = _time.time()
    out_dir = os.path.join(out_root, stage)
    # with crc lineage chaining the snapshot pin is redundant (and would
    # over-invalidate: an upstream rewrite that reproduced identical
    # bytes bumps the version but not the crc) — crc decides alone.
    snap_check = None if upstream is not None else input_snapshot
    done = (
        M.completed_partitions(out_root, stage, snap_check, upstream)
        if resume
        else set()
    )

    def not_done(df: DataFrame, col) -> DataFrame:
        return df.filter(~col.cast("string").isin(sorted(done))) if done else df

    out_df = build(not_done(input_df, input_dt_col))
    spark.conf.set(
        "spark.sql.sources.partitionOverwriteMode",
        "static" if all_or_nothing else "dynamic",
    )
    out_df.write.mode("overwrite").partitionBy("dt").parquet(out_dir)

    written = spark.read.parquet(out_dir)
    new = not_done(written, F.col("dt"))
    if upstream:
        # a dt on disk but absent from the upstream lineage was NOT
        # rewritten by this run (dynamic overwrite only touches dts the
        # build produced) — it is stale, and stamping it with the new
        # input lineage would launder it into the manifest as current.
        # Leave it unstamped (and invalid) until a retention policy or
        # upstream repair deals with it.
        new = new.filter(F.col("dt").cast("string").isin(sorted(upstream)))
    entries = M.partition_lineage(new)
    sizes = M.partition_sizes(out_dir)
    for e in entries:
        e.update(sizes.get(e["dt"], {}))
    M.write_partition_entries(
        out_root, stage, entries, input_snapshot, upstream,
        replace=all_or_nothing,
    )
    # snapshot semantics: a run that added no partitions is not a new
    # snapshot (otherwise downstream version pins would churn on no-ops)
    version = M.bump_table_version(out_dir) if entries else M.table_version(out_dir)
    return {
        "stage": stage,
        "new_partitions": len(entries),
        "rows_written": sum(e["rows"] for e in entries),
        "bytes_written": sum(e.get("bytes", 0) for e in entries),
        "skipped_partitions": len(done),
        "version": version,
        "wall_sec": round(_time.time() - t_start, 3),
    }


def _global_fingerprint(root: str, src_stage: str) -> int:
    man = M.read_manifest(root, src_stage)
    s = ";".join(f"{e['dt']}={e['value_crc']}" for e in man)
    return zlib.crc32(s.encode())


def run_pipeline(
    spark: SparkSession,
    pages: DataFrame,
    out_root: str,
    resume: bool = True,
    bin_mode: str = "int",
    target_rows_per_salt: int = 1_000_000,
    detect_late_data: bool = True,
    week_tier: bool = False,
) -> list[dict]:
    """Full ladder. Returns per-stage stats (for PROGRESS/BENCH logs).

    ``detect_late_data``: late crawls are the norm for a growing pages
    table — rows for a warc_ts date whose tier partitions were already
    finalized. With True (default) the run computes per-dt content crcs
    of the raw input (one hash aggregation over pages) and chains them
    as the canonical/t1m stages' upstream lineage, so a changed raw
    date invalidates and recomputes exactly the affected downstream
    partitions — the same incremental-view-maintenance rule the tier
    hops already use, extended to the external boundary. With False the
    raw input is assumed frozen (append-free) and resume trusts the
    manifest alone, skipping the input scan; on a real Iceberg catalog
    the changed-date set would come from the snapshot's incremental
    file manifest instead of a content scan, so production pays
    metadata cost, not a re-hash.
    """
    os.makedirs(out_root, exist_ok=True)
    reports = []
    pages_version = 1  # external input table: pinned snapshot

    if detect_late_data and resume:
        pages_crcs = {
            e["dt"]: e["value_crc"]
            for e in M.partition_lineage(
                pages.withColumn("dt", F.to_date("warc_ts"))
            )
        }
        # canonical is a single global latest-wins table (dt="ALL"):
        # any changed raw date invalidates it as a whole
        canon_crcs = {
            "ALL": zlib.crc32(
                ";".join(
                    f"{d}={c}" for d, c in sorted(pages_crcs.items())
                ).encode()
            )
        }
    else:
        pages_crcs = None
        canon_crcs = None

    # -- canonical text per url (byte-identical invariant; crc in manifest)
    reports.append(
        _run_stage(
            spark, out_root, "canonical",
            pages, F.lit("ALL"),
            lambda df: R.canonical_text(df).withColumn("dt", F.lit("ALL")),
            pages_version, resume,
            upstream=canon_crcs,
        )
    )

    # -- raw -> 1m, with explicit salted partitioning for head domains
    def build_t1m(df):
        salted = P.salted_repartition(df, target_rows_per_salt=target_rows_per_salt)
        return R.rollup_from_points(R.raw_points(salted), "1m", bin_mode).withColumn(
            "dt", F.to_date("bucket_ts")
        )

    reports.append(
        _run_stage(
            spark, out_root, "t1m",
            pages, F.to_date("warc_ts"),
            build_t1m, pages_version, resume,
            upstream=pages_crcs,
        )
    )

    # -- 1m -> 1h -> 1d from stored state only (per-dt lineage
    # chaining; these hops are per-dt resumable because input and
    # output dts coincide — a day tier row rebuilds from that day's
    # hour rows only)
    for src, dst, tier in (("t1m", "t1h", "1h"), ("t1h", "t1d", "1d")):
        src_dir = os.path.join(out_root, src)
        reports.append(
            _run_stage(
                spark, out_root, dst,
                spark.read.parquet(src_dir), F.col("dt"),
                lambda df, t=tier: R.rollup_tier_up(df.drop("dt"), t).withColumn(
                    "dt", F.to_date("bucket_ts")
                ),
                M.table_version(src_dir), resume,
                upstream=M.upstream_crcs(out_root, src),
            )
        )

    # -- opt-in 1w long-retention hop. ALL-OR-NOTHING like the gapfill
    # view, NOT per-dt resumable: a week partition (dt = ISO Monday)
    # aggregates SEVEN t1d day partitions, so per-dt input pruning
    # against completed week dts would drop only the Monday day and
    # silently rebuild every done week from 6/7 of its days on resume.
    # The week tier is the coarsest state (smallest of the ladder), so
    # rebuild-on-any-t1d-change is cheap and keeps resume exact: the
    # stage is pinned to a global fingerprint of the t1d manifest.
    if week_tier:
        t1d_dir = os.path.join(out_root, "t1d")
        fp_w = _global_fingerprint(out_root, "t1d")
        w_man = M.read_manifest(out_root, "t1w")
        w_valid = bool(w_man) and all(e.get("input_crc") == fp_w for e in w_man)
        if resume and w_valid:
            reports.append(
                {
                    "stage": "t1w",
                    "new_partitions": 0,
                    "rows_written": 0,
                    "bytes_written": 0,
                    "skipped_partitions": len(w_man),
                    "version": M.table_version(os.path.join(out_root, "t1w")),
                    "wall_sec": 0.0,
                }
            )
        else:
            reports.append(
                _run_stage(
                    spark, out_root, "t1w",
                    spark.read.parquet(t1d_dir), F.lit("__none__"),
                    lambda df: R.rollup_tier_up(df.drop("dt"), "1w").withColumn(
                        "dt", F.to_date("bucket_ts")
                    ),
                    M.table_version(t1d_dir), False,
                    upstream={},  # placeholder; entries pinned below
                    all_or_nothing=True,
                )
            )
            # pin exactly the dts this rebuild produced: the static
            # overwrite wiped any orphan week partitions and the replace
            # merge dropped their manifest entries, so the read-back IS
            # the produced set — a t1d retention trim can no longer
            # launder stale weeks into the valid lineage
            man = M.read_manifest(out_root, "t1w")
            M.write_partition_entries(
                out_root, "t1w",
                man,
                M.table_version(t1d_dir),
                {e["dt"]: fp_w for e in man},
            )

    # -- gap-filled 1h view (materialized for readers/BeatLex).
    # Interpolation crosses dates -> all-or-nothing, pinned to a global
    # fingerprint of the upstream manifest.
    t1h_dir = os.path.join(out_root, "t1h")
    fp = _global_fingerprint(out_root, "t1h")

    def build_gap(df):
        # cluster the scan by url ONCE: HashPartitioning(url) satisfies
        # both the tier_view groupBy(url, bucket_ts) clustering AND the
        # gap-descriptor window partitionBy(url), so the whole
        # view -> lead-window -> explode chain plans a single Exchange
        # instead of two full shuffles of the tier (at N executors the
        # removed shuffle is cross-JVM serde, the dominant marginal
        # cost of the stage; output bit-identical — commutative aggs)
        #
        # then rebalance the dense output on dt: the union of url-hashed
        # real rows and exploded gap rows puts every date in every task,
        # so each task would write one file per date (each file costs a
        # footer and forked chmods, see the module Layout). Rebalancing
        # lets AQE write one file per date while a date is small and
        # split a date larger than the advisory size; repartition("dt")
        # would pin each date to one task however large it is. Rows,
        # lineage crcs and Gorilla blocks are unchanged.
        view = R.tier_view(df.drop("dt").repartition(F.col("url")), bin_mode=bin_mode)
        return (
            G.densify_fill(
                view.select("url", "bucket_ts", "cnt", "vmean"),
                "1h",
                ("vmean",),
                method="interp",
            )
            .withColumn("dt", F.to_date("bucket_ts"))
            .hint("rebalance", "dt")
        )

    gap_man = M.read_manifest(out_root, "gapfill_1h")
    gap_valid = bool(gap_man) and all(e.get("input_crc") == fp for e in gap_man)
    if resume and gap_valid:
        reports.append(
            {
                "stage": "gapfill_1h",
                "new_partitions": 0,
                "rows_written": 0,
                "bytes_written": 0,
                "skipped_partitions": len(gap_man),
                "version": M.table_version(os.path.join(out_root, "gapfill_1h")),
                "wall_sec": 0.0,
            }
        )
    else:
        reports.append(
            _run_stage(
                spark, out_root, "gapfill_1h",
                spark.read.parquet(t1h_dir), F.lit("__none__"),
                build_gap, M.table_version(t1h_dir), False,
                upstream={},  # placeholder; entries pinned below
                all_or_nothing=True,
            )
        )
        # pin every entry to the global fingerprint (entries pass through
        # whole — bytes/files metrics survive; write_partition_entries
        # re-stamps the lineage keys itself)
        man = M.read_manifest(out_root, "gapfill_1h")
        M.write_partition_entries(
            out_root, "gapfill_1h",
            man,
            M.table_version(t1h_dir),
            {e["dt"]: fp for e in man},
        )

    # -- Gorilla blocks for the 1h tier (per url x dt; dt-resumable)
    gap_dir = os.path.join(out_root, "gapfill_1h")
    reports.append(
        _run_stage(
            spark, out_root, "blocks_1h",
            spark.read.parquet(gap_dir), F.col("dt"),
            lambda df: GO.encode_tier_blocks(
                df, "1h", value_col="vmean", extra_group_cols=("dt",)
            ),
            M.table_version(gap_dir), resume,
            upstream=M.upstream_crcs(out_root, "gapfill_1h"),
        )
    )
    return reports
