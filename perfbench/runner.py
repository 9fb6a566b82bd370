"""One benchmark run: set up, measure, check, report.

Phases of a run (tracing off):

1. setup (``setup_s``): generate the pages three times and keep the
   median generation time, write the parquet once, start the session;
2. cold build: ``run_pipeline`` into an empty root, the pipeline's
   first run in this JVM, as each ``spark-submit run_pipeline.py`` pays
   it (``points_per_s``, ``stored_bytes_per_point``). No warm-up runs
   before it: a warm-up build does not fit the run's time budget (a
   first build of a one-eighth input took 35 s on a 4-core host), and
   a small warm-up job cost 9-12 s of set-up to save about 5 s of the
   build;
3. refresh: the late batch lands in completed dates, then
   ``run_pipeline(resume=True)`` on a fresh copy of the cold root,
   repeated on new copies until the measured phases add up to
   ``seconds``. Refresh time is a per-layer metric of the traced run
   (``refresh.wall_s``), not an end-to-end one: on a shared 4-core
   host its spread across runs reached 0.40-0.47, above the largest
   bound an end-to-end metric may have, and tracked the host's CPU
   steal. Repeating it within a run did not help: two refreshes in
   one run agreed within 0.2-8% while runs minutes apart differed 2.5x;
4. one round of serving reads on the last refreshed root, one client,
   one read per kind. Read latency is a per-layer metric of the traced
   run: on a shared 4-core host its spread across runs reached
   0.25-0.36, above the largest bound an end-to-end metric may have;
5. the DuckDB gate, off the clock: the cold root against the reference
   of the base pages, the refreshed root and every read against the
   reference of base plus late pages.

With tracing on, two more cold builds follow phase 2, traced then
untraced (their difference is the tracing overhead, read with the
traced build the less warm of the two), and the traced build's output
is checked too; one traced refresh and a no-op resume follow, and
reads run four rounds.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time
from contextlib import nullcontext

import gen
import reference
from workloads import salt_target

STAGES = ("canonical", "t1m", "t1h", "t1d", "gapfill_1h", "blocks_1h")
READ_KINDS = ("series", "tier", "points")


def error_line(e: Exception) -> str:
    """One line naming an error: its type and the first line that names
    an error inside it (a Python worker's traceback nests the cause)."""
    lines = [ln.strip() for ln in str(e).splitlines() if ln.strip()]
    hit = next((ln for ln in lines if "Error:" in ln or "Exception:" in ln), lines[0] if lines else "")
    return f"{type(e).__name__}: {hit[:300]}"


def stage_shares(reports: list[dict], wall_s: float) -> str:
    """Each stage's share of one ``run_pipeline`` wall time, and the
    share outside the stages, for the run summary."""
    walls = {r["stage"]: r.get("wall_sec", 0.0) for r in reports}
    walls["other"] = wall_s - sum(walls.values())
    return " ".join(f"{k}={v / wall_s:.2f}" for k, v in walls.items())


def meminfo_kb(key: str) -> int:
    with open("/proc/meminfo") as f:
        for line in f:
            if line.startswith(key + ":"):
                return int(line.split()[1])
    raise KeyError(key)


def host_env(repo: str, work: str) -> dict:
    """Environment for a session sized to this host, writing only under
    ``work``, whose Python workers can import the program."""
    cpus = len(os.sched_getaffinity(0))
    mem_gb = meminfo_kb("MemTotal") / (1 << 20)
    driver_gb = max(1, min(6, int(mem_gb * 0.25)))
    tmp = os.path.join(work, "tmp")
    java_opts = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    return {
        "SPARK_DRIVER_MEM": f"{driver_gb}g",
        "SPARK_GRAFT_CPUS": str(cpus),
        "SPARK_LOCAL_DIRS": os.path.join(work, "local"),
        "TMPDIR": tmp,
        "JAVA_TOOL_OPTIONS": " ".join(filter(None, [os.environ.get("JAVA_TOOL_OPTIONS"), java_opts])),
        "PYTHONPATH": os.pathsep.join(filter(None, [repo, os.environ.get("PYTHONPATH")])),
    }


def cpu_ticks() -> list[int]:
    """The host's aggregate CPU tick counters from ``/proc/stat``."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


def steal_share(before: list[int], after: list[int]) -> float:
    """Share of CPU time the hypervisor gave to other guests between
    two ``cpu_ticks`` readings (0 on bare metal)."""
    d = [b - a for a, b in zip(before, after)]
    return d[7] / max(sum(d[:8]), 1) if len(d) > 7 else 0.0


def calibrate() -> float:
    """Host calibration: median ms to sort 1M seeded float64s."""
    import numpy as np

    x = np.random.default_rng(0).random(1 << 20)
    times = []
    for _ in range(5):
        t = time.perf_counter()
        np.sort(x)
        times.append((time.perf_counter() - t) * 1e3)
    return statistics.median(times)


def dir_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f)) for d, _, files in os.walk(path) for f in files
    )


def jvm_peak_rss_mb(spark) -> float:
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("VmHWM missing from /proc status")


class Serving:
    """The serving read edge over one pipeline output root: tables are
    opened once, and each read is one call into the program's public
    read functions, materialized as Arrow on the client."""

    def __init__(self, spark, root: str):
        self.series_tbl = spark.read.parquet(os.path.join(root, "gapfill_1h"))
        self.day_tbl = spark.read.parquet(os.path.join(root, "t1d"))
        self.block_tbl = spark.read.parquet(os.path.join(root, "blocks_1h"))

    def read(self, r: dict):
        from pyspark.sql import functions as F

        from spartan2_spark.operators import gorilla as GO
        from spartan2_spark.operators import rollup as R

        d0, d1 = (time.strftime("%Y-%m-%d", time.gmtime(t)) for t in (r["t0"], r["t1"]))
        if r["kind"] == "series":
            ts = F.col("bucket_ts")
            df = self.series_tbl.filter(
                F.col("dt").between(d0, d1)
                & F.col("url").isin(r["urls"])
                & ts.between(F.lit(r["t0"]).cast("timestamp"), F.lit(r["t1"]).cast("timestamp"))
            ).select("url", "bucket_ts", "vmean")
        elif r["kind"] == "tier":
            df = R.tier_view(self.day_tbl.filter(F.col("url").isin(r["urls"])).drop("dt"))
        else:
            df = GO.read_points(
                self.block_tbl.filter(F.col("dt").between(d0, d1)),
                r["t0"], r["t1"], r["urls"], value_col="vmean",
            )
        return df.toArrow()


class Run:
    """One benchmark run: ``setup``, ``measure``, ``gate``, then metrics."""

    def __init__(self, spark, name: str, tr: gen.Traffic, seed: int, seconds: float, trace: bool, work: str, spans_dir: str):
        self.spark, self.name, self.tr, self.seed = spark, name, tr, seed
        self.seconds, self.trace, self.work, self.spans_dir = seconds, trace, work, spans_dir
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.reads: list[dict] = []
        self.root = None  # the last refreshed root, which reads serve from
        self.n_refreshes = 0
        self.phase_s: dict[str, float] = {}  # wall time per phase, for the summary
        self.con = reference.connect()

    # -------------------------------------------------------------- ops
    def _op(self, label: str, fn):
        """Run one counted operation; a raised error is a failure."""
        self.attempted += 1
        try:
            return fn()
        except Exception as e:  # a failed operation is reported, not fatal
            self.failed += 1
            self.errors.append(f"{label}: {error_line(e)}")
            return None

    def _build(self, pages: str, root: str, label: str):
        from spartan2_spark.plans import pipeline

        def go():
            df = self.spark.read.parquet(pages)
            t = time.perf_counter()
            reports = pipeline.run_pipeline(
                self.spark, df, root, resume=True, target_rows_per_salt=salt_target(self.tr)
            )
            return time.perf_counter() - t, reports

        return self._op(label, go)

    # ------------------------------------------------------------ setup
    def setup(self, session_s: float) -> float:
        gen_times = []
        for _ in range(3):
            t = time.perf_counter()
            base = gen.base_pages(self.tr, self.seed)
            late = gen.late_pages(self.tr, self.seed)
            gen_times.append(time.perf_counter() - t)
        t = time.perf_counter()
        self.base_dir = os.path.join(self.work, "pages_base")
        self.late_dir = os.path.join(self.work, "pages_late")
        gen.write(base, os.path.join(self.base_dir, "part-0.parquet"))
        shutil.copytree(self.base_dir, self.late_dir)
        gen.write(late, os.path.join(self.late_dir, "part-1.parquet"))
        write_s = time.perf_counter() - t
        self.n_points = base.num_rows
        self.urls = sorted(set(base.column("url").to_pylist()))
        self.phase_s.update(generate=statistics.median(gen_times), write=write_s, session=session_s)
        return sum(self.phase_s.values())

    # ---------------------------------------------------------- measure
    def measure(self) -> dict:
        """Cold build, refreshes and reads; the clock that ``seconds``
        bounds runs only while they do, not while outputs are checked."""
        self.cold_root = os.path.join(self.work, "root")
        out = {}
        cold = self._build(self.base_dir, self.cold_root, "cold build")
        if cold:
            out["cold_s"], out["cold_reports"] = cold
            out["stored_bytes"] = dir_bytes(self.cold_root)
            self.phase_s["cold"] = out["cold_s"]
        if self.trace:
            # the traced build runs second in the JVM and the untraced one
            # third, so JIT warm-up counts against tracing, never for it
            self.tracer = self._install_tracer()
            self.tracer.run_id = "cold"
            traced = self._build(self.base_dir, os.path.join(self.work, "root_traced"), "traced cold build")
            self.tracer.restore()
            untraced = self._build(self.base_dir, os.path.join(self.work, "root_untraced"), "untraced build")
            if traced and untraced:
                out["traced_cold_s"], out["traced_cold_reports"] = traced
                out["untraced_cold_s"] = untraced[0]
        measured_s = out.get("cold_s", 0.0)
        refreshes = []
        if self.trace:
            self.tracer.reinstall()
            self.tracer.run_id = "refresh"
        while cold and (not refreshes or (not self.trace and measured_s < self.seconds)):
            # each refresh lands the late batch on its own copy of the
            # cold root, which the gate still checks as built
            if self.root:
                shutil.rmtree(self.root, ignore_errors=True)
            self.root = os.path.join(self.work, f"root_refresh{len(refreshes)}")
            shutil.copytree(self.cold_root, self.root)
            refresh = self._build(self.late_dir, self.root, f"refresh#{len(refreshes)}")
            if not refresh:
                break
            refreshes.append(refresh)
            measured_s += refresh[0]
        if refreshes:
            out["refresh_s"] = statistics.median(s for s, _ in refreshes)
            out["first_refresh_s"], out["refresh_reports"] = refreshes[0]
            self.phase_s.update({f"refresh{i}": s for i, (s, _) in enumerate(refreshes)})
        self.n_refreshes = len(refreshes)
        if self.trace:
            self.tracer.run_id = "noop"
            noop = self._build(self.late_dir, self.root, "no-op resume")
            if noop:
                out["noop_s"] = noop[0]
        serving = Serving(self.spark, self.root or self.cold_root)
        t_reads = time.perf_counter()
        # traced runs read four times per kind for per-kind medians
        plan = gen.read_plan(self.tr, self.seed, self.urls, gen.EPOCH0, gen.EPOCH0 + self.tr.days * 86400)
        for _ in range(4 if self.trace else 1):
            for r in next(plan):
                r = dict(r, i=len(self.reads))
                if self.trace:
                    self.tracer.run_id = f"read{r['i']}"

                def go(r=r):
                    t = time.perf_counter()
                    with self.tracer.span(f"read.{r['kind']}", group="read") if self.trace else nullcontext():
                        rows = serving.read(r)
                    return time.perf_counter() - t, rows

                res = self._op(f"read.{r['kind']}#{r['i']}", go)
                if res:
                    r["s"], r["rows"] = res
                    self.reads.append(r)
        self.phase_s["reads"] = time.perf_counter() - t_reads
        out["peak_rss_mb"] = jvm_peak_rss_mb(self.spark)
        if self.trace:
            self.tracer.restore()
        return out

    # ------------------------------------------------------------- gate
    def check_root(self, root: str, tag: str) -> None:
        try:
            bad = reference.check_root(self.con, tag, root, reference.program_outputs(self.spark, root))
        except Exception as e:  # a CRC mismatch or unreadable output
            bad = [f"{os.path.basename(root)}: {error_line(e)}"]
        self._mismatch(bad)

    def gate(self) -> None:
        """Check the cold root against the reference of the base pages,
        the refreshed root and every read against that of base plus late
        pages; each mismatch is one failed operation."""
        t = time.perf_counter()
        base = os.path.join(self.base_dir, "part-0.parquet")
        reference.build(self.con, "base", [base])
        self.check_root(self.cold_root, "base")
        if self.trace:
            self.check_root(os.path.join(self.work, "root_traced"), "base")
        self.phase_s["check_cold"] = time.perf_counter() - t
        t = time.perf_counter()
        reference.build(self.con, "late", [base, os.path.join(self.late_dir, "part-1.parquet")])
        if self.root:
            self.check_root(self.root, "late")
        for r in self.reads:
            self._mismatch(reference.check_read(self.con, "late", r, r["rows"]))
        self.con.close()
        self.phase_s["check_refresh"] = time.perf_counter() - t

    def _mismatch(self, bad: list[str]) -> None:
        if bad:
            self.failed += 1
            self.errors.extend(bad)

    # ------------------------------------------------------------ trace
    def _install_tracer(self):
        from spartan2_spark.operators import gapfill, gorilla, grouped, manifest, partitioning, rollup
        from spartan2_spark.plans import pipeline
        from spans import Tracer

        tr = Tracer(self.spark)
        tr.wrap(pipeline, "run_pipeline", "pipeline", group="pipeline")
        tr.wrap(pipeline, "_run_stage", "pipeline", group=lambda a, k: "stage/" + (a[2] if len(a) > 2 else k["stage"]))
        for fn in ("canonical_text", "raw_points", "rollup_from_points", "rollup_tier_up", "tier_view"):
            tr.wrap(rollup, fn, "rollup", group="construct/rollup")
        for fn in ("with_domain", "domain_salt_map", "salted_repartition"):
            tr.wrap(partitioning, fn, "partitioning", group="construct/partitioning")
        for fn in ("densify_fill", "gap_descriptors", "fill_from_descriptors"):
            tr.wrap(gapfill, fn, "gapfill", group="construct/gapfill")
        for fn in ("encode_tier_blocks", "decode_blocks", "read_points"):
            tr.wrap(gorilla, fn, "gorilla", group="construct/gorilla")
        tr.wrap(grouped, "batched_group_apply", "grouped", group="construct/grouped")
        for fn in ("partition_lineage", "partition_sizes", "completed_partitions", "write_partition_entries"):
            tr.wrap(manifest, fn, "manifest")
        return tr

    def layer_metrics(self, m: dict) -> dict:
        """Per-layer metrics of a traced run, named by module."""
        t = time.perf_counter()
        tr = self.tracer
        tr.drain()
        out = {}
        cold = {r["stage"]: r for r in m.get("traced_cold_reports", [])}
        for st in STAGES:
            r = cold.get(st, {})
            out[f"pipeline.{st}.wall_s"] = (r.get("wall_sec", 0.0), "s")
            out[f"pipeline.{st}.rows"] = (r.get("rows_written", 0), "count")
            out[f"pipeline.{st}.bytes"] = (r.get("bytes_written", 0), "B")
            out[f"pipeline.{st}.skipped_partitions"] = (r.get("skipped_partitions", 0), "count")
        out["pipeline.unattributed_s"] = (
            m.get("traced_cold_s", 0.0) - sum(r.get("wall_sec", 0.0) for r in cold.values()), "s")
        out["refresh.wall_s"] = (m.get("refresh_s", 0.0), "s")
        ref = {r["stage"]: r for r in m.get("refresh_reports", [])}
        for st in STAGES:
            out[f"refresh.{st}.wall_s"] = (ref.get(st, {}).get("wall_sec", 0.0), "s")
            out[f"refresh.{st}.rows"] = (ref.get(st, {}).get("rows_written", 0), "count")
        out["refresh.unattributed_s"] = (
            m.get("first_refresh_s", 0.0) - sum(r.get("wall_sec", 0.0) for r in ref.values()), "s")

        tr.run_id = "cold"
        for st in STAGES:
            sm = tr.stage_metrics(f"stage/{st}")
            for k, unit in (("task_s", "s"), ("shuffle_write_bytes", "B"), ("spill_bytes", "B"),
                            ("gc_s", "s"), ("jobs", "count"), ("task_skew", "ratio")):
                out[f"spark.{st}.{k}"] = (sm[k], unit)
        sm = tr.stage_metrics("pipeline")
        out["spark.unattributed.task_s"] = (sm["task_s"], "s")
        out["spark.unattributed.jobs"] = (sm["jobs"], "count")
        py = {"data sent to Python workers": 0.0, "data returned from Python workers": 0.0,
              "time to run Python workers": 0.0}
        for name, vals, _ in tr.sql_nodes("stage/blocks_1h"):
            if name == "MapInPandas":
                for k in py:
                    py[k] += vals.get(k, 0.0)
        out["spark.blocks_1h.python_bytes_in"] = (py["data sent to Python workers"], "B")
        out["spark.blocks_1h.python_bytes_out"] = (py["data returned from Python workers"], "B")
        out["spark.blocks_1h.python_s"] = (py["time to run Python workers"], "s")
        for layer in ("rollup", "partitioning"):
            out[f"{layer}.construct_s"] = (tr.totals(layer, "cold")[1], "s")
            out[f"{layer}.construct_jobs"] = (len(tr.job_ids(f"construct/{layer}")), "count")

        con = reference.connect()
        root_c = os.path.join(self.work, "root_traced")
        view_rows = con.execute(f"SELECT count(*) FROM (SELECT DISTINCT url, bucket_ts FROM {reference.scan(root_c, 't1h')})").fetchone()[0]
        out["gapfill.densify_ratio"] = (cold.get("gapfill_1h", {}).get("rows_written", 0) / max(view_rows, 1), "ratio")
        blocks, pts, nbytes = con.execute(
            f"SELECT count(*), sum(n_points), sum(octet_length(ts_block) + octet_length(val_block)) FROM {reference.scan(root_c, 'blocks_1h')}"
        ).fetchone()
        con.close()
        out["gorilla.blocks"] = (blocks, "count")
        out["gorilla.bits_per_point"] = (8.0 * nbytes / max(pts, 1), "bit/point")

        for fn in ("partition_lineage", "partition_sizes", "completed_partitions", "write_partition_entries"):
            calls, secs = tr.totals(f"manifest.{fn}", "refresh")
            out[f"manifest.{fn}.calls"] = (calls, "count")
            out[f"manifest.{fn}.s"] = (secs, "s")
        out["manifest.noop_resume_s"] = (m.get("noop_s", 0.0), "s")

        dec = {"blocks": 0.0, "points": 0.0, "returned": 0.0}
        per_kind = {k: {"ms": [], "bytes": [], "files": []} for k in READ_KINDS}
        for r in self.reads:
            tr.run_id = f"read{r['i']}"
            nodes = tr.sql_nodes("read")
            scans = [v for n, v, _ in nodes if n.startswith("Scan")]
            k = per_kind[r["kind"]]
            k["ms"].append(r["s"] * 1e3)
            k["bytes"].append(sum(v.get("size of files read", 0.0) for v in scans))
            k["files"].append(sum(v.get("number of files read", 0.0) for v in scans))
            if r["kind"] == "points":
                for n, v, child in nodes:
                    if n == "MapInPandas":
                        dec["blocks"] += child.get("number of output rows", 0.0)
                        dec["points"] += v.get("number of output rows", 0.0)
                dec["returned"] += r["rows"].num_rows
        for kind, k in per_kind.items():
            out[f"read.{kind}.p50_ms"] = (statistics.median(k["ms"]) if k["ms"] else 0.0, "ms")
            out[f"read.{kind}.input_bytes"] = (statistics.median(k["bytes"]) if k["bytes"] else 0.0, "B")
            out[f"read.{kind}.files_read"] = (statistics.median(k["files"]) if k["files"] else 0.0, "count")
        out["gorilla.read_points.blocks_decoded"] = (dec["blocks"], "count")
        out["gorilla.read_points.points_decoded"] = (dec["points"], "count")
        out["gorilla.read_points.points_returned"] = (dec["returned"], "count")
        out["gorilla.read_points.useful_ratio"] = (dec["returned"] / max(dec["points"], 1.0), "ratio")

        over = m.get("traced_cold_s", 0.0) - m.get("untraced_cold_s", 0.0)
        out["trace.overhead_s"] = (over, "s")
        out["trace.overhead_share"] = (over / m["untraced_cold_s"] if m.get("untraced_cold_s") else 0.0, "ratio")
        self.phase_s["harvest"] = time.perf_counter() - t
        return out

    # ----------------------------------------------------------- report
    def end_to_end(self, setup_s: float, m: dict) -> dict:
        return {
            "setup_s": (setup_s, "s"),
            "points_per_s": (self.n_points / m["cold_s"] if m.get("cold_s") else 0.0, "points/s"),
            "stored_bytes_per_point": (m.get("stored_bytes", 0) / self.n_points, "B/point"),
            "peak_rss_mb": (m.get("peak_rss_mb", 0.0), "MiB"),
        }

    def dump_spans(self, extra: dict) -> str | None:
        if not self.trace:
            return None
        os.makedirs(self.spans_dir, exist_ok=True)
        path = os.path.join(self.spans_dir, f"spans_{self.name}_{self.seed}.json")
        self.tracer.dump(path, extra)
        return path
