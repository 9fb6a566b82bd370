"""Independent DuckDB reference and the correctness gate.

The reference is computed from the same pages parquet the program
reads, with plain SQL over the raw crawl rows: nothing of the
program's long-format state, bins or window plans is reused. The gate
runs outside every timed window and compares, exactly:

- tier views of t1h and t1d: count, min, max, mean and p95, where the
  program's int-bin p95 must equal ``quantile_disc``;
- canonical text per url (latest ``warc_ts`` wins, ties broken by the
  greatest sha256 of the text), byte for byte, with its digest;
- the gap-filled 1h series, real and interpolated rows;
- ``decode_blocks(blocks_1h)`` (which verifies every block's CRC)
  against the dense series;
- every serving read's rows.
"""

from __future__ import annotations

import os

import duckdb
import pyarrow as pa

_TIER_COLS = "url, b, cnt, vmin, vmax, vmean, p95"


def connect() -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.execute("SET threads TO 2")
    return con


def build(con: duckdb.DuckDBPyConnection, tag: str, pages: list[str]) -> None:
    """Reference tables ``<tag>_canon``, ``<tag>_t1h``, ``<tag>_t1d`` and
    ``<tag>_dense`` (the gap-filled 1h series) for the given files."""
    files = ", ".join(f"'{p}'" for p in pages)
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {tag}_raw AS
        SELECT url, epoch_us(warc_ts) // 1000000 AS ts, length(text)::DOUBLE AS v, text
        FROM read_parquet([{files}])"""
    )
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {tag}_canon AS
        SELECT url, text AS canonical_text, sha256(text) AS text_sha256 FROM (
          SELECT url, text, row_number() OVER (
            PARTITION BY url ORDER BY ts DESC, sha256(text) DESC) AS rn
          FROM {tag}_raw) WHERE rn = 1"""
    )
    for tier, width in (("t1h", 3600), ("t1d", 86400)):
        con.execute(
            f"""CREATE OR REPLACE TEMP TABLE {tag}_{tier} AS
            SELECT url, ts // {width} * {width} AS b, count(*) AS cnt,
                   min(v) AS vmin, max(v) AS vmax, sum(v) / count(*) AS vmean,
                   quantile_disc(v, 0.95) AS p95
            FROM {tag}_raw GROUP BY url, b"""
        )
    # linear interpolation between consecutive real hours, written as
    # the textbook formula over epoch seconds
    con.execute(
        f"""CREATE OR REPLACE TEMP TABLE {tag}_dense AS
        WITH nx AS (
          SELECT url, b, vmean, lead(b) OVER w AS nb, lead(vmean) OVER w AS nv
          FROM {tag}_t1h WINDOW w AS (PARTITION BY url ORDER BY b)),
        gaps AS (
          SELECT url, b AS pb, vmean AS pv, nb, nv,
                 unnest(range(b + 3600, nb, 3600)) AS g
          FROM nx WHERE nb > b + 3600)
        SELECT url, b, cnt, vmean, false AS is_gap FROM {tag}_t1h
        UNION ALL
        SELECT url, g AS b, NULL::BIGINT AS cnt,
               pv + (nv - pv) * (g::DOUBLE - pb::DOUBLE) / (nb::DOUBLE - pb::DOUBLE) AS vmean,
               true AS is_gap
        FROM gaps"""
    )


def _diff(con, label: str, got: str, want: str) -> list[str]:
    extra = con.execute(f"SELECT count(*) FROM (({got}) EXCEPT ALL ({want}))").fetchone()[0]
    missing = con.execute(f"SELECT count(*) FROM (({want}) EXCEPT ALL ({got}))").fetchone()[0]
    if extra or missing:
        return [f"{label}: {extra} rows not in reference, {missing} reference rows missing"]
    return []


def scan(root: str, table: str) -> str:
    """DuckDB scan of one of the pipeline's dt-partitioned tables."""
    return f"read_parquet('{root}/{table}/**/*.parquet', hive_partitioning = false)"


def _ts(col: str) -> str:
    return f"epoch_us({col}) // 1000000"


def program_outputs(spark, root: str) -> dict[str, pa.Table]:
    """The program's reader-facing outputs that need Spark: tier views
    of t1h/t1d and the CRC-checked decode of blocks_1h."""
    from spartan2_spark.operators import gorilla as GO
    from spartan2_spark.operators import rollup as R

    out = {
        tier: R.tier_view(spark.read.parquet(os.path.join(root, tier)).drop("dt")).toArrow()
        for tier in ("t1h", "t1d")
    }
    blocks = spark.read.parquet(os.path.join(root, "blocks_1h"))
    out["decoded"] = GO.decode_blocks(blocks, value_col="vmean").toArrow()
    return out


def check_root(con, tag: str, root: str, outputs: dict[str, pa.Table]) -> list[str]:
    """Mismatches between one pipeline output root (stored tables plus
    ``program_outputs``) and reference ``tag``."""
    for name, tbl in outputs.items():
        con.register(f"out_{name}", tbl)
    try:
        bad = _diff(
            con, f"{tag}.canonical",
            f"SELECT url, canonical_text, text_sha256 FROM {scan(root, 'canonical')}",
            f"SELECT url, canonical_text, text_sha256 FROM {tag}_canon",
        )
        for tier in ("t1h", "t1d"):
            bad += _diff(
                con, f"{tag}.{tier}",
                f"SELECT url, {_ts('bucket_ts')} AS b, cnt, vmin, vmax, vmean, p95 FROM out_{tier}",
                f"SELECT {_TIER_COLS} FROM {tag}_{tier}",
            )
        bad += _diff(
            con, f"{tag}.gapfill_1h",
            f"SELECT url, {_ts('bucket_ts')} AS b, cnt, vmean, is_gap FROM {scan(root, 'gapfill_1h')}",
            f"SELECT url, b, cnt, vmean, is_gap FROM {tag}_dense",
        )
        bad += _diff(
            con, f"{tag}.blocks_1h",
            "SELECT url, tier, ts AS b, vmean FROM out_decoded",
            f"SELECT url, '1h' AS tier, b, vmean FROM {tag}_dense",
        )
        return bad
    finally:
        for name in outputs:
            con.unregister(f"out_{name}")


def check_read(con, tag: str, read: dict, rows: pa.Table) -> list[str]:
    """Mismatches between one serving read's rows and the reference."""
    con.register("got", rows)
    try:
        urls = ", ".join("'" + u.replace("'", "''") + "'" for u in read["urls"])
        span = f"b BETWEEN {read['t0']} AND {read['t1']}"
        label = f"read.{read['kind']}#{read['i']}"
        if read["kind"] == "series":
            return _diff(
                con, label,
                f"SELECT url, {_ts('bucket_ts')} AS b, vmean FROM got",
                f"SELECT url, b, vmean FROM {tag}_dense WHERE url IN ({urls}) AND {span}",
            )
        if read["kind"] == "tier":
            return _diff(
                con, label,
                f"SELECT url, {_ts('bucket_ts')} AS b, cnt, vmin, vmax, vmean, p95 FROM got",
                f"SELECT {_TIER_COLS} FROM {tag}_t1d WHERE url IN ({urls})",
            )
        return _diff(
            con, label,
            "SELECT url, ts AS b, vmean FROM got",
            f"SELECT url, b, vmean FROM {tag}_dense WHERE url IN ({urls}) AND {span}",
        )
    finally:
        con.unregister("got")
