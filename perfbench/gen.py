"""Seeded Common-Crawl-style ``pages`` generator for the rollup benchmark.

The program under test receives only the parquet this module writes:
``(url string, warc_ts timestamp[UTC], html binary, text string, lang
string)``, the schema ``run_pipeline`` consumes. Everything derives from
``numpy.random.default_rng(seed)``, so one (traffic, seed) pair always
yields byte-identical inputs (``digest`` checks that), independent of
Spark. ``spartan2_spark.datagen.synth_pages`` cannot serve here: its hash
seeds are fixed, so every benchmark seed would see the same crawl.

Traffic dimensions (``Traffic``) are the properties the pipeline's cost
depends on: how many urls and how often each is crawled (which sets the
gap-fill densification factor), domain skew (which engages salting),
the share of dropped (url, hour) cells (gaps), revisions (canonical-text
work and value churn), and the late batch that lands in already
completed dates (resume and refresh).
"""

from __future__ import annotations

import hashlib
import os
from dataclasses import dataclass, field

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

EPOCH0 = 1_704_067_200  # 2024-01-01 00:00:00 UTC

_LOREM = (
    "lorem ipsum dolor sit amet consectetur adipiscing elit sed do eiusmod "
    "tempor incididunt ut labore et dolore magna aliqua ut enim ad minim "
    "veniam quis nostrud exercitation ullamco laboris nisi ut aliquip ex ea "
    "commodo consequat duis aute irure dolor in reprehenderit in voluptate "
    "velit esse cillum dolore eu fugiat nulla pariatur excepteur sint "
    "occaecat cupidatat non proident sunt in culpa qui officia deserunt "
    "mollit anim id est laborum "
) * 4
_LANGS = ("en", "de", "zh", "fr", "es", "ru", "ja", "pt")


@dataclass(frozen=True)
class Traffic:
    """One workload's input shape and serving read mix."""

    rows: int  # crawl rows drawn before (url, hour) gaps are dropped
    crawls_per_url: float  # mean crawls per url; n_urls = rows / this
    days: int  # crawl window length, from EPOCH0
    n_domains: int
    domain_skew: float  # Zipf exponent of a url's domain rank
    url_skew: float  # crawl concentration: url = floor(n * u**url_skew)
    gap_share: float  # share of (url, hour) cells dropped entirely
    revision_share: float  # share of crawls carrying a revised text
    tie_share: float  # share of crawls re-fetched at the same second
    late_share: float  # late batch size as a share of base rows
    late_dates: int  # completed dates the late batch lands in
    read_mix: dict = field(default_factory=dict)  # kind -> share of reads
    popularity_skew: float = 1.1  # Zipf exponent of read-url popularity
    range_days: int = 7  # time range of a series/points read
    urls_per_read: int = 20

    @property
    def n_urls(self) -> int:
        return max(int(round(self.rows / self.crawls_per_url)), 1)


def _mix64(x: np.ndarray) -> np.ndarray:
    """splitmix64 finalizer: a stateless hash for per-cell decisions."""
    x = x.astype(np.uint64, copy=True)
    with np.errstate(over="ignore"):
        x ^= x >> np.uint64(30)
        x *= np.uint64(0xBF58476D1CE4E5B9)
        x ^= x >> np.uint64(27)
        x *= np.uint64(0x94D049BB133111EB)
        x ^= x >> np.uint64(31)
    return x


def _zipf_ranks(rng: np.random.Generator, n: int, k: int, s: float) -> np.ndarray:
    """n draws of a rank in [0, k) with P(rank r) proportional to 1/(r+1)^s."""
    w = 1.0 / np.arange(1, k + 1, dtype=np.float64) ** s
    return np.searchsorted(np.cumsum(w) / w.sum(), rng.random(n), side="right").clip(0, k - 1)


def _url_table(tr: Traffic, seed: int) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """Per url: domain id, base text length and language index."""
    rng = np.random.default_rng([seed, 1])
    dom = _zipf_ranks(rng, tr.n_urls, tr.n_domains, tr.domain_skew)
    base_len = rng.integers(40, 400, tr.n_urls)
    lang = rng.integers(0, len(_LANGS), tr.n_urls)
    return dom, base_len, lang


def _crawls(tr: Traffic, seed: int, stream: int, n: int, t_lo: int, t_hi: int) -> dict:
    """n crawl rows (url id, epoch second, revision) before gap dropping."""
    rng = np.random.default_rng([seed, stream])
    url = np.floor(tr.n_urls * rng.random(n) ** tr.url_skew).astype(np.int64)
    ts = rng.integers(t_lo, t_hi, n)
    rev = np.where(rng.random(n) < tr.revision_share, rng.integers(1, 4, n), 0)
    # re-fetches at the same second with a different revision exercise
    # canonical text's sha256 tie-break
    tie = np.flatnonzero(rng.random(n) < tr.tie_share)
    url = np.concatenate([url, url[tie]])
    ts = np.concatenate([ts, ts[tie]])
    rev = np.concatenate([rev, (rev[tie] + 1) % 4])
    cell = url * 1_000_003 + (ts - EPOCH0) // 3600
    keep = (_mix64(cell ^ np.int64(seed)) % np.uint64(1_000_000)) >= np.uint64(
        int(tr.gap_share * 1_000_000)
    )
    return {"url": url[keep], "ts": ts[keep], "rev": rev[keep]}


def _to_table(tr: Traffic, seed: int, c: dict) -> pa.Table:
    dom, base_len, lang = _url_table(tr, seed)
    urls = [f"https://d{d}.example.com/p/{u}" for u, d in zip(c["url"].tolist(), dom[c["url"]].tolist())]
    lens = (base_len[c["url"]] + 37 * c["rev"]).tolist()
    texts = [
        f"url {u} :: {_LOREM[:n]}" + (f" [rev{r}]" if r else "")
        for u, n, r in zip(urls, lens, c["rev"].tolist())
    ]
    html = [f"<html><body>{t}</body></html>".encode() for t in texts]
    return pa.table(
        {
            "url": pa.array(urls, pa.string()),
            "warc_ts": pa.array(c["ts"] * 1_000_000, pa.timestamp("us", tz="UTC")),
            "html": pa.array(html, pa.binary()),
            "text": pa.array(texts, pa.string()),
            "lang": pa.array([_LANGS[i] for i in lang[c["url"]].tolist()], pa.string()),
        }
    )


def late_dates(tr: Traffic, seed: int) -> list[int]:
    """Day indexes (from EPOCH0) the late batch lands in: completed
    dates strictly inside the window, so gap-fill interpolation on both
    sides of them changes too."""
    rng = np.random.default_rng([seed, 3])
    return sorted(rng.choice(np.arange(1, tr.days - 1), tr.late_dates, replace=False).tolist())


def base_pages(tr: Traffic, seed: int) -> pa.Table:
    return _to_table(tr, seed, _crawls(tr, seed, 2, tr.rows, EPOCH0, EPOCH0 + tr.days * 86400))


def late_pages(tr: Traffic, seed: int) -> pa.Table:
    """Late crawls for urls already seen, inside ``late_dates``."""
    days = np.array(late_dates(tr, seed), dtype=np.int64)
    n = max(int(tr.rows * tr.late_share), len(days))
    c = _crawls(tr, seed, 4, n, 0, 86400)
    rng = np.random.default_rng([seed, 5])
    c["ts"] = c["ts"] + EPOCH0 + 86400 * days[rng.integers(0, len(days), len(c["ts"]))]
    return _to_table(tr, seed, c)


def read_plan(tr: Traffic, seed: int, urls: list[str], t_lo: int, t_hi: int):
    """Seeded serving reads, yielded in rounds. A round holds each kind
    in its ``read_mix`` proportion (shares relative to the smallest) in
    a seeded order, so any number of whole rounds has the same mix.
    Urls follow Zipf popularity over a seeded ranking of ``urls``; a
    read covers ``range_days`` aligned to the hour inside [t_lo, t_hi]."""
    rng = np.random.default_rng([seed, 6])
    low = min(tr.read_mix.values())
    kinds = [k for k in sorted(tr.read_mix) for _ in range(int(round(tr.read_mix[k] / low)))]
    order = rng.permutation(len(urls))
    span = tr.range_days * 86400
    hours = max((t_hi - t_lo - span) // 3600, 1)
    while True:
        plan = []
        for i in rng.permutation(len(kinds)).tolist():
            ranks = _zipf_ranks(rng, tr.urls_per_read, len(urls), tr.popularity_skew)
            start = t_lo + 3600 * int(rng.integers(0, hours))
            plan.append({
                "kind": kinds[i],
                "urls": sorted({urls[order[r]] for r in ranks.tolist()}),
                "t0": start,
                "t1": start + span - 1,
            })
        yield plan


def write(table: pa.Table, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(table, path, row_group_size=1 << 16)


def digest(table: pa.Table) -> str:
    """sha256 over the table's column buffers: same seed -> same digest."""
    h = hashlib.sha256()
    for col in table.columns:
        for chunk in col.chunks:
            for buf in chunk.buffers():
                if buf is not None:
                    h.update(buf)
    return h.hexdigest()
