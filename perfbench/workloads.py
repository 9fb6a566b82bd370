"""The benchmark's workloads: input shape, read mix and why each exists.

Both workloads run the same measured phases (a cold build, a late-data
refresh, a serving read mix) on a different crawl shape. The shapes
differ in per-point work and storage: how far gap-fill densifies and
how many points a build holds. At the sizes a run's time budget allows,
wall time on both is mostly per-job cost, not per-point work.
"""

from __future__ import annotations

from gen import Traffic

READ_MIX = {"series": 1.0, "tier": 1.0, "points": 1.0}

# What each workload shows, from traced and untraced runs on a 4-core
# host. At these sizes each stage's wall time is mostly per-job and
# per-partition cost. The stages take the same shares of a build on
# both workloads: gapfill_1h about a fifth of a cold build and a third
# of a refresh, even at ~1.2x densification. So wall-time metrics do
# not tell gap-fill or codec work from rollup work here; the workloads
# differ in per-point work and storage.
WHY_SPARSE = (
    "many urls, ~3 crawls each in 7 days: gap-fill densifies ~24x and gapfill_1h plus blocks_1h hold "
    "~2/3 of stored bytes; wall time is mostly per-job cost, as on crawl_dense"
)
WHY_DENSE = (
    "16 urls crawled ~4 times an hour, head domain salted: gap-fill ~1.2x; 4x the points of "
    "crawl_sparse at a tenth of the bytes per point, for the same per-job cost"
)


# Where each traffic dimension comes from. "synth_pages" is the repo's
# own generator (``spartan2_spark.datagen.synth_pages``), on which the
# rollup's original sizing runs were made; "assumed" has no source.
#
# - rows, crawls_per_url, days: assumed, scaled down to fit the time
#   budget. synth_pages draws 8 crawls per url over 30 days (one every
#   90 h, gap-fill ~66x); 30 daily partitions per table and the
#   hundreds of thousands of points behind that ratio take minutes to
#   build on a 4-core host, and a run here must build and refresh in
#   about a minute. crawl_sparse keeps one crawl every 56 h (~24x).
# - n_domains: assumed; many hosts, as in a web crawl (synth_pages
#   would give n_urls / 64 = 10 here, which would salt like crawl_dense).
# - domain_skew: synth_pages draws domain k with P ~ 1/k (1.0);
#   crawl_dense's 2.0 over 4 domains is assumed, to put most rows (70%
#   expected) on one domain so salting engages.
# - url_skew: assumed uniform crawling (synth_pages uses u**2.2).
# - gap_share 1/7, revision_share 0.2: synth_pages (``gap_mod=7``, a
#   1-in-5 revision variant).
# - tie_share: assumed; synth_pages has no same-second re-fetches, and
#   these exercise canonical text's sha256 tie-break.
# - late_share 0.5% in 3 completed dates, 20 urls per read, the three
#   read kinds in equal shares: the refresh-and-serve sizing this
#   benchmark was specified with.
#   range_days is cut from 7 days to fit the shorter windows.
# - popularity_skew 1.1: assumed Zipf read popularity.
WORKLOADS = {
    # Common-Crawl shape: many urls, ~3 crawls each over 7 days, 1 in 7
    # (url, hour) cells dropped; gap-fill densifies the 1h tier ~24x.
    "crawl_sparse": (
        Traffic(
            rows=2_000,
            crawls_per_url=3.0,
            days=7,
            n_domains=300,
            domain_skew=1.0,
            url_skew=1.0,
            gap_share=1 / 7,
            revision_share=0.2,
            tie_share=0.01,
            late_share=0.005,
            late_dates=3,
            read_mix=READ_MIX,
            range_days=3,
        ),
        WHY_SPARSE,
    ),
    # few urls crawled ~4 times an hour under one heavy head domain:
    # the 1h tier is already dense (gap-fill ~1.2x) and salting engages.
    "crawl_dense": (
        Traffic(
            rows=7_680,
            crawls_per_url=480.0,
            days=5,
            n_domains=4,
            domain_skew=2.0,
            url_skew=1.0,
            gap_share=1 / 7,
            revision_share=0.2,
            tie_share=0.01,
            late_share=0.005,
            late_dates=3,
            read_mix=READ_MIX,
            range_days=2,
        ),
        WHY_DENSE,
    ),
}


def salt_target(tr: Traffic) -> int:
    """``run_pipeline``'s rows-per-salt target: a domain carrying more
    than an eighth of the input is spread over several salts, the share
    at which one domain would hold back a 4-8 task stage."""
    return max(tr.rows // 8, 1)
