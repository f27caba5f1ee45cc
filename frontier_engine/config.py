"""Engine configuration (the reference's settings surface, SURVEY §2.3/§2.7).

Defaults mirror ``/root/reference/deepbnb/settings.py.dist``:

* ``download_delay_s = 10``  (settings.py.dist:57)
* ``concurrent_per_host = 10``  (settings.py.dist:59)
* ``minimum_photos = 2``  (settings.py.dist:142)
* ``property_type_blacklist``  (settings.py.dist:159)
* ``robots_obey = True``  (settings.py.dist:45)

The reference's AutoThrottle (start 5 s / max 60 s,
settings.py.dist:163-169) has no field here: its clamp lives in
``streaming.windowed_fetch_metrics``, which derives each host's next
delay from windowed fetch latencies.

``strict_parity`` keeps the reference's observable quirks (the F4
weekly-discount bug comparing against the *monthly* threshold,
pipelines.py:76; the bytes-repr regex matching, pipelines.py:88,98).
"""

from __future__ import annotations

from dataclasses import dataclass


@dataclass(frozen=True)
class EngineConfig:
    # politeness (settings.py.dist:57-59)
    download_delay_s: float = 10.0
    concurrent_per_host: int = 10
    round_seconds: float = 100.0  # wall-clock budget one scheduling round models
    robots_obey: bool = True
    # crawler identity for robots UA-group selection (settings.py.dist:42's
    # USER_AGENT slot; Protego matches group tokens as substrings of this)
    user_agent: str = "frontier-engine (https://frontier-engine)"

    # item pipeline (pipelines.py:62-109; settings.py.dist:134-159)
    minimum_monthly_discount: int | None = None
    minimum_weekly_discount: int | None = None
    minimum_photos: int = 2
    skip_list: tuple[str, ...] = ()
    cannot_have: str | None = None
    must_have: str | None = None
    property_type_blacklist: tuple[str, ...] = (
        "Camper/RV",
        "Campsite",
        "Entire guest suite",
    )
    strict_parity: bool = True

    # F9 room-type filter (settings.py.dist:157; inert in the reference —
    # the roomTypes param is commented out, ExploreSearch.py:181 — shipped
    # here as the optional isin filter the setting promises)
    room_types: tuple[str, ...] = ()
    # P20/A3 neighborhood extraction gate (airbnb.py:182-183)
    neighborhood_min_listings: int = 300

    # Crawl-trap guard (traps.py, r5 — beyond-reference, default OFF to
    # keep crawl-order parity with the reference): per-round admission
    # budget per (host, url-template) family, applied to the deduped
    # candidate set before the seen filter (discarded URLs never consume
    # discovered_seq or enter the seen set — re-discovered later they
    # compete again under that round's budget, IRLbot-style deferral)
    trap_cap: int | None = None

    # search (airbnb.py:23-27)
    currency: str = "USD"
    items_per_grid: int = 20
    reviews_page_limit: int = 50  # PdpPlatformSections.py:161

    # seen-set sharding (SURVEY §2.4 D1; sized for 10^10 keys at ~1024 shards)
    n_seen_shards: int = 64
    bloom_bits_per_shard: int = 1 << 20  # tests/local; 10^10-scale: ~1e8 bits/shard
    bloom_num_hashes: int = 7
    # exact-confirm table bucketing (seen_store; 10^10-scale: 4096 buckets)
    seen_exact_buckets: int = 64

    # scheduling
    salt_partitions: int = 8  # within-host salt fan-out for hot-host skew (X13)
    shuffle_partitions: int = 32

    def host_budget(self, crawl_delay_s: float | None = None, max_conc: int | None = None) -> int:
        """URLs one host may receive in one round.

        Models the reference's two-sided politeness contract — ≥delay
        between requests AND ≤concurrent_per_host in flight
        (settings.py.dist:57-59): floor(round/delay) requests fit in a
        round, clamped to the concurrency cap, minimum 1.
        """
        delay = crawl_delay_s if crawl_delay_s and crawl_delay_s > 0 else self.download_delay_s
        conc = max_conc if max_conc and max_conc > 0 else self.concurrent_per_host
        return max(1, min(int(self.round_seconds // delay), conc))


DEFAULT_CONFIG = EngineConfig()
