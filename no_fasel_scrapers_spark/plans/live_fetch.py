"""Live HTTP fetch adapter — the online stand-in for the offline fetch join.

The engine is deterministic and offline: ``plans/crawl.py`` "fetches" by
joining the frontier against the pages table.  This module is the isolated
adapter that replaces that join when crawling a live site, keeping every
other stage (frontier, robots, seen filter, politeness schedule, extract)
byte-identical.

Reference semantics reproduced / deliberately changed:

- Cookie/anti-bot gate (``Common.py:85-104``, O1): the reference launches
  Chrome *inside worker threads* under a lock (``Common.py:115-122``).
  Here auth state is driver-owned: fetch a token dict once per wave on the
  driver, ship it via ``spark.sparkContext.broadcast`` — executors never
  mutate shared auth state, so there is no cross-task lock.
- Retry-until-success (``Common.py:107-138``, O2; ``Common.py:288-299``,
  O3): the reference retries forever; at 10^10-URL scale one dead URL would
  stall a partition forever, so retries are **budgeted** and failures become
  dead-letter rows (status column) instead of hangs.  Documented divergence
  (SURVEY.md §4 "infinite retry loops").
- Politeness: the scheduled wave carries ``scheduled_ms`` (token bucket,
  operators/politeness.py); the batch fetcher sleeps to honor each row's
  offset within its host shard.  Offline runs set ``honor_schedule=False``
  and never sleep.

The HTTP transport is injectable (any ``(url, headers) -> (status, bytes)``
callable); the default uses ``requests`` behind an import-try, so the
module imports fine in this sandbox (no network, no requests) and the full
distributed path is tested with a deterministic fake transport.
"""

from __future__ import annotations

import time
from dataclasses import dataclass
from typing import Callable, Iterable, Iterator, Optional, Tuple

import pandas as pd
from pyspark.sql import DataFrame

Transport = Callable[[str, dict], Tuple[int, Optional[bytes]]]

FETCH_RESULT_DDL = (
    "url string, status int, attempts int, html binary, fetched_offset_ms long"
)


@dataclass
class FetchConfig:
    max_retries: int = 3
    backoff_ms: int = 250          # doubled per retry
    timeout_s: float = 20.0
    user_agent: str = "nfs-spark-crawler/1.0"
    honor_schedule: bool = True    # sleep to scheduled_ms offsets
    max_sleep_s: float = 30.0      # cap a single politeness sleep


def requests_transport(cfg: FetchConfig) -> Transport:
    """Default transport — requires the ``requests`` package (live mode)."""
    try:
        import requests
    except ImportError as e:  # pragma: no cover - sandbox has no requests
        raise NotImplementedError(
            "live fetching needs the 'requests' package; inject a transport "
            "or run the offline engine (pages-table join)"
        ) from e

    def _get(url: str, headers: dict) -> Tuple[int, Optional[bytes]]:
        r = requests.get(url, headers=headers, timeout=cfg.timeout_s)
        return r.status_code, r.content

    return _get


def fetch_batch(
    pdf: pd.DataFrame,
    transport: Transport,
    cfg: FetchConfig,
    headers: dict,
    clock=time.monotonic,
    sleep=time.sleep,
) -> pd.DataFrame:
    """Fetch one Arrow batch in schedule order with bounded retries."""
    rows = []
    t0 = clock()
    order = (
        pdf.sort_values("scheduled_ms")
        if "scheduled_ms" in pdf.columns
        else pdf
    )
    for rec in order.to_dict("records"):
        if cfg.honor_schedule and "scheduled_ms" in rec:
            lag = rec["scheduled_ms"] / 1000.0 - (clock() - t0)
            if lag > 0:
                sleep(min(lag, cfg.max_sleep_s))
        status, body, attempts = -1, None, 0
        backoff = cfg.backoff_ms / 1000.0
        while attempts <= cfg.max_retries:
            attempts += 1
            try:
                status, body = transport(rec["url"], headers)
            except Exception:
                status, body = -1, None
            if status == 200 and body is not None:
                break
            if attempts <= cfg.max_retries:
                sleep(backoff)
                backoff *= 2
        rows.append(
            {
                "url": rec["url"],
                "status": status,
                "attempts": attempts,
                "html": body if status == 200 else None,
                "fetched_offset_ms": int((clock() - t0) * 1000),
            }
        )
    return pd.DataFrame(
        rows,
        columns=["url", "status", "attempts", "html", "fetched_offset_ms"],
    )


def live_fetch_stage(
    scheduled: DataFrame,
    cfg: FetchConfig | None = None,
    transport: Transport | None = None,
    auth_broadcast=None,
) -> DataFrame:
    """Scheduled wave → fetched rows (url, status, attempts, html, ...).

    Call after ``scheduled.repartition("host", "host_salt")`` so each task
    owns whole host shards and the per-shard schedule is monotone.  ``auth_broadcast`` is a
    ``Broadcast[dict]`` of header/cookie state captured on the driver."""
    cfg = cfg or FetchConfig()

    def _run(batches: Iterable[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        t = transport or requests_transport(cfg)
        headers = {"User-Agent": cfg.user_agent}
        if auth_broadcast is not None:
            headers.update(auth_broadcast.value)
        for pdf in batches:
            yield fetch_batch(pdf, t, cfg, headers)

    return scheduled.mapInPandas(_run, schema=FETCH_RESULT_DDL)
