"""Correctness gates and funnel arithmetic, as pure functions.

Texts are compared as SHA-256 hex digests of their UTF-8 bytes (Spark's
``sha2(text, 256)`` on one side, :func:`text_sha` on the other), so
equal digests mean byte-identical text without moving whole pages to the
driver.
"""

from __future__ import annotations

import hashlib
from collections import Counter
from dataclasses import dataclass
from typing import Iterable, Mapping

# The eight driver-side stage marks run_crawl records per wave in
# lineage[i]["t_ms"]; a stage a wave skipped counts 0.
CRAWL_STAGES = (
    "frontier_check",
    "fetch_extract_write",
    "wave_counts",
    "seen_checkpoint",
    "next_frontier_plan",
    "next_frontier_prune_plan",
    "next_frontier",
    "frontier_write_bg",
)


def text_sha(text: str) -> str:
    return hashlib.sha256(text.encode("utf-8")).hexdigest()


@dataclass(frozen=True)
class TextCheck:
    expected: int      # urls that must come out
    delivered: int     # output rows carrying text
    missing: int       # expected urls absent, or present without text
    mismatched: int    # expected urls whose text differs
    extra: int         # output urls that were not expected
    duplicate: int     # output rows beyond the first for a url

    @property
    def failed(self) -> int:
        return self.missing + self.mismatched + self.extra + self.duplicate


def compare_texts(
    expected: Mapping[str, str], got: Iterable[tuple[str, str | None]]
) -> TextCheck:
    """Check output ``(url, text digest or None)`` rows against
    ``expected`` url → text digest: exactly one record per expected url,
    its text byte-identical, and nothing else."""
    rows = list(got)
    counts = Counter(url for url, _ in rows)
    first: dict[str, str | None] = {}
    for url, sha in rows:
        first.setdefault(url, sha)
    missing = mismatched = 0
    for url, sha in expected.items():
        if first.get(url) is None:
            missing += 1
        elif first[url] != sha:
            mismatched += 1
    return TextCheck(
        expected=len(expected),
        delivered=sum(1 for _, sha in rows if sha is not None),
        missing=missing,
        mismatched=mismatched,
        extra=sum(1 for url in counts if url not in expected),
        duplicate=sum(n - 1 for n in counts.values()),
    )


def lineage_violations(lineage: list[dict]) -> list[str]:
    """Waves whose funnel does not add up: every frontier row is robots
    blocked, dropped as seen, or attempted; every attempt is fetched or
    missed."""
    bad = []
    for w in lineage:
        if w["frontier_size"] != (
            w["robots_blocked"] + w["dedup_dropped"] + w["attempted"]
        ):
            bad.append(f"wave {w['wave']}: frontier != blocked+dropped+attempted")
        if w["attempted"] != w["fetched"] + w["missed"]:
            bad.append(f"wave {w['wave']}: attempted != fetched+missed")
    return bad


def funnel_metrics(lineage: list[dict], reachable: int) -> dict[str, float]:
    """Funnel counts summed over waves, plus the seen urls the crawl
    pruned when it discovered them.

    Lineage reports ``dedup_dropped`` only for urls that reached a wave;
    a url already seen is pruned before it enters the frontier, so that
    drop is the part of the ``reachable`` site that never entered one.
    """
    tot = {
        k: sum(w[k] for w in lineage)
        for k in (
            "frontier_size", "robots_blocked", "dedup_dropped",
            "attempted", "fetched", "missed",
        )
    }
    return {
        "funnel.frontier_rows": tot["frontier_size"],
        "funnel.robots_blocked": tot["robots_blocked"],
        "funnel.dedup_dropped": tot["dedup_dropped"],
        "funnel.attempted": tot["attempted"],
        "funnel.fetched": tot["fetched"],
        "funnel.missed": tot["missed"],
        "funnel.fetched_per_attempted": (
            tot["fetched"] / tot["attempted"] if tot["attempted"] else 0.0
        ),
        "funnel.pruned_at_discovery": reachable - tot["frontier_size"],
    }


def stage_ms(lineage: list[dict]) -> dict[str, float]:
    """``crawl.t.<stage>_ms`` summed over waves."""
    return {
        f"crawl.t.{s}_ms": sum(w["t_ms"].get(s, 0) for w in lineage)
        for s in CRAWL_STAGES
    }


def digest_problem(
    recorded: Mapping[str, str] | None, got: Mapping[str, str]
) -> str | None:
    """Why the generated inputs differ from the digests recorded for this
    seed, or None when they match."""
    if recorded is None:
        return "no digest recorded for this seed"
    if dict(recorded) != dict(got):
        return f"input digest {dict(got)} != recorded {dict(recorded)}"
    return None
