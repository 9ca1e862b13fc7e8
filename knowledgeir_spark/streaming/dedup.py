"""Streaming canonical-URL dedup — the ingest front door as a stream.

A crawl feed re-fetches the same pages endlessly; dropping repeat URLs
*before* text extraction / shingling is the cheapest dedup pass there is.
This is the Structured Streaming analog of the batch
`functions/url.url_dedup` keep-list, built on the engine's normalization
spec (same canonical_url expression — no second definition to drift).

Two modes:

- ``watermark`` set (default "1 hour"): `dropDuplicatesWithinWatermark` on
  the canonical URL — state is EVICTED once the event-time watermark passes,
  so memory is bounded by the re-fetch horizon, not the crawl size.  A
  duplicate arriving later than the watermark re-emits; at 10^12-URL scale
  that is the right trade (global exactness is the batch url_dedup pass
  that follows compaction — same layering as the index's streaming
  deltas and their fold in index/compact.py).
- ``watermark=None``: exact `dropDuplicates` — unbounded state; only for
  bounded replays/backfills.

Emitted rows are the FIRST-SEEN row per canonical URL (append mode).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.url import canonical_url

__all__ = ["dedup_url_stream"]


def dedup_url_stream(
    pages: DataFrame,
    url_col: str = "url",
    ts_col: str = "warc_ts",
    watermark: str | None = "1 hour",
) -> DataFrame:
    """pages: streaming DataFrame with (url, warc_ts, ...).  Returns the
    input columns + `canonical`, one row per first-seen canonical URL."""
    canon = pages.withColumn("canonical", canonical_url(F.col(url_col)))
    if watermark is None:
        return canon.dropDuplicates(["canonical"])
    return canon.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        ["canonical"]
    )
