"""REST market-data connector (reference src/coingecko.py), distributed.

The reference fetches serially on one process: markets snapshot in ≤250-id
chunks (src/coingecko.py:42-62) and one market_chart call per asset
(src/coingecko.py:70-90), with tenacity exponential backoff on HTTP 429
(src/coingecko.py:36-41). Spark-first redesign:

- the asset universe is a DataFrame partitioned into id-slices;
- fetching happens INSIDE executor tasks via ``mapInPandas`` /
  ``mapInArrow`` (Arrow-batched, one HTTP session per partition,
  per-partition pacing — Spark task retries are too coarse for rate
  limits, so the retry loop lives in the UDF);
- the transport is injectable (``fetcher``): tests and offline runs pass a
  fake; production passes ``http_fetcher`` (urllib, stdlib-only).

Each chart is fetched and normalized once, inside the fetch task:
``chart_points`` turns the response's three parallel ``[[epoch_ms, value],
...]`` arrays into price rows by probing ms-keyed market_cap / volume dicts
(reference src/etl.py:36-43). It is the only place a chart body becomes
rows; the ``coingecko`` data source (sources/datasource.py) calls it too.
"""

from __future__ import annotations

import json
import time
from collections.abc import Callable, Iterator

import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

# fetcher(url) -> response body (str). Injectable for tests/offline.
Fetcher = Callable[[str], str]

API_BASE = "https://api.coingecko.com/api/v3"
MARKETS_CHUNK = 250  # reference src/coingecko.py:47-48
RETRY_ATTEMPTS = 6  # reference src/coingecko.py:36-41
RETRY_MIN_S = 1.0
RETRY_MAX_S = 30.0


class RateLimitError(RuntimeError):
    """HTTP 429 surfaced as a typed error (reference src/coingecko.py:13-34)."""


def http_fetcher(url: str) -> str:
    import urllib.error
    import urllib.request

    try:
        with urllib.request.urlopen(url, timeout=30) as resp:
            return resp.read().decode("utf-8")
    except urllib.error.HTTPError as err:  # pragma: no cover - needs network
        if err.code == 429:
            raise RateLimitError(str(err)) from err
        raise


def fetch_with_retry(fetcher: Fetcher, url: str, sleep: Callable[[float], None] = time.sleep) -> str:
    """Exponential backoff 1→30 s, 6 attempts, on rate-limit/transient errors
    (the reference's tenacity policy, hand-rolled to stay dependency-free)."""
    delay = RETRY_MIN_S
    for attempt in range(RETRY_ATTEMPTS):
        try:
            return fetcher(url)
        except (RateLimitError, ConnectionError, TimeoutError):
            if attempt == RETRY_ATTEMPTS - 1:
                raise
            sleep(delay)
            delay = min(delay * 2, RETRY_MAX_S)
    raise AssertionError("unreachable")


MARKETS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("symbol", T.StringType()),
        T.StructField("name", T.StringType()),
        T.StructField("price_change_pct_24h", T.DoubleType()),
        T.StructField("price_change_pct_7d", T.DoubleType()),
        T.StructField("price_change_pct_30d", T.DoubleType()),
    ]
)


def fetch_markets(universe: DataFrame, fetcher: Fetcher, vs: str = "usd") -> DataFrame:
    """Markets snapshot (reference src/coingecko.py:42-62): one request per
    ≤250-id slice, executed inside each partition's task."""

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        ids = [i for b in batches for i in b["asset_id"].tolist()]
        for at in range(0, len(ids), MARKETS_CHUNK):
            chunk = ids[at : at + MARKETS_CHUNK]
            url = (
                f"{API_BASE}/coins/markets?vs_currency={vs}"
                f"&ids={','.join(chunk)}&price_change_percentage=24h,7d,30d"
            )
            rows = json.loads(fetch_with_retry(fetcher, url))
            yield pd.DataFrame(
                {
                    "asset_id": [r.get("id") for r in rows],
                    "symbol": [r.get("symbol") for r in rows],
                    "name": [r.get("name") for r in rows],
                    "price_change_pct_24h": [
                        r.get("price_change_percentage_24h_in_currency") for r in rows
                    ],
                    "price_change_pct_7d": [
                        r.get("price_change_percentage_7d_in_currency") for r in rows
                    ],
                    "price_change_pct_30d": [
                        r.get("price_change_percentage_30d_in_currency") for r in rows
                    ],
                }
            )

    return universe.mapInPandas(run, MARKETS_SCHEMA)


# one chart's price points before the Spark-side ts/source/inserted_at
POINTS_SCHEMA = T.StructType(
    [
        T.StructField("asset_id", T.StringType()),
        T.StructField("ms", T.LongType()),
        T.StructField("price", T.DoubleType()),
        T.StructField("market_cap", T.DoubleType()),
        T.StructField("volume", T.DoubleType()),
    ]
)


def _num(v) -> float | None:
    return None if v is None else float(v)


def chart_points(
    asset_id: str, body: str | dict, cutoff_ms: int | None = None
) -> list[tuple[int, float | None, float | None, float | None]]:
    """One market_chart body → ``(ms, price, market_cap, volume)`` per price
    point (reference src/etl.py:36-43).

    ``body`` is the raw JSON text or the already-decoded dict. market_caps
    and total_volumes become ms-keyed dicts probed once per price point: a
    repeated ms keeps its last value, a missing point gives None. Points
    before ``cutoff_ms`` are dropped (the hourly-emulation trim, reference
    src/coingecko.py:79-84). A body that is not JSON, lacks a ``prices``
    array, or holds a malformed point raises ValueError naming the asset,
    so a rate-limit page never passes as an asset with no data.
    """
    try:
        chart = json.loads(body) if isinstance(body, str) else body
        prices = chart.get("prices") if isinstance(chart, dict) else None
        if not isinstance(prices, list):
            raise ValueError("no 'prices' array")
        mc = {int(ms): v for ms, v in chart.get("market_caps") or ()}
        vol = {int(ms): v for ms, v in chart.get("total_volumes") or ()}
        out = []
        for ms, price in prices:
            ms = int(ms)
            if cutoff_ms is None or ms >= cutoff_ms:
                out.append((ms, _num(price), _num(mc.get(ms)), _num(vol.get(ms))))
        return out
    except (TypeError, ValueError) as err:
        raise ValueError(f"malformed market_chart body for {asset_id!r}: {err}") from err


def fetch_chart_prices(
    universe: DataFrame,
    fetcher: Fetcher,
    days: int = 1,
    vs: str = "usd",
    pacing_s: float = 0.0,
    cutoff_ms: int | None = None,
) -> DataFrame:
    """Per-asset market_chart fetch (reference src/coingecko.py:70-90) →
    prices rows (reference src/etl.py:36-44), parallel across partitions and
    paced within each (reference src/backfill.py:31's 1 s sleep becomes
    per-partition pacing).

    Each task fetches its slice's charts once, normalizes them with
    ``chart_points`` and emits one typed Arrow batch per input batch; a
    ``select`` then adds the second-precision UTC ``ts`` (reference
    src/etl.py:42), ``source`` and ``inserted_at``. The frame is lazy:
    every action on it fetches the charts again.
    """

    def run(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        first = True
        for b in batches:
            ids: list[str] = []
            rows: list[tuple] = []
            for cid in b.column("asset_id").to_pylist():
                if not first and pacing_s:
                    time.sleep(pacing_s)
                first = False
                url = f"{API_BASE}/coins/{cid}/market_chart?vs_currency={vs}&days={days}"
                points = chart_points(cid, fetch_with_retry(fetcher, url), cutoff_ms)
                ids.extend([cid] * len(points))
                rows.extend(points)
            ms, price, mcap, vol = zip(*rows) if rows else ((), (), (), ())
            yield pa.RecordBatch.from_arrays(
                [
                    pa.array(ids, pa.string()),
                    pa.array(ms, pa.int64()),
                    pa.array(price, pa.float64()),
                    pa.array(mcap, pa.float64()),
                    pa.array(vol, pa.float64()),
                ],
                names=POINTS_SCHEMA.fieldNames(),
            )

    return universe.mapInArrow(run, POINTS_SCHEMA).select(
        "asset_id",
        F.date_trunc("second", F.timestamp_millis("ms")).alias("ts"),
        "price",
        "market_cap",
        "volume",
        F.lit("coingecko").alias("source"),
        F.current_timestamp().alias("inserted_at"),
    )
