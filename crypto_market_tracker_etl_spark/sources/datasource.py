"""CoinGecko as a registrable Spark data source (Python Data Source API,
Spark 4): ``spark.read.format("coingecko")``.

This is the connector-shaped packaging of sources/rest.py (reference
src/coingecko.py): the asset universe is split into one InputPartition per
asset chunk, so fetch parallelism is plan-visible and scales with the
universe, and the result arrives as a normal DataFrame with the prices
schema — filters/projections compose on top via Catalyst.

Options:
    assets     comma-separated asset ids (required)
    days       trailing window per asset (default 1)
    vs         quote currency (default usd)
    transport  'http' (live) or 'synthetic' (deterministic offline series —
               used by tests and benchmarks; seeded by asset id)
    chunk      assets per partition (default 50)

The 'synthetic' transport makes the source usable with zero network access:
it generates the same hourly series shape the live API returns.
"""

from __future__ import annotations

from collections.abc import Iterator, Sequence

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    InputPartition,
    SimpleDataSourceStreamReader,
)

PRICES_DDL = (
    "asset_id string, ts timestamp_ntz, price double, market_cap double, "
    "volume double, source string"
)

_SYNTH_BASE_MS = 1_700_000_000_000


def synthetic_chart(asset_id: str, days: int) -> dict:
    """Deterministic hourly series, seeded by the asset id (stable across
    runs/executors — safe for retries and speculative tasks)."""
    seed = sum(asset_id.encode())
    n = 24 * days
    pts = [[_SYNTH_BASE_MS + i * 3_600_000, float(seed % 100) + i * 0.5] for i in range(n)]
    mcs = [[_SYNTH_BASE_MS + i * 3_600_000, 1e9 + seed + i] for i in range(n)]
    vols = [[_SYNTH_BASE_MS + i * 3_600_000, 1e6 + i] for i in range(n)]
    return {"prices": pts, "market_caps": mcs, "total_volumes": vols}


def _price_rows(asset_id: str, points) -> Iterator[tuple]:
    """``chart_points`` output → PRICES_DDL rows (ts at second precision)."""
    import datetime as dt

    for ms, price, mcap, vol in points:
        ts = dt.datetime.fromtimestamp(ms // 1000, dt.timezone.utc).replace(tzinfo=None)
        yield (asset_id, ts, price, mcap, vol, "coingecko")


class ChunkPartition(InputPartition):
    def __init__(self, assets: Sequence[str]):
        self.assets = list(assets)


class CoinGeckoReader(DataSourceReader):
    def __init__(self, options: dict):
        if "assets" not in options:
            raise ValueError("coingecko source requires option 'assets'")
        self.assets = [a.strip() for a in options["assets"].split(",") if a.strip()]
        self.days = int(options.get("days", "1"))
        self.vs = options.get("vs", "usd")
        self.transport = options.get("transport", "http")
        self.chunk = int(options.get("chunk", "50"))

    def partitions(self) -> Sequence[ChunkPartition]:
        return [
            ChunkPartition(self.assets[i : i + self.chunk])
            for i in range(0, len(self.assets), self.chunk)
        ]

    def read(self, partition: ChunkPartition) -> Iterator[tuple]:
        from .rest import API_BASE, chart_points, fetch_with_retry, http_fetcher

        for asset_id in partition.assets:
            if self.transport == "synthetic":
                chart = synthetic_chart(asset_id, self.days)
            else:  # pragma: no cover - needs network
                url = (
                    f"{API_BASE}/coins/{asset_id}/market_chart"
                    f"?vs_currency={self.vs}&days={self.days}"
                )
                chart = fetch_with_retry(http_fetcher, url)
            yield from _price_rows(asset_id, chart_points(asset_id, chart))


class CoinGeckoStreamReader(SimpleDataSourceStreamReader):
    """Incremental stream form of the source: the offset is the count of
    hourly points already emitted per asset — each micro-batch delivers the
    next slice. This is the reference's cron-rerun incremental loop
    (reference .github/workflows/etl.yml:5-7) as a genuine Structured
    Streaming source with replayable offsets: ``readBetweenOffsets``
    regenerates any window deterministically, so checkpoint recovery never
    duplicates or drops points.
    """

    def __init__(self, options: dict):
        if "assets" not in options:
            raise ValueError("coingecko source requires option 'assets'")
        self.assets = [a.strip() for a in options["assets"].split(",") if a.strip()]
        self.days = int(options.get("days", "1"))
        self.hours_per_batch = int(options.get("hours_per_batch", "6"))
        self.total_hours = 24 * self.days

    def initialOffset(self) -> dict:
        return {"hour": 0}

    def _rows(self, start_h: int, end_h: int):
        from .rest import chart_points

        for asset_id in self.assets:
            points = chart_points(asset_id, synthetic_chart(asset_id, self.days))
            yield from _price_rows(asset_id, points[start_h:end_h])

    def read(self, start: dict):
        start_h = start["hour"]
        end_h = min(start_h + self.hours_per_batch, self.total_hours)
        # must be a PICKLABLE ITERATOR: the engine pickles it driver→executor
        # (plain generators fail) and calls next() on it to prove emptiness
        # when the offset did not advance (plain lists fail).
        return iter(list(self._rows(start_h, end_h))), {"hour": end_h}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter(list(self._rows(start["hour"], end["hour"])))


class CoinGeckoDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "coingecko"

    def schema(self) -> str:
        return PRICES_DDL

    def reader(self, schema) -> CoinGeckoReader:
        return CoinGeckoReader(self.options)

    def simpleStreamReader(self, schema) -> CoinGeckoStreamReader:
        return CoinGeckoStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(CoinGeckoDataSource)
