"""The reference's two pipeline entry points, Spark-first.

- ``run_incremental`` ≙ ``python -m src.etl`` (reference src/etl.py:21-59):
  markets snapshot → per-asset trailing-window chart fetch → normalize →
  upsert assets/prices/daily_metrics.
- ``run_backfill`` ≙ ``python -m src.backfill`` (reference
  src/backfill.py:20-34): bounded historical replay, ≤90-day windows.

Differences by design (SURVEY.md §3): fetches run distributed (partitioned
universe, HTTP inside tasks) instead of a serial driver loop; rows stream
through DataFrames instead of accumulating in one Python list; daily
metrics bucket by each row's own UTC date rather than "today in IST"
(documented divergence, reference src/etl.py:15,47).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.txn_sink import ManifestParquetSink
from ..operators.upsert import ParquetUpsertSink, dedup_keep_latest

# either sink works everywhere a PricesSink is taken: both expose the same
# keyed-MERGE upsert(batch) surface — swap-based for single-writer
# simplicity, manifest-based for concurrent writers + snapshot reads
PricesSink = ParquetUpsertSink | ManifestParquetSink
from ..sources.config import asset_universe_df
from ..sources.rest import Fetcher, fetch_chart_prices, fetch_markets

BACKFILL_MAX_DAYS = 90  # CoinGecko hourly cap (reference src/backfill.py:19,24)


def build_assets(markets: DataFrame) -> DataFrame:
    """Markets snapshot → assets dimension rows (reference src/etl.py:26-28)."""
    return markets.select(
        "asset_id",
        "symbol",
        "name",
        F.current_timestamp().alias("first_seen_at"),
    )


def build_daily_metrics(prices: DataFrame) -> DataFrame:
    """Daily OHLC + close-of-day volume/market-cap per asset (reference
    src/etl.py:46-54): the shared daily_metrics_from_ticks aggregation
    (also consumed by the v_daily_ohlc view) stamped with the upsert
    timestamp (reference sql/schema.sql:34)."""
    from .market_views import daily_metrics_from_ticks

    return daily_metrics_from_ticks(prices).withColumn(
        "inserted_at", F.current_timestamp()
    )


def run_incremental(
    spark: SparkSession,
    assets: list[str],
    fetcher: Fetcher,
    prices_sink: PricesSink,
    days: int = 1,
) -> dict[str, DataFrame]:
    """One incremental pass; returns the three upsert-ready frames and
    merges prices into the sink (idempotent keyed MERGE).

    The sink keeps the latest row per key over batch ∪ stored rows, so the
    fetched batch goes in as is; the returned prices are deduped per key
    (reference src/db.py:93-97 batch semantics). The returned frames are
    lazy: consuming them fetches the charts (and markets) again."""
    universe = asset_universe_df(spark, assets)
    markets = fetch_markets(universe, fetcher)
    fetched = fetch_chart_prices(universe, fetcher, days=days)
    prices_sink.upsert(fetched)
    prices = dedup_keep_latest(fetched, ["asset_id", "ts"], ["inserted_at"])
    return {
        "assets": build_assets(markets),
        "prices": prices,
        "daily_metrics": build_daily_metrics(prices),
    }


def run_backfill(
    spark: SparkSession,
    assets: list[str],
    fetcher: Fetcher,
    prices_sink: PricesSink,
    days: int = BACKFILL_MAX_DAYS,
    pacing_s: float = 0.0,
) -> DataFrame:
    """Bounded historical replay (reference src/backfill.py:20-34). Rows
    flow partition→sink without driver accumulation; the sink dedups the
    batch itself. Returns the prices deduped per key, as a lazy frame:
    consuming it fetches the charts again."""
    days = min(days, BACKFILL_MAX_DAYS)
    universe = asset_universe_df(spark, assets)
    fetched = fetch_chart_prices(universe, fetcher, days=days, pacing_s=pacing_s)
    prices_sink.upsert(fetched)
    return dedup_keep_latest(fetched, ["asset_id", "ts"], ["inserted_at"])


def refresh_daily_metrics(
    prices_sink: PricesSink,
    daily_sink: ParquetUpsertSink,
    touched_days: "DataFrame | list[str]",
) -> None:
    """Incrementally maintain the daily_metrics aggregate table after a
    prices upsert (reference src/etl.py:57-59 recomputes and upserts daily
    rows every cron run — here only the TOUCHED days are recomputed).

    ``touched_days`` is a 1-column ``dt`` frame (e.g. the batch's distinct
    days). The prices scan is pruned to those partitions — the swap sink
    via the broadcast semi-join its merge uses (dynamic partition pruning
    on the physical ``dt=`` dirs), the manifest sink via ``read(days=...)``
    (its ``dt`` is a regular data column, so the semi-join alone would
    scan every partition's files: manifest-level pruning is the only path
    that skips them). The daily aggregate is recomputed exactly (not
    incrementally patched — OHLC open/close are not decomposable under
    late data), and the result merges into the daily table keyed
    (asset_id, date). Work per refresh is proportional to the days
    touched, never the table.
    """
    from .market_views import daily_metrics_from_ticks

    if not isinstance(touched_days, DataFrame):
        days = sorted(set(touched_days))  # caller already knows the list
        touched_days = prices_sink.spark.createDataFrame(
            [(d,) for d in days], "dt string"
        )
    else:
        days = None
    if isinstance(prices_sink, ManifestParquetSink):
        if days is None:
            days = [
                r["dt"] for r in touched_days.select("dt").distinct().collect()
            ]
        pruned = prices_sink.read(days=days)
    else:
        pruned = prices_sink.read().join(
            F.broadcast(touched_days), "dt", "left_semi"
        )
    daily = daily_metrics_from_ticks(pruned)
    daily_sink.upsert(daily.withColumn("ts", F.col("date").cast("timestamp")))


def upsert_assets_dim(old: DataFrame, new: DataFrame) -> DataFrame:
    """Assets-dimension upsert (reference src/db.py:73-84): the ON CONFLICT
    clause updates only symbol/name, so the original first_seen_at is
    preserved — expressed as one partial-aggregated groupBy (max_by on the
    source tag for attrs, min for the timestamp)."""
    tagged = old.withColumn("__src", F.lit(0)).unionByName(
        new.withColumn("__src", F.lit(1))
    )
    return tagged.groupBy("asset_id").agg(
        F.max_by("symbol", "__src").alias("symbol"),
        F.max_by("name", "__src").alias("name"),
        F.min("first_seen_at").alias("first_seen_at"),
    )


def maintain_daily_from_feed(
    prices_sink: "ManifestParquetSink",
    daily_sink: ParquetUpsertSink,
    checkpoint_path: str,
) -> int:
    """Incremental view maintenance driven by the prices table's change
    feed: consume ``changes_since_checkpoint``, derive the TOUCHED DAYS
    from the diff (not from any caller-supplied batch — the feed is the
    source of truth, so out-of-band writers' days refresh too), recompute
    exactly those days' daily metrics, ack. Returns the number of days
    refreshed (0 = nothing new).

    A touched day that no longer EXISTS upstream (a delete emptied it —
    derivable because D rows carry the deleted pre-image) cannot be
    refreshed by recomputation: its daily rows are DROPPED instead
    (``daily_sink.drop_days``), so the maintained view tracks exact
    recomputation through full-day erasure too, and the poll never trips
    over reading a vanished day (which would skip the ack and poison the
    feed).

    At-least-once end-to-end: a crash between the daily writes and the
    ack replays the same diff next call, and refresh, drop_days, and the
    diff-derivation are all idempotent, so the replay converges. This is
    the composed form of the reference's cron step 'recompute daily rows
    after every price load' (src/etl.py:57-59) on top of the
    transactional table."""
    diff, version, ack = prices_sink.changes_since_checkpoint(checkpoint_path)
    if diff is None:
        return 0
    days = {
        r["dt"]
        for r in diff.select(
            F.to_date(prices_sink.ts_col).cast("string").alias("dt")
        )
        .distinct()
        .collect()
        if r["dt"] is not None
    }
    if not days:
        ack()  # a diff of only NULL-ts rows cannot occur (rejected at
        return 0  # write), but stay defensive
    live = sorted(days & set(prices_sink.partition_days(version)))
    gone = sorted(days - set(live))
    if live:
        refresh_daily_metrics(prices_sink, daily_sink, live)
    if gone:
        daily_sink.drop_days(gone)
    ack()
    return len(days)
