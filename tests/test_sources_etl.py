"""Ingestion + ETL pipeline tests with an injected offline fetcher
(no network in CI — the transport is mockable by design)."""

from __future__ import annotations

import json

import pytest

from crypto_market_tracker_etl_spark.operators.upsert import ParquetUpsertSink
from crypto_market_tracker_etl_spark.plans.etl_job import (
    run_backfill,
    run_incremental,
    upsert_assets_dim,
)
from crypto_market_tracker_etl_spark.sources.config import (
    asset_universe_df,
    parse_asset_list,
)
from crypto_market_tracker_etl_spark.sources.rest import (
    RateLimitError,
    chart_points,
    fetch_chart_prices,
    fetch_markets,
    fetch_with_retry,
)

ASSETS = ["bitcoin", "ethereum", "solana"]
BASE_MS = 1_700_000_000_000


def make_fake_fetch():
    """Deterministic CoinGecko-shaped responses.

    Built as a closure (not a module-level function) so cloudpickle
    serializes it BY VALUE — executors cannot import the tests package.
    """

    def fake_fetch(url: str) -> str:
        import json

        if "/coins/markets" in url:
            ids = url.split("ids=")[1].split("&")[0].split(",")
            return json.dumps(
                [
                    {
                        "id": cid,
                        "symbol": cid[:3],
                        "name": cid.title(),
                        "price_change_percentage_24h_in_currency": 1.5,
                        "price_change_percentage_7d_in_currency": None,
                        "price_change_percentage_30d_in_currency": -2.25,
                    }
                    for cid in ids
                ]
            )
        cid = url.split("/coins/")[1].split("/")[0]
        seed = len(cid)
        base_ms = 1_700_000_000_000
        pts = [[base_ms + i * 3_600_000, 100.0 + seed + i] for i in range(24)]
        mcs = [[base_ms + i * 3_600_000, 1e9 + i] for i in range(24)]
        # volumes intentionally missing the last point → NULL after the ms join
        vols = [[base_ms + i * 3_600_000, 5e8 + i] for i in range(23)]
        return json.dumps({"prices": pts, "market_caps": mcs, "total_volumes": vols})

    return fake_fetch


fake_fetch = make_fake_fetch()


def test_parse_asset_list():
    text = "assets:\n  - bitcoin  # the original\n\n  - 'ethereum'\n  - solana\n"
    assert parse_asset_list(text) == ASSETS


def test_fetch_markets_offline(spark):
    universe = asset_universe_df(spark, ASSETS)
    rows = fetch_markets(universe, fake_fetch).collect()
    assert {r["asset_id"] for r in rows} == set(ASSETS)
    r = next(r for r in rows if r["asset_id"] == "bitcoin")
    assert r["symbol"] == "bit" and r["price_change_pct_7d"] is None


def test_chart_normalization_ms_join(spark):
    universe = asset_universe_df(spark, ["bitcoin"])
    prices = fetch_chart_prices(universe, fake_fetch)
    rows = prices.orderBy("ts").collect()
    assert len(rows) == 24
    assert rows[0]["price"] == 107.0  # 100 + len('bitcoin')
    assert rows[0]["market_cap"] == 1e9
    assert rows[-1]["volume"] is None  # missing final volume point → NULL
    assert rows[0]["ts"].microsecond == 0  # second precision
    assert rows[0]["source"] == "coingecko"


def test_chart_cutoff_trim(spark):
    universe = asset_universe_df(spark, ["bitcoin"])
    cutoff = BASE_MS + 12 * 3_600_000
    trimmed = fetch_chart_prices(universe, fake_fetch, cutoff_ms=cutoff)
    assert trimmed.count() == 12


def make_body_fetch(bodies: dict):
    """``fake_fetch`` with the market_chart body of some assets replaced."""
    inner = make_fake_fetch()

    def fetch(url: str) -> str:
        if "/market_chart" in url:
            cid = url.split("/coins/")[1].split("/")[0]
            if cid in bodies:
                return bodies[cid]
        return inner(url)

    return fetch


def make_counting_fetch(counters: dict):
    """``fake_fetch`` that bumps the asset's Spark accumulator on every
    market_chart request (executors add, the driver reads)."""
    inner = make_fake_fetch()

    def fetch(url: str) -> str:
        if "/market_chart" in url:
            counters[url.split("/coins/")[1].split("/")[0]].add(1)
        return inner(url)

    return fetch


def test_chart_repeated_ms_keeps_later_value(spark):
    """A repeated ms in market_caps keeps the later value and still yields
    one price row; an ms join would multiply that row."""
    body = json.dumps({
        "prices": [[BASE_MS, 1.0], [BASE_MS + 3_600_000, 2.0]],
        "market_caps": [[BASE_MS, 10.0], [BASE_MS, 11.0], [BASE_MS + 3_600_000, 12.0]],
        "total_volumes": [[BASE_MS, 5.0]],
    })
    assert chart_points("bitcoin", body) == [
        (BASE_MS, 1.0, 11.0, 5.0),
        (BASE_MS + 3_600_000, 2.0, 12.0, None),
    ]
    universe = asset_universe_df(spark, ["bitcoin"])
    rows = fetch_chart_prices(
        universe, make_body_fetch({"bitcoin": body})
    ).orderBy("ts").collect()
    assert [(r["price"], r["market_cap"], r["volume"]) for r in rows] == [
        (1.0, 11.0, 5.0), (2.0, 12.0, None)
    ]


@pytest.mark.parametrize(
    "body", ["<html>rate limited</html>", '{"error": "coin not found"}', "[]",
             '{"prices": [[1700000000000]]}']
)
def test_chart_points_rejects_malformed_body(body):
    with pytest.raises(ValueError, match="'solana'"):
        chart_points("solana", body)


def test_retry_backoff_then_success():
    calls = {"n": 0}
    sleeps: list[float] = []

    def flaky(url: str) -> str:
        calls["n"] += 1
        if calls["n"] < 4:
            raise RateLimitError("429")
        return "ok"

    assert fetch_with_retry(flaky, "u", sleep=sleeps.append) == "ok"
    assert calls["n"] == 4
    assert sleeps == [1.0, 2.0, 4.0]  # exponential 1→30


def test_retry_exhausted():
    def always_429(url: str) -> str:
        raise RateLimitError("429")

    with pytest.raises(RateLimitError):
        fetch_with_retry(always_429, "u", sleep=lambda s: None)


def test_run_incremental_end_to_end(spark, tmp_path):
    sink = ParquetUpsertSink(
        spark, str(tmp_path / "prices"), keys=["asset_id", "ts"], ts_col="ts"
    )
    out = run_incremental(spark, ASSETS, fake_fetch, sink, days=1)
    assert out["assets"].count() == 3
    assert out["prices"].count() == 72  # 3 assets × 24 hourly points
    daily = {
        (r["asset_id"], str(r["date"])): r for r in out["daily_metrics"].collect()
    }
    assert len(daily) == 6  # 24 hourly points straddle 2 UTC dates
    stored = sink.read()
    assert stored.count() == 72
    # idempotent re-run: same data upserted again → no duplicates
    run_incremental(spark, ASSETS, fake_fetch, sink, days=1)
    assert sink.read().count() == 72


def test_run_backfill_caps_days(spark, tmp_path):
    sink = ParquetUpsertSink(
        spark, str(tmp_path / "bf"), keys=["asset_id", "ts"], ts_col="ts"
    )
    prices = run_backfill(spark, ["bitcoin"], fake_fetch, sink, days=365)
    assert prices.count() == 24


def _txn_sink(spark, path):
    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )

    return ManifestParquetSink(
        spark, path, keys=["asset_id", "ts"], ts_col="ts", order=["inserted_at"]
    )


def test_etl_fetches_each_chart_once(spark, tmp_path):
    """Each run requests every asset's market_chart exactly once: the fetch
    and its normalization run in one task, not once per exploded series."""
    counters = {a: spark.sparkContext.accumulator(0) for a in ASSETS}
    fetch = make_counting_fetch(counters)
    sink = _txn_sink(spark, str(tmp_path / "prices"))
    run_backfill(spark, ASSETS, fetch, sink, days=1)
    assert {a: c.value for a, c in counters.items()} == dict.fromkeys(ASSETS, 1)
    run_incremental(spark, ASSETS, fetch, sink, days=1)
    assert {a: c.value for a, c in counters.items()} == dict.fromkeys(ASSETS, 2)
    assert sink.read().count() == 72


def test_repeated_price_ms_stores_one_row(spark, tmp_path):
    """The sink dedups the fetched batch itself: a chart that repeats a
    price ms stores one row for that (asset_id, ts)."""
    body = json.dumps({
        "prices": [[BASE_MS, 1.0], [BASE_MS, 1.5], [BASE_MS + 3_600_000, 2.0]],
        "market_caps": [], "total_volumes": [],
    })
    fetch = make_body_fetch({"bitcoin": body})
    for sink in (
        _txn_sink(spark, str(tmp_path / "txn")),
        ParquetUpsertSink(spark, str(tmp_path / "swap"), keys=["asset_id", "ts"], ts_col="ts"),
    ):
        prices = run_backfill(spark, ["bitcoin"], fetch, sink, days=1)
        assert prices.count() == 2
        rows = sink.read().collect()
        assert len(rows) == 2
        assert len({r["ts"] for r in rows}) == 2


def test_malformed_chart_body_fails_the_run(spark, tmp_path):
    """A rate-limit page served as a chart body fails the run loudly,
    naming the asset, and commits nothing."""
    sink = _txn_sink(spark, str(tmp_path / "prices"))
    run_backfill(spark, ASSETS, fake_fetch, sink, days=1)
    v = sink.current_version()
    fetch = make_body_fetch({"solana": "<html>rate limited</html>"})
    with pytest.raises(Exception, match="malformed market_chart body for 'solana'"):
        run_backfill(spark, ASSETS, fetch, sink, days=1)
    assert sink.current_version() == v
    assert sink.read().count() == 72


def test_refresh_daily_metrics_incremental(spark, tmp_path):
    """Daily aggregate table maintained incrementally (touched days only)
    must equal a full recompute after overlapping multi-day upserts."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crypto_market_tracker_etl_spark.plans.etl_job import refresh_daily_metrics
    from crypto_market_tracker_etl_spark.plans.market_views import (
        daily_metrics_from_ticks,
    )

    prices_sink = ParquetUpsertSink(
        spark, str(tmp_path / "prices"), keys=["asset_id", "ts"], ts_col="ts"
    )
    daily_sink = ParquetUpsertSink(
        spark, str(tmp_path / "daily"), keys=["asset_id", "date"], ts_col="ts"
    )
    schema = "asset_id string, ts timestamp, price double, market_cap double, volume double"
    batches = [
        [("btc", dt.datetime(2024, 1, 1, h), 100.0 + h, 1e9, 1e6) for h in (1, 5)],
        # day-2 rows + a day-1 revision (late data rewrites day 1's OHLC)
        [
            ("btc", dt.datetime(2024, 1, 2, 3), 200.0, 2e9, 2e6),
            ("btc", dt.datetime(2024, 1, 1, 9), 50.0, 1.5e9, 1e6),
        ],
    ]
    for rows in batches:
        batch = spark.createDataFrame(rows, schema)
        prices_sink.upsert(batch)
        touched = batch.select(F.to_date("ts").alias("dt")).distinct()
        refresh_daily_metrics(prices_sink, daily_sink, touched)

    got = {
        (r["asset_id"], str(r["date"])): (r["open"], r["high"], r["low"], r["close"])
        for r in daily_sink.read().collect()
    }
    want = {
        (r["asset_id"], str(r["date"])): (r["open"], r["high"], r["low"], r["close"])
        for r in daily_metrics_from_ticks(prices_sink.read()).collect()
    }
    assert got == want
    assert got[("btc", "2024-01-01")] == (101.0, 105.0, 50.0, 50.0)


def test_observe_quality_zero_extra_pass(spark, tmp_path):
    """Observation metrics ride the WRITE job itself (no second scan):
    after one action the gate sees row count / nulls / ranges matching a
    direct computation, and the null-budget gate raises past budget."""
    import pytest

    from crypto_market_tracker_etl_spark.catalog import load_table
    from crypto_market_tracker_etl_spark.plans.quality import (
        assert_quality,
        observe_quality,
    )
    from tests.conftest import SF_DIR

    ev = load_table(spark, SF_DIR, "events").select(
        "event_id", "event_type", "value", "props"
    )
    observed, obs = observe_quality(
        ev, numeric_cols=["value"], required_cols=["event_type", "props"]
    )
    from pyspark.sql import functions as SF

    observed.write.mode("overwrite").parquet(str(tmp_path / "out"))  # ONE action
    got = dict(obs.get)
    n = ev.count()
    assert got["n_rows"] == n
    assert got["n_null_event_type"] == ev.filter("event_type IS NULL").count()
    assert got["min_value"] == ev.agg(SF.min("value")).collect()[0][0]
    # gate passes for a column with no nulls, raises for one with many
    assert_quality(obs, 0.0, ["event_type"])
    if got["n_null_props"] > 0:
        with pytest.raises(ValueError, match="props"):
            assert_quality(obs, 0.0, ["props"])


def test_upsert_with_changes_feeds_refresh_minimally(spark, tmp_path):
    """CDC-driven incremental maintenance: re-delivering one unchanged day
    alongside one revised day must produce changes ONLY for the revised
    day, so the daily-aggregate refresh recomputes one partition, not
    every day the batch mentioned — and the refreshed table still equals
    a full recompute."""
    import datetime as dt

    from pyspark.sql import functions as F

    from crypto_market_tracker_etl_spark.plans.etl_job import refresh_daily_metrics
    from crypto_market_tracker_etl_spark.plans.market_views import (
        daily_metrics_from_ticks,
    )

    prices_sink = ParquetUpsertSink(
        spark, str(tmp_path / "prices"), keys=["asset_id", "ts"], ts_col="ts"
    )
    daily_sink = ParquetUpsertSink(
        spark, str(tmp_path / "daily"), keys=["asset_id", "date"], ts_col="ts"
    )
    schema = "asset_id string, ts timestamp, price double, market_cap double, volume double"
    day1 = ("btc", dt.datetime(2024, 1, 1, 1), 100.0, 1e9, 1e6)
    day2 = ("btc", dt.datetime(2024, 1, 2, 1), 200.0, 2e9, 2e6)
    first = spark.createDataFrame([day1, day2], schema)
    changes1 = prices_sink.upsert_with_changes(first)
    assert {r["action"] for r in changes1.collect()} == {"insert"}
    refresh_daily_metrics(
        prices_sink, daily_sink, changes1.select("dt").distinct()
    )

    # replay day1 unchanged + revise day2
    second = spark.createDataFrame(
        [day1, ("btc", dt.datetime(2024, 1, 2, 1), 210.0, 2e9, 2e6)], schema
    )
    changes2 = prices_sink.upsert_with_changes(second)
    ch = changes2.collect()
    assert {str(r["dt"]) for r in ch} == {"2024-01-02"}  # day1 replay is a no-op
    assert {r["action"] for r in ch} == {"update"}
    refresh_daily_metrics(
        prices_sink, daily_sink, changes2.select("dt").distinct()
    )
    got = {
        (r["asset_id"], str(r["date"])): r["close"]
        for r in daily_sink.read().collect()
    }
    want = {
        (r["asset_id"], str(r["date"])): r["close"]
        for r in daily_metrics_from_ticks(prices_sink.read()).collect()
    }
    assert got == want and got[("btc", "2024-01-02")] == 210.0


def test_upsert_assets_dim_keeps_first_seen(spark):
    import datetime as dt

    t0 = dt.datetime(2024, 1, 1)
    t1 = dt.datetime(2024, 6, 1)
    old = spark.createDataFrame(
        [("bitcoin", "btc", "Bitcoin", t0)],
        "asset_id string, symbol string, name string, first_seen_at timestamp",
    )
    new = spark.createDataFrame(
        [("bitcoin", "xbt", "Bitcoin!", t1), ("solana", "sol", "Solana", t1)],
        "asset_id string, symbol string, name string, first_seen_at timestamp",
    )
    merged = {r["asset_id"]: r for r in upsert_assets_dim(old, new).collect()}
    assert len(merged) == 2
    assert merged["bitcoin"]["symbol"] == "xbt"  # new attrs win
    assert merged["bitcoin"]["first_seen_at"] == t0  # original timestamp kept
    assert merged["solana"]["first_seen_at"] == t1


# ---------------------------------------------------------------- file sources


def test_read_csv_quarantines_malformed(spark, tmp_path):
    from crypto_market_tracker_etl_spark.sources.files import (
        quarantine,
        read_csv,
    )

    p = tmp_path / "feed.csv"
    p.write_text(
        "asset_id,price,ts\n"
        "bitcoin,42000.5,2024-01-01T00:00:00\n"
        "ethereum,not_a_number,2024-01-01T00:00:00\n"  # torn numeric
        "solana,95.25,2024-01-02T12:30:00\n"
    )
    df = read_csv(
        spark, str(p), "asset_id string, price double, ts timestamp"
    )
    clean, bad = quarantine(df)
    rows = {r["asset_id"]: r["price"] for r in clean.collect()}
    assert rows == {"bitcoin": 42000.5, "solana": 95.25}
    bad_lines = [r["raw_line"] for r in bad.collect()]
    assert len(bad_lines) == 1 and "not_a_number" in bad_lines[0]


def test_read_csv_strict_raises(spark, tmp_path):
    from crypto_market_tracker_etl_spark.sources.files import read_csv

    p = tmp_path / "feed.csv"
    p.write_text("asset_id,price\nbitcoin,oops\n")
    with pytest.raises(Exception):
        read_csv(
            spark, str(p), "asset_id string, price double", strict=True
        ).collect()


def test_read_jsonl_explicit_schema_and_quarantine(spark, tmp_path):
    from crypto_market_tracker_etl_spark.sources.files import (
        quarantine,
        read_jsonl,
    )

    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"asset_id": "bitcoin", "price": 42000.5}\n'
        "{torn json line\n"
        '{"asset_id": "solana", "price": 95.25, "extra": "ignored"}\n'
    )
    df = read_jsonl(spark, str(p), "asset_id string, price double")
    clean, bad = quarantine(df)
    rows = {r["asset_id"]: r["price"] for r in clean.collect()}
    assert rows == {"bitcoin": 42000.5, "solana": 95.25}
    assert clean.columns == ["asset_id", "price"]  # corrupt col dropped
    assert bad.count() == 1


def test_quarantine_requires_permissive(spark):
    from crypto_market_tracker_etl_spark.sources.files import quarantine

    with pytest.raises(ValueError):
        quarantine(spark.range(3))


def test_run_incremental_with_transactional_sink(spark, tmp_path):
    """The ETL entry points are sink-agnostic: the same incremental pass
    through a ManifestParquetSink gives the reference pipeline concurrent
    writers + snapshot reads (the Postgres-parity posture), with identical
    data and idempotency."""
    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )

    sink = ManifestParquetSink(
        spark, str(tmp_path / "prices_txn"), keys=["asset_id", "ts"],
        ts_col="ts", order=["inserted_at"],
    )
    run_incremental(spark, ASSETS, fake_fetch, sink, days=1)
    assert sink.read().count() == 72
    v1 = sink.current_version()
    # idempotent re-run: keyed MERGE, no duplicates; CDF shows no inserts
    run_incremental(spark, ASSETS, fake_fetch, sink, days=1)
    assert sink.read().count() == 72
    ch = sink.changes(v1)
    assert ch.filter(ch["_op"] != "U").count() == 0


def test_maintain_daily_from_feed(spark, tmp_path):
    """Feed-driven view maintenance: each poll refreshes exactly the days
    the change feed touched — including days whose only change is a
    DELETE (the D rows carry the deleted pre-image, so the day is
    derivable) — and a no-change poll refreshes nothing."""
    import datetime as dtm

    from crypto_market_tracker_etl_spark.operators.txn_sink import (
        ManifestParquetSink,
    )
    from crypto_market_tracker_etl_spark.plans.etl_job import (
        maintain_daily_from_feed,
    )

    prices = ManifestParquetSink(
        spark, str(tmp_path / "prices"), keys=["asset_id", "ts"],
        ts_col="ts", order=["inserted_at"],
    )
    daily = ParquetUpsertSink(
        spark, str(tmp_path / "daily"), keys=["asset_id", "date"], ts_col="ts"
    )
    ck = str(tmp_path / "ck")
    P = ("asset_id string, ts timestamp, price double, market_cap double, "
         "volume double, inserted_at timestamp")
    d1, d2 = dtm.datetime(2024, 1, 1, 5), dtm.datetime(2024, 1, 2, 5)
    ins = dtm.datetime(2024, 1, 3)
    prices.upsert(spark.createDataFrame(
        [("btc", d1, 10.0, 1e9, 5e6, ins), ("btc", d2, 11.0, 1e9, 5e6, ins),
         ("btc", d2 + dtm.timedelta(hours=2), 13.0, 1e9, 5e6, ins)], P))
    assert maintain_daily_from_feed(prices, daily, ck) == 2
    rows = {str(r["date"]): r for r in daily.read().collect()}
    assert set(rows) == {"2024-01-01", "2024-01-02"}
    assert rows["2024-01-02"]["close"] == 13.0
    # idle poll: nothing to refresh
    assert maintain_daily_from_feed(prices, daily, ck) == 0
    # update day2 only → exactly one day refreshed, new close visible
    prices.upsert(spark.createDataFrame(
        [("btc", d2 + dtm.timedelta(hours=3), 15.0, 1e9, 5e6, ins)], P))
    assert maintain_daily_from_feed(prices, daily, ck) == 1
    assert {str(r["date"]): r["close"] for r in daily.read().collect()}[
        "2024-01-02"] == 15.0
    # delete day2's last tick: the D row's pre-image names the day
    prices.delete(spark.createDataFrame(
        [("btc", d2 + dtm.timedelta(hours=3), 0.0, 0.0, 0.0, ins)], P))
    assert maintain_daily_from_feed(prices, daily, ck) == 1
    assert {str(r["date"]): r["close"] for r in daily.read().collect()}[
        "2024-01-02"] == 13.0
    # delete EVERY remaining day-2 tick: the day vanishes upstream, so its
    # daily rows must be DROPPED (not refreshed — reading a vanished day
    # would crash before the ack and poison the feed)
    prices.delete(spark.createDataFrame(
        [("btc", d2, 0.0, 0.0, 0.0, ins),
         ("btc", d2 + dtm.timedelta(hours=2), 0.0, 0.0, 0.0, ins)], P))
    assert maintain_daily_from_feed(prices, daily, ck) == 1
    assert {str(r["date"]) for r in daily.read().collect()} == {"2024-01-01"}
    assert maintain_daily_from_feed(prices, daily, ck) == 0  # converged
