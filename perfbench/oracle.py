"""Output checks, run after the timed phase. Each raises CheckFailed on
the first disagreement; the reference answers come from DuckDB over the
generated inputs (views, daily metrics) or from NumPy (vector search)."""

from __future__ import annotations

import duckdb
import numpy as np
import pandas as pd

from inputs import HOUR_MS, T0_MS


class CheckFailed(AssertionError):
    pass


# The reference's four views (views.sql) over a snapshot, with the
# engine's documented divergences: "now" is the snapshot's max(ts) and
# days bucket by each row's own UTC date. A day's volume and market_cap
# are those of its last row, NULL included (arg_max_null; DuckDB's
# arg_max would skip a NULL and take an earlier row's value).
VIEW_SQL = {
    "v_latest_prices": """
        SELECT p.asset_id, a.symbol, a.name, p.price, p.market_cap, p.volume, p.ts
        FROM prices p JOIN assets a USING (asset_id)
        QUALIFY row_number() OVER (PARTITION BY p.asset_id ORDER BY p.ts DESC) = 1""",
    "v_price_change_24h": """
        WITH m AS (SELECT max(ts) AS mx FROM prices),
        l AS (SELECT asset_id, arg_max(price, ts) AS price_now FROM prices GROUP BY asset_id),
        b AS (SELECT asset_id, arg_max(price, ts) AS price_then
              FROM prices, m WHERE ts <= mx - INTERVAL 24 HOURS GROUP BY asset_id)
        SELECT l.asset_id, a.symbol, a.name, l.price_now, b.price_then AS price_24h,
               CASE WHEN b.price_then IS NOT NULL AND b.price_then <> 0
                    THEN round((l.price_now - b.price_then) / b.price_then * 100.0, 4)
               END AS pct_change_24h
        FROM l JOIN assets a USING (asset_id) LEFT JOIN b USING (asset_id)""",
    "v_daily_ohlc": """
        SELECT p.asset_id, a.symbol, a.name, CAST(p.ts AS DATE) AS date,
               arg_min(price, ts) AS open, max(price) AS high, min(price) AS low,
               arg_max(price, ts) AS close, arg_max_null(volume, ts) AS volume,
               arg_max_null(market_cap, ts) AS market_cap
        FROM prices p JOIN assets a USING (asset_id)
        GROUP BY p.asset_id, a.symbol, a.name, CAST(p.ts AS DATE)""",
    "v_sparkline_7d": """
        WITH m AS (SELECT max(ts) AS mx FROM prices)
        SELECT p.asset_id, a.symbol, a.name, p.ts, p.price
        FROM prices p JOIN assets a USING (asset_id), m
        WHERE p.ts >= mx - INTERVAL 7 DAYS""",
}

KEYS = {
    "v_latest_prices": ["asset_id"],
    "v_price_change_24h": ["asset_id"],
    "v_daily_ohlc": ["asset_id", "date"],
    "v_sparkline_7d": ["asset_id", "ts"],
}


def _norm(df: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    df = df.copy()
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = pd.to_datetime(df[c]).dt.tz_localize(None).astype("datetime64[us]")
        elif c == "date":
            df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
    return df.sort_values(keys).reset_index(drop=True)


def frames_equal(what: str, got: pd.DataFrame, want: pd.DataFrame, keys: list[str],
                 abs_tol: dict | None = None) -> None:
    if sorted(got.columns) != sorted(want.columns):
        raise CheckFailed(f"{what}: columns {sorted(got.columns)} != {sorted(want.columns)}")
    if len(got) != len(want):
        raise CheckFailed(f"{what}: {len(got)} rows, expected {len(want)}")
    got, want = _norm(got[list(want.columns)], keys), _norm(want, keys)
    for c in want.columns:
        g, w = got[c], want[c]
        if pd.api.types.is_float_dtype(w) or pd.api.types.is_float_dtype(g):
            g, w = g.to_numpy(np.float64), w.to_numpy(np.float64)
            tol = (abs_tol or {}).get(c, 0.0) + 1e-9 * np.abs(w)
            bad = ~((np.abs(g - w) <= tol) | (np.isnan(g) & np.isnan(w)))
        else:
            bad = ~(g.reset_index(drop=True) == w.reset_index(drop=True)).to_numpy()
        if bad.any():
            i = int(np.argmax(bad))
            raise CheckFailed(f"{what}.{c}: row {i} got {g[i]!r}, expected {w[i]!r}")


def check_views(export: dict[str, pd.DataFrame], prices: pd.DataFrame, assets: pd.DataFrame) -> None:
    """Each view's rows equal DuckDB's over the same snapshot, in the
    view's order: market_cap descending with NULLs last for the two
    landing-page views (for v_price_change_24h the latest row's market_cap,
    which the view does not expose), (asset_id, date desc) and
    (asset_id, ts) for the other two."""
    con = duckdb.connect()
    try:
        con.register("prices", prices)
        con.register("assets", assets)
        want = {view: con.execute(sql).arrow().to_pandas() for view, sql in VIEW_SQL.items()}
    finally:
        con.close()
    for view, w in want.items():
        frames_equal(view, export[view], w, KEYS[view], abs_tol={"pct_change_24h": 1.0001e-4})
    cap = want["v_latest_prices"].set_index("asset_id")["market_cap"]
    for view in ("v_latest_prices", "v_price_change_24h"):
        _check_desc_nulls_last(view, cap.loc[export[view]["asset_id"]].to_numpy(np.float64))
    ohlc = export["v_daily_ohlc"]
    _check_sorted("v_daily_ohlc", list(zip(ohlc["asset_id"], -pd.to_datetime(ohlc["date"]).astype(np.int64))))
    line = export["v_sparkline_7d"]
    _check_sorted("v_sparkline_7d", list(zip(line["asset_id"], pd.to_datetime(line["ts"]).astype(np.int64))))


def _check_desc_nulls_last(what: str, caps: np.ndarray) -> None:
    nulls = np.isnan(caps)
    n = int((~nulls).sum())
    if nulls[:n].any() or (np.diff(caps[:n]) > 0).any():
        raise CheckFailed(f"{what}: rows are not in market_cap DESC NULLS LAST order")


def _check_sorted(what: str, keys: list) -> None:
    if any(a > b for a, b in zip(keys, keys[1:])):
        raise CheckFailed(f"{what}: rows are not in the view's order")


def check_prices(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """Stored rows ≡ the distinct generated keys, last revision winning."""
    ts = pd.to_datetime(got["ts"]).astype("datetime64[ms]").astype(np.int64)
    g = pd.DataFrame({
        "asset_id": got["asset_id"], "hour": (ts - T0_MS) // HOUR_MS,
        "price": got["price"], "market_cap": got["market_cap"], "volume": got["volume"],
    })
    frames_equal("prices", g, want, ["asset_id", "hour"])


def price_rows(want: pd.DataFrame) -> pd.DataFrame:
    """Expected (asset, hour) rows as a prices table with timestamps."""
    return want.assign(ts=pd.to_datetime(T0_MS + want["hour"] * HOUR_MS, unit="ms")).drop(columns="hour")


def check_daily(got: pd.DataFrame, want: pd.DataFrame) -> None:
    """The feed-maintained daily table ≡ a full recompute from the rows."""
    con = duckdb.connect()
    try:
        con.register("p", price_rows(want))
        expected = con.execute("""
            SELECT asset_id, CAST(ts AS DATE) AS date,
                   arg_min(price, ts) AS open, max(price) AS high, min(price) AS low,
                   arg_max(price, ts) AS close, arg_max_null(volume, ts) AS volume,
                   arg_max_null(market_cap, ts) AS market_cap
            FROM p GROUP BY asset_id, CAST(ts AS DATE)""").arrow().to_pandas()
    finally:
        con.close()
    frames_equal("daily_metrics", got[list(expected.columns)], expected, ["asset_id", "date"])


def exact_sqdist(q: np.ndarray, v: np.ndarray) -> np.ndarray:
    """round(10_000 · ‖q − v‖²) as the engine computes it: float32 inputs
    widened to double, a left-to-right fold, half-up rounding."""
    d = q.astype(np.float64)[:, None, :] - v.astype(np.float64)[None, :, :]
    acc = np.zeros(d.shape[:2])
    for j in range(d.shape[2]):
        acc = acc + d[:, :, j] * d[:, :, j]
    return np.floor(acc * 10_000 + 0.5).astype(np.int64)


# recall@10 of the workload's probes (k=10, nprobe=2 of 8 lists,
# rerank=50) was 0.41-0.56 in each of 81 runs (3-8 probes a run); a probe
# that scores fewer rows than that configuration promises (say, no
# re-rank: 0.18) falls below this floor
RECALL_FLOOR = 0.35


def check_ann(results, emb: np.ndarray, k: int) -> float:
    """Every query gets min(k, live vectors) neighbours, every returned
    distance is the exact one, and recall@k against the exact top-k over
    the vectors live at probe time is at least RECALL_FLOOR (a query never
    matches its own id — query ids are disjoint from vector ids here).
    Returns the recall."""
    hits = total = 0
    for qids, q, live, rows in results:
        live = np.asarray(live)
        dist = exact_sqdist(q, emb[live])
        pos = {int(v): i for i, v in enumerate(live)}
        got: dict[int, list[int]] = {}
        for r in rows:
            qi = int(r.query_id - qids[0])
            if r.neighbor_id not in pos:
                raise CheckFailed(f"probe returned id {r.neighbor_id} that is not live")
            exact = dist[qi, pos[int(r.neighbor_id)]]
            if int(r.sqdist) != int(exact):
                raise CheckFailed(f"query {r.query_id} → {r.neighbor_id}: sqdist {r.sqdist}, exact {exact}")
            got.setdefault(qi, []).append(int(r.neighbor_id))
        want = min(k, len(live))
        for qi in range(len(qids)):
            ids = got.get(qi, [])
            if len(ids) != want or len(set(ids)) != len(ids):
                raise CheckFailed(f"query {qids[qi]}: {len(ids)} results "
                                  f"({len(set(ids))} distinct), expected {want}")
            order = np.lexsort((live, dist[qi]))[:k]
            hits += len(set(live[order].tolist()) & set(ids))
            total += want
    recall = hits / total
    if recall < RECALL_FLOOR:
        raise CheckFailed(f"recall@{k} {recall:.4f} is below the floor {RECALL_FLOOR}")
    return recall
