"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed and size arguments: the
same seed gives byte-identical inputs, another seed gives other inputs
(``selftest.py`` checks both). The engine under test only ever receives
what these functions return.
"""

from __future__ import annotations

import json
import math
import sys
from dataclasses import dataclass
from urllib.parse import parse_qs, urlparse

import numpy as np
import pandas as pd

T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z, the origin of every hour grid
HOUR_MS = 3_600_000


def _rng(seed: int, *stream: int) -> np.random.Generator:
    return np.random.default_rng([int(seed), *[int(s) for s in stream]])


# --------------------------------------------------------------- assets


def asset_ids(n: int) -> list[str]:
    return [f"coin-{i:04d}" for i in range(n)]


def asset_dim(n: int) -> pd.DataFrame:
    """The assets dimension: id, ticker symbol and display name."""
    return pd.DataFrame({
        "asset_id": asset_ids(n),
        "symbol": [f"c{i:04d}" for i in range(n)],
        "name": [f"Coin {i:04d}" for i in range(n)],
    })


# ------------------------------------------------------ dashboard requests


@dataclass(frozen=True)
class Request:
    view: str
    asset: str | None  # None: the landing-page top-100


VIEWS = ("v_latest_prices", "v_price_change_24h", "v_daily_ohlc", "v_sparkline_7d")


def request_mix(seed: int, assets: list[str], rounds: int, zipf_s: float = 1.2) -> list[Request]:
    """Dashboard requests: each round asks every view once for the
    landing-page top 100 and once for one asset's page, in seeded order;
    the asset is drawn Zipf-skewed over ``assets`` (most popular first).
    Only the order and the assets depend on the seed, so every seed
    issues the same mix."""
    r = _rng(seed, 3)
    rank = np.arange(1, len(assets) + 1, dtype=np.float64)
    p = rank ** -zipf_s
    p /= p.sum()
    out = []
    for _ in range(rounds):
        kinds = [(v, top) for v in VIEWS for top in (True, False)]
        for i in r.permutation(len(kinds)):
            view, top = kinds[i]
            out.append(Request(view, None if top else assets[int(r.choice(len(assets), p=p))]))
    return out


# ------------------------------------------------------- CoinGecko fetcher


# Source defects of the served series (FIXTURES.md asks for all three in
# this data family). The shares are not measured from CoinGecko; they are
# set so that every run holds some of each.
GAP_SHARE = 0.01      # hours with no point at all: a gap in the hourly grid
MISSING_SHARE = 0.03  # market_cap / volume points left out: NULL in the table
LATE_SHARE = 0.02     # assets listed within the last day: no 24 h-ago price


def chart_series(seed: int, aidx: int, n_hours: int) -> tuple[np.ndarray, ...]:
    """(price, market_cap, volume, listed) of one asset on hours
    [0, n_hours) before any revision: a seeded random walk around the
    asset's price scale. ``listed`` is False on the hours the source has no
    point for (gaps, hours before a late listing); market_cap and volume
    are NaN where the source leaves their point out."""
    r = _rng(seed, 4, aidx)
    base = float(np.exp(r.normal(1.0, 2.0)))
    supply = float(np.exp(r.normal(16.0, 1.5)))
    price = np.round(base * np.exp(np.cumsum(r.normal(0.0, 0.01, n_hours))), 6)
    mcap = np.round(price * supply, 2)
    vol = np.round(np.exp(r.normal(14.0, 1.0, n_hours)), 2)
    g = _rng(seed, 12, aidx)
    listed = g.random(n_hours) >= GAP_SHARE
    if g.random() < LATE_SHARE:
        listed[: n_hours - int(g.integers(1, 25))] = False
    mcap[g.random(n_hours) < MISSING_SHARE] = np.nan
    vol[g.random(n_hours) < MISSING_SHARE] = np.nan
    return price, mcap, vol, listed


def revision_factor(seed: int, aidx: int, pass_id: int, n: int, share: float) -> np.ndarray:
    """Multiplier of a pass's revised prices (1.0 where not revised)."""
    r = _rng(seed, 5, aidx, pass_id)
    revised = r.random(n) < share
    return np.where(revised, 1.0 + r.normal(0.0, 0.002, n), 1.0)


def window_prices(seed: int, aidx: int, now_h: int, days: int, pass_id: int,
                  share: float, horizon: int) -> tuple[np.ndarray, np.ndarray, np.ndarray, np.ndarray]:
    """(hours, price, market_cap, volume) the fetcher serves for one asset's
    ``days``-day chart ending at hour ``now_h`` on pass ``pass_id``; NaN
    marks a market_cap or volume point the payload leaves out."""
    price, mcap, vol, listed = chart_series(seed, aidx, horizon)
    hours = np.arange(max(0, now_h - days * 24 + 1), now_h + 1)
    f = revision_factor(seed, aidx, pass_id, len(hours), share)
    keep = listed[hours]
    hours, f = hours[keep], f[keep]
    p = np.round(price[hours] * f, 6)
    return hours, p, np.round(mcap[hours] * f, 2), vol[hours]


def make_fetcher(seed: int, assets: list[str], now_h: int, pass_id: int,
                 share: float, horizon: int, counter=None):
    """An offline CoinGecko: a closure (pickled by value into the executors)
    that answers the two endpoints the ETL calls with seeded payloads.
    ``counter`` is an optional Spark accumulator bumped once per request."""
    from pyspark import cloudpickle

    # executors unpickle the closure and the helpers it calls by value
    cloudpickle.register_pickle_by_value(sys.modules[__name__])
    index = {a: i for i, a in enumerate(assets)}

    def fetch(url: str) -> str:
        if counter is not None:
            counter.add(1)
        u = urlparse(url)
        q = parse_qs(u.query)
        if u.path.endswith("/coins/markets"):
            out = []
            for cid in q["ids"][0].split(","):
                i = index[cid]
                out.append({
                    "id": cid, "symbol": f"c{i:04d}", "name": f"Coin {i:04d}",
                    "price_change_percentage_24h_in_currency": round((i % 17) - 8.0, 2),
                    "price_change_percentage_7d_in_currency": round((i % 23) - 11.0, 2),
                    "price_change_percentage_30d_in_currency": round((i % 29) - 14.0, 2),
                })
            return json.dumps(out)
        cid = u.path.split("/")[-2]
        hours, p, m, v = window_prices(
            seed, index[cid], now_h, int(q["days"][0]), pass_id, share, horizon
        )
        ms = (T0_MS + hours * HOUR_MS).tolist()
        return json.dumps({
            "prices": [[t, x] for t, x in zip(ms, p.tolist())],
            # a NaN is a point the source leaves out
            "market_caps": [[t, x] for t, x in zip(ms, m.tolist()) if not math.isnan(x)],
            "total_volumes": [[t, x] for t, x in zip(ms, v.tolist()) if not math.isnan(x)],
        })

    return fetch


def expected_prices(seed: int, assets: list[str], passes: list[tuple[int, int, int]],
                    share: float, horizon: int) -> pd.DataFrame:
    """The table a correct ETL holds after ``passes`` — (pass_id, now_h,
    days) in commit order: every fetched (asset, hour) once, with the
    price of the last pass that served it."""
    frames = []
    for aidx, a in enumerate(assets):
        last: dict[int, tuple[float, float, float]] = {}
        for pid, now_h, days in passes:
            hours, p, m, v = window_prices(seed, aidx, now_h, days, pid, share, horizon)
            for h, x, y, z in zip(hours.tolist(), p.tolist(), m.tolist(), v.tolist()):
                last[h] = (x, y, z)
        if not last:  # listed after the last pass's window, or only gaps
            continue
        hs = np.array(sorted(last), dtype=np.int64)
        vals = np.array([last[h] for h in hs.tolist()])
        frames.append(pd.DataFrame({
            "asset_id": a, "hour": hs,
            "price": vals[:, 0], "market_cap": vals[:, 1], "volume": vals[:, 2],
        }))
    return pd.concat(frames, ignore_index=True)


# ------------------------------------------------------------- documents

_VOCAB = (
    "a agg batch big column data fast filter group hash join key line merge "
    "order part query row scan slow small sort spark stream table value "
    "vector window index shard token model train eval score rank sample "
    "split pack clean dedup lake file commit"
).split()


def documents(seed: int, n_docs: int, n_sources: int = 4) -> pd.DataFrame:
    """Base corpus: ``n_docs`` documents of 12–60 words from a small
    vocabulary, spread over ``n_sources`` sources."""
    r = _rng(seed, 6)
    lens = r.integers(12, 61, n_docs)
    words = r.integers(0, len(_VOCAB), lens.sum())
    cuts = np.cumsum(lens)[:-1]
    texts = [" ".join(_VOCAB[w] for w in ws) for ws in np.split(words, cuts)]
    return pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "source": [f"src{s}" for s in r.integers(0, n_sources, n_docs)],
        "text": texts,
    })


def curation_corpus(seed: int, n_docs: int, near_share: float, exact_share: float) -> pd.DataFrame:
    """Base corpus ∪ near-dup copies (1–3 seeded words dropped) ∪ exact
    copies (case and spacing changed only), copies keep their original's
    source and take fresh ids."""
    base = documents(seed, n_docs)
    r = _rng(seed, 7)
    n_near, n_exact = int(n_docs * near_share), int(n_docs * exact_share)
    near_src = r.choice(n_docs, n_near, replace=False)
    near_txt = []
    for i in near_src:
        toks = base.at[int(i), "text"].split()
        drop = set(r.choice(len(toks), int(r.integers(1, 4)), replace=False).tolist())
        near_txt.append(" ".join(t for j, t in enumerate(toks) if j not in drop))
    exact_src = r.choice(n_docs, n_exact, replace=False)
    exact_txt = ["  " + base.at[int(i), "text"].upper().replace(" ", "   ") for i in exact_src]
    near = pd.DataFrame({
        "doc_id": np.arange(n_docs, n_docs + n_near, dtype=np.int64),
        "source": base["source"].to_numpy()[near_src],
        "text": near_txt,
    })
    exact = pd.DataFrame({
        "doc_id": np.arange(n_docs + n_near, n_docs + n_near + n_exact, dtype=np.int64),
        "source": base["source"].to_numpy()[exact_src],
        "text": exact_txt,
    })
    return pd.concat([base, near, exact], ignore_index=True)


def arrival_batches(seed: int, corpus: pd.DataFrame, n_batches: int) -> list[tuple[int, pd.DataFrame]]:
    """Split ``corpus`` into seeded batches in a random arrival order (so a
    copy can arrive before its original), then redeliver one batch under
    its own id, as an at-least-once source would."""
    r = _rng(seed, 8)
    order = r.permutation(len(corpus))
    parts = np.array_split(order, n_batches)
    batches = [(i, corpus.iloc[np.sort(p)].reset_index(drop=True)) for i, p in enumerate(parts)]
    again = int(r.integers(0, n_batches))
    return batches + [batches[again]]


# ------------------------------------------------------------ embeddings


def embeddings(seed: int, n: int, dim: int = 64, clusters: int = 8) -> np.ndarray:
    """``n`` float32 vectors around ``clusters`` seeded centres."""
    r = _rng(seed, 9)
    centres = r.normal(0.0, 0.15, (clusters, dim))
    label = r.integers(0, clusters, n)
    return (centres[label] + r.normal(0.0, 0.08, (n, dim))).astype(np.float32)


def query_batches(seed: int, corpus: np.ndarray, n_batches: int, per_batch: int,
                  noise: float = 0.02) -> list[np.ndarray]:
    """Query vectors: seeded corpus rows plus Gaussian perturbation."""
    r = _rng(seed, 10)
    rows = r.integers(0, len(corpus), (n_batches, per_batch))
    return [
        (corpus[b] + r.normal(0.0, noise, (per_batch, corpus.shape[1]))).astype(np.float32)
        for b in rows
    ]
