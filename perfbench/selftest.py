"""Self-test of the benchmark's own parts; needs no Spark session.

    python3 perfbench/selftest.py

- every input generator gives identical inputs for the same seed and
  different inputs for another seed;
- the metric names in BENCHMARK.json are exactly the ones the runner
  prints, with the same units.
"""

from __future__ import annotations

import json
import os
import pickle
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import inputs  # noqa: E402


def generated(seed: int) -> dict[str, bytes]:
    assets = inputs.asset_ids(300)
    fetch = inputs.make_fetcher(seed, assets, now_h=47, pass_id=1, share=0.2, horizon=50)
    corpus = inputs.curation_corpus(seed, 200, 0.15, 0.10)
    emb = inputs.embeddings(seed, 100)
    out = {
        "request_mix": inputs.request_mix(seed, assets, 40),
        "chart_payload": fetch("https://x/api/v3/coins/coin-0007/market_chart?vs_currency=usd&days=2"),
        "markets_payload": fetch("https://x/api/v3/coins/markets?vs_currency=usd&ids=coin-0001,coin-0002"),
        "expected_prices": inputs.expected_prices(seed, assets[:5], [(0, 47, 2), (1, 48, 1)], 0.2, 50),
        "curation_corpus": corpus,
        "arrival_batches": inputs.arrival_batches(seed, corpus, 3),
        "embeddings": emb,
        "query_batches": inputs.query_batches(seed, emb, 3, 8),
    }
    return {k: pickle.dumps(v) for k, v in out.items()}


def check_generators() -> list[str]:
    a, b, c = generated(1), generated(1), generated(2)
    errors = [f"{k}: same seed, different inputs" for k in a if a[k] != b[k]]
    # the markets payload carries no seeded values, so only it may repeat
    errors += [f"{k}: another seed, same inputs" for k in a
               if a[k] == c[k] and k != "markets_payload"]
    return errors


def check_metric_names() -> list[str]:
    from layers import HIGHER_IS_BETTER, PER_LAYER
    from run import END_TO_END

    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json")) as f:
        bench = json.load(f)
    errors = []
    e2e = {m["name"]: m["unit"] for m in bench["end_to_end"]}
    if e2e != END_TO_END:
        errors.append(f"end_to_end in BENCHMARK.json {e2e} != runner {END_TO_END}")
    layer = {m["name"]: m["unit"] for m in bench["per_layer"]}
    if layer != PER_LAYER:
        errors.append(f"per_layer differs: {sorted(set(layer) ^ set(PER_LAYER))}")
    for m in bench["per_layer"]:
        want = "higher" if m["name"] in HIGHER_IS_BETTER else "lower"
        if m["better"] != want:
            errors.append(f"{m['name']}: better={m['better']}, expected {want}")
    return errors


def main() -> int:
    errors = check_generators() + check_metric_names()
    for e in errors:
        print("FAIL", e)
    print("selftest:", "FAILED" if errors else "ok")
    return 1 if errors else 0


if __name__ == "__main__":
    sys.exit(main())
