"""The two workloads: set-up, timed phase, output check, per-layer counts.

Every workload is one closed-loop client: the next request is sent when
the previous one has returned. The amount of work is fixed by the seed
(never by how fast the program runs), so two versions of the program
always do the same work.

- ``market``: the crypto-market ETL and its dashboard. A backfill, then
  an hourly cron pass that MERGEs revised prices and maintains the daily
  table from the change feed, then dashboard reads of the four views over
  the new snapshot. Runs plans.etl_job, plans.market_views, sources.rest,
  operators.upsert/txn_sink/latest/change/ohlc; bypasses the LLM-data
  layers.
- ``llm_data``: the LLM-data tier. A curation stream of batches with
  near-dup and exact copies, one batch redelivered, then ``clean()``;
  then an IVF-PQ index built, probed and appended to. Runs
  plans.curation_stream, operators.dedup/incremental_dedup/ann_index;
  bypasses every market layer.
"""

from __future__ import annotations

import os
import shutil
import statistics
import time

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import inputs
import oracle
from oracle import CheckFailed
from procstat import tree_cpu_s

DOC_SCHEMA = "doc_id long, source string, text string"


class Workload:
    """Shared bookkeeping: requests, spans around calls into the program."""

    name = ""

    def __init__(self, spark, tracer, seed: int, seconds: int, tmp: str):
        self.spark, self.tracer, self.seed, self.tmp = spark, tracer, seed, tmp
        self.seconds = seconds  # sizes the repeated requests; fixed for given arguments
        self.lat: dict[str, list[float]] = {}  # request kind -> latencies
        self.cpu: dict[str, list[float]] = {}  # request kind -> CPU seconds of the tree
        self.attempted = self.failed = 0

    def request(self, kind: str, fn, *args):
        """One closed-loop request; its latency and the CPU seconds of the
        process tree are recorded under ``kind``."""
        self.attempted += 1
        t, c = time.perf_counter(), tree_cpu_s()
        try:
            return fn(*args)
        except Exception:
            self.failed += 1
            raise
        finally:
            self.lat.setdefault(kind, []).append(time.perf_counter() - t)
            self.cpu.setdefault(kind, []).append(tree_cpu_s() - c)

    def span(self, name: str, layer: str):
        return self.tracer.span(name, layer)

    def wrap(self, obj, method: str, name: str, layer: str) -> None:
        """Open a span around every call of ``obj.method`` (traced runs only)."""
        if not self.tracer.enabled:
            return
        inner = getattr(obj, method)

        def traced(*a, **k):
            with self.tracer.span(name, layer):
                return inner(*a, **k)

        setattr(obj, method, traced)

    def cpu_report(self) -> dict:
        """CPU seconds of the process tree: mean read, mean write, the
        one-off batch jobs. Means, not medians: each run issues a fixed mix
        of a few cheap and expensive requests, whose median jumps between
        the two groups from run to run."""
        return {
            "read_cpu_s": statistics.fmean(self.cpu["read"]),
            "write_cpu_s": statistics.fmean(self.cpu["write"]),
            "bulk_cpu_s": self.bulk_cpu_s,
        }

    def stage_dir(self, i: int) -> str:
        d = os.path.join(self.tmp, f"stage{i}")
        os.makedirs(d)
        return d


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail(xs: list[float]) -> dict:
    """The highest percentile with at least ten samples beyond it (the
    maximum, flagged as p100, when there are too few samples)."""
    n = len(xs)
    for p in (99.9, 99.0, 95.0, 90.0, 75.0, 50.0):
        if n * (1 - p / 100.0) >= 10:
            return {"value": float(np.percentile(xs, p)), "percentile": p, "n": n}
    return {"value": max(xs) if xs else 0.0, "percentile": 100.0, "n": n}


def dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(r, f)) for r, _, fs in os.walk(path) for f in fs)


def parquet_files(path: str) -> int:
    return sum(f.endswith(".parquet") for _, _, fs in os.walk(path) for f in fs)


def spans_named(spans, name):
    return [s for s in spans if s.name == name]


def span_median(spans, name) -> float:
    return median([s.seconds for s in spans_named(spans, name)])


def subtree(spans, root_ids: set[int]) -> list:
    ids, out = set(root_ids), []
    for s in spans:  # spans are recorded parent-first
        if s.id in ids or s.parent in ids:
            ids.add(s.id)
            out.append(s)
    return out


def clear(path: str) -> None:
    shutil.rmtree(path, ignore_errors=True)


# ---------------------------------------------------------------- market


class Market(Workload):
    name = "market"
    N_ASSETS = 300  # > 250, so the fetch universe splits into two slices
    # 8 days: the 7-day sparkline window and the 24 h as-of cutoff both
    # fall inside the stored history. REVISED (the share of a pass's
    # prices that differ from the stored ones) is not measured from
    # CoinGecko; it only has to make every commit a real MERGE.
    BACKFILL_DAYS, PASSES, REVISED = 8, 1, 0.2

    def prepare(self):
        self.read_rounds = max(1, self.seconds // 20)
        self.assets = inputs.asset_ids(self.N_ASSETS)
        self.h0 = self.BACKFILL_DAYS * 24 - 1
        self.horizon = self.h0 + self.PASSES + 1
        self.dim = inputs.asset_dim(self.N_ASSETS)
        self.reads = inputs.request_mix(self.seed, self.assets, self.PASSES * self.read_rounds)
        self.batch_rows = [self.N_ASSETS * self.BACKFILL_DAYS * 24] + [self.N_ASSETS * 24] * self.PASSES

    def stage(self, d):
        from crypto_market_tracker_etl_spark.operators.txn_sink import ManifestParquetSink
        from crypto_market_tracker_etl_spark.operators.upsert import ParquetUpsertSink

        self.prices = ManifestParquetSink(
            self.spark, os.path.join(d, "prices"), keys=["asset_id", "ts"],
            ts_col="ts", order=["inserted_at"],
        )
        self.daily = ParquetUpsertSink(
            self.spark, os.path.join(d, "daily"), keys=["asset_id", "date"], ts_col="ts"
        )
        self.ck = os.path.join(d, "feed_ck")
        self.dim_df = self.spark.createDataFrame(self.dim, "asset_id string, symbol string, name string")
        self.wrap(self.prices, "upsert", "txn_sink.upsert", "txn_sink")
        self.wrap(self.prices, "read", "txn_sink.read", "txn_sink")
        self.fetches = self.spark.sparkContext.accumulator(0)

    def fetcher(self, pass_id: int, now_h: int):
        return inputs.make_fetcher(self.seed, self.assets, now_h, pass_id, self.REVISED,
                                   self.horizon, counter=self.fetches)

    def maintain(self):
        from crypto_market_tracker_etl_spark.plans.etl_job import maintain_daily_from_feed

        with self.span("etl_job.maintain_daily", "etl_job") as s:
            n = maintain_daily_from_feed(self.prices, self.daily, self.ck)
            if s is not None:
                s.counts["days"] = n

    def cron_pass(self, p: int):
        """One hourly cron run: fetch the trailing 24 h, MERGE, refresh the
        touched days of the daily table, re-point the views at the new
        snapshot."""
        from crypto_market_tracker_etl_spark.plans.etl_job import run_incremental
        from crypto_market_tracker_etl_spark.plans.market_views import register_market_views

        with self.span("etl_job.run_incremental", "etl_job"):
            run_incremental(self.spark, self.assets, self.fetcher(p, self.h0 + p),
                            self.prices, days=1)
        self.maintain()
        with self.span("market_views.register", "market_views"):
            register_market_views(self.prices.read(), self.dim_df)

    def read(self, view: str, asset: str | None):
        """A dashboard request: the landing-page top 100 or one asset's page."""
        with self.span("market_views.request", "market_views") as req:
            with self.span("market_views.build", "market_views"):
                df = self.spark.table(view)
                df = df.limit(100) if asset is None else df.filter(F.col("asset_id") == asset)
            if self.tracer.enabled:
                with self.span("market_views.plan", "market_views"):
                    df._jdf.queryExecution().executedPlan()
            with self.span("market_views.exec", "market_views"):
                rows = df.collect()
            if req is not None:
                req.counts.update(rows=len(rows), filtered=int(asset is not None))
        return rows

    def run(self):
        from crypto_market_tracker_etl_spark.plans.etl_job import run_backfill

        t, c = time.perf_counter(), tree_cpu_s()
        with self.span("etl_job.run_backfill", "etl_job"):
            run_backfill(self.spark, self.assets, self.fetcher(0, self.h0), self.prices,
                         days=self.BACKFILL_DAYS)
        self.bulk_s, self.bulk_cpu_s = time.perf_counter() - t, tree_cpu_s() - c
        reads = iter(self.reads)
        for p in range(1, self.PASSES + 1):
            self.request("write", self.cron_pass, p)
            for _ in range(len(self.reads) // self.PASSES):
                r = next(reads)
                self.request("read", self.read, r.view, r.asset)
        self.timed_s = time.perf_counter() - t

    def check(self):
        plan = [(0, self.h0, self.BACKFILL_DAYS)] + [
            (p, self.h0 + p, 1) for p in range(1, self.PASSES + 1)
        ]
        want = inputs.expected_prices(self.seed, self.assets, plan, self.REVISED, self.horizon)
        self.live_rows = self.prices.read().toPandas()
        oracle.check_prices(self.live_rows, want)
        oracle.check_daily(self.daily.read().toPandas(), want)
        export = {v: self.spark.table(v).toPandas() for v in inputs.VIEWS}
        oracle.check_views(export, oracle.price_rows(want), self.dim)

    def report(self):
        reads, writes = self.lat["read"], self.lat["write"]
        g = self.live_rows
        # logical row: two strings plus five 8-byte values (ts, price,
        # market_cap, volume, inserted_at)
        logical = (g["asset_id"].str.len() + g["source"].str.len()).sum() + 40 * len(g)
        return {
            # the wall-clock side of read_cpu_s, a mean for the same reason
            "read_mean_s": statistics.fmean(reads),
            "write_p50_s": median(writes),
            "bulk_s": self.bulk_s,
            "timed_s": self.timed_s,
            **self.cpu_report(),
            "reported": {
                "read_p50_s": (median(reads), "s"),
                "read_tail_s": (tail(reads), "s"),
                "queries_per_s": (len(reads) / sum(reads), "1/s"),
                "rows_upserted_per_s": (sum(self.batch_rows) / self.timed_s, "rows/s"),
                "backfill_s": (self.bulk_s, "s"),
                "bytes_stored_per_user_byte": (dir_bytes(self.prices.path) / logical, "ratio"),
            },
        }

    def layer_counts(self, spans, harvest):
        out = self._view_counts(spans, harvest)
        out.update(self._sink_counts())
        fetches = float(self.fetches.value)
        logical = (self.PASSES + 1) * self.N_ASSETS  # one chart per asset per run
        out.update({
            "txn_sink.upsert_s": span_median(spans, "txn_sink.upsert"),
            "txn_sink.read_resolve_s": span_median(spans, "txn_sink.read"),
            "rest.requests": fetches,
            # the offline fetcher never fails, so fetch_with_retry never
            # retries (a served error would cost a real backoff sleep of >= 1 s)
            "rest.retries": 0.0,
            # a chart fetched again because its Spark plan ran again
            "rest.plan_reexecutions": fetches - logical,
            "rest.python_worker_s": sum(h.get("rest_python_worker_s", 0.0) for h in harvest.values()),
            "etl_job.run_backfill_s": span_median(spans, "etl_job.run_backfill"),
            "etl_job.run_incremental_s": span_median(spans, "etl_job.run_incremental"),
            "etl_job.maintain_daily_s": span_median(spans, "etl_job.maintain_daily"),
            "etl_job.days_refreshed": float(sum(
                s.counts.get("days", 0) for s in spans_named(spans, "etl_job.maintain_daily"))),
        })
        return out

    @staticmethod
    def _view_counts(spans, harvest) -> dict:
        reqs = spans_named(spans, "market_views.request")
        jobs = tasks = scanned = returned = files = 0.0
        for r in reqs:
            sub = subtree(spans, {r.id})
            jobs += sum(harvest[s.id]["jobs"] for s in sub)
            tasks += sum(harvest[s.id]["tasks"] for s in sub)
            files += sum(harvest[s.id]["scan_files"] for s in sub)
            if r.counts.get("filtered"):
                scanned += sum(harvest[s.id]["scan_rows"] for s in sub)
                returned += r.counts["rows"]
        n = max(len(reqs), 1)
        return {
            "market_views.build_s": span_median(spans, "market_views.build"),
            "market_views.plan_s": span_median(spans, "market_views.plan"),
            "market_views.exec_s": span_median(spans, "market_views.exec"),
            "market_views.jobs_per_query": jobs / n,
            "market_views.tasks_per_query": tasks / n,
            "market_views.rows_scanned_per_row_returned": scanned / max(returned, 1.0),
            "txn_sink.files_scanned_per_read": files / n,
        }

    def _sink_counts(self) -> dict:
        """Commit-log counts read back from the prices table's manifests
        after the run (costs the timed phase nothing)."""
        from crypto_market_tracker_etl_spark.operators.txn_sink import (
            manifest_load, manifest_load_stats,
        )

        path = self.prices.path
        top = self.prices.current_version()
        rewritten = rows_in = rows_out = written = 0
        used = set()
        for v in range(1, top + 1):
            old, new = manifest_load(path, v - 1), manifest_load(path, v)
            old_st = manifest_load_stats(path, v - 1, files=False)
            new_st = manifest_load_stats(path, v, files=False)
            changed = [d for d in new if old.get(d) != new[d]]
            rewritten += len(changed)
            rows_in += sum(old_st.get(d, {}).get("rows", 0) for d in changed)
            rows_out += sum(new_st.get(d, {}).get("rows", 0) for d in changed)
            dirs = {new[d].split(os.sep)[1] for d in changed}
            used |= dirs
            written += sum(dir_bytes(os.path.join(path, "data", c)) for c in dirs)
        manifests = dir_bytes(os.path.join(path, "_manifests"))
        live = manifest_load(path, top)
        commits = max(top, 1)
        return {
            "txn_sink.days_rewritten_per_commit": rewritten / commits,
            # every lost manifest CAS leaves an unreferenced commit dir
            "txn_sink.commit_retries": float(len(set(os.listdir(os.path.join(path, "data"))) - used)),
            "txn_sink.bytes_written_per_commit": (written + manifests) / commits,
            "txn_sink.manifest_bytes": float(manifests),
            "txn_sink.live_files": float(sum(parquet_files(os.path.join(path, p)) for p in live.values())),
            "upsert.rows_in_per_row_out": (rows_in + sum(self.batch_rows)) / max(rows_out, 1),
        }


# -------------------------------------------------------------- LLM data


class LlmData(Workload):
    name = "llm_data"
    N_DOCS, NEAR, EXACT, BATCHES = 400, 0.15, 0.10, 2
    N_VEC, DIM, QUERIES, K, NPROBE, RERANK = 2000, 64, 8, 10, 2, 50
    APPEND_EVERY = 4  # every 4th step appends instead of probing
    QID0 = 1_000_000  # query ids never collide with vector ids

    def prepare(self):
        self.corpus = inputs.curation_corpus(self.seed, self.N_DOCS, self.NEAR, self.EXACT)
        self.batches = inputs.arrival_batches(self.seed, self.corpus, self.BATCHES)
        self.emb = inputs.embeddings(self.seed, self.N_VEC, self.DIM)
        self.recall = float("nan")  # set by check()
        perm = np.random.default_rng([self.seed, 11]).permutation(self.N_VEC)
        cut = int(self.N_VEC * 0.8)
        self.base_ids, self.spare_ids = np.sort(perm[:cut]), perm[cut:]
        steps = max(2, self.seconds // 3)
        self.queries = inputs.query_batches(self.seed, self.emb[self.base_ids], steps, self.QUERIES)

    def vectors(self, ids, vecs):
        return self.spark.createDataFrame(
            pd.DataFrame({"vec_id": np.asarray(ids, dtype=np.int64), "embedding": list(vecs)}),
            "vec_id long, embedding array<float>",
        )

    def stage(self, d):
        from crypto_market_tracker_etl_spark.plans.curation_stream import CurationStream

        self.store = os.path.join(d, "store")
        self.cs = CurationStream(self.spark, self.store)
        self.wrap(self.cs.sigs, "upsert_batch", "incremental_dedup.upsert_batch", "incremental_dedup")
        self.wrap(self.cs.sigs, "incremental_pairs", "incremental_dedup.pairs", "incremental_dedup")
        self.wrap(self.cs.sigs, "read_or_none", "incremental_dedup.store_read", "incremental_dedup")
        self.frames = [(bid, self.spark.createDataFrame(pdf, DOC_SCHEMA)) for bid, pdf in self.batches]
        self.index_path = os.path.join(d, "index")
        self.corpus_vecs = self.vectors(self.base_ids, self.emb[self.base_ids])

    def process(self, bid, df):
        with self.span("curation_stream.process_batch", "curation_stream"):
            return self.cs.process_batch(df, bid)

    def append(self, ids):
        with self.span("ann_index.append", "ann_index"):
            self.index.append(self.vectors(ids, self.emb[ids]))

    def probe(self, qids, q):
        with self.span("ann_index.probe", "ann_index"):
            with self.span("ann_index.probe_driver", "ann_index"):
                df = self.index.probe(self.vectors(qids, q), k=self.K, nprobe=self.NPROBE,
                                      rerank=self.RERANK)
            with self.span("ann_index.probe_exec", "ann_index"):
                return df.collect()

    def run(self):
        from crypto_market_tracker_etl_spark.operators.ann_index import IvfPqIndex

        t = time.perf_counter()
        for bid, df in self.frames:
            self.request("write", self.process, bid, df)
        c, c_cpu = time.perf_counter(), tree_cpu_s()
        with self.span("curation_stream.clean", "curation_stream"):
            self.survivors = sorted(r.doc_id for r in self.cs.clean().select("doc_id").collect())
        b = time.perf_counter()
        with self.span("ann_index.build", "ann_index"):
            self.index = IvfPqIndex.build(self.spark, self.index_path, self.corpus_vecs)
        e = time.perf_counter()
        self.clean_s, self.build_s = b - c, e - b
        self.bulk_cpu_s = tree_cpu_s() - c_cpu
        self.curation_s = b - t
        live, spare, qid = list(self.base_ids), 0, self.QID0
        self.results = []
        for i, q in enumerate(self.queries):
            if i % self.APPEND_EVERY == self.APPEND_EVERY - 1:
                ids = self.spare_ids[spare: spare + self.QUERIES]
                spare += self.QUERIES
                self.request("append", self.append, ids)
                live.extend(ids.tolist())
                continue
            qids = np.arange(qid, qid + len(q))
            qid += len(q)
            rows = self.request("read", self.probe, qids, q)
            self.results.append((qids, q, list(live), rows))
        self.timed_s = time.perf_counter() - t

    def check(self):
        from crypto_market_tracker_etl_spark.plans.curation_job import run_curation

        self.recall = oracle.check_ann(self.results, self.emb, self.K)
        docs = self.spark.createDataFrame(self.corpus, DOC_SCHEMA)
        want = sorted(r.doc_id for r in run_curation(self.spark, docs).clean.select("doc_id").collect())
        if want != self.survivors:
            raise CheckFailed(
                f"curation survivors differ from run_curation: {len(self.survivors)} vs {len(want)}")

    def report(self):
        reads, writes = self.lat["read"], self.lat["write"]
        return {
            "read_mean_s": statistics.fmean(reads),
            "write_p50_s": median(writes),
            "bulk_s": self.clean_s + self.build_s,
            "timed_s": self.timed_s,
            **self.cpu_report(),
            "reported": {
                "read_p50_s": (median(reads), "s"),
                "read_tail_s": (tail(reads), "s"),
                "append_p50_s": (median(self.lat["append"]), "s"),
                "docs_per_s": (len(self.corpus) / self.curation_s, "docs/s"),
                "clean_s": (self.clean_s, "s"),
                "index_build_s": (self.build_s, "s"),
                "probes_per_s": (self.QUERIES * len(reads) / sum(reads), "queries/s"),
                "recall_at_10": (self.recall, "ratio"),
            },
        }

    def layer_counts(self, spans, harvest):
        from crypto_market_tracker_etl_spark.operators.dedup import ngram_jaccard, word_shingles

        pairs = self.spark.read.parquet(self.cs.pairs_path).select("id_a", "id_b").distinct()
        n_cand = pairs.count()
        sh = self.spark.createDataFrame(self.corpus, DOC_SCHEMA).select(
            "doc_id", word_shingles(F.col("text")).alias("shingles"))
        verified = ngram_jaccard(pairs, sh).filter(
            F.col("jaccard") >= self.cs.jaccard_threshold).count() if n_cand else 0
        exact = self.cs.exact_survivors().count()
        cents = np.asarray(self.index.centroids, dtype=np.float64)
        probed = scored = results = 0
        for _qids, q, live, rows in self.results:
            d = ((q.astype(np.float64)[:, None, :] - cents[None]) ** 2).sum(-1)
            lists = np.unique(np.argsort(d, axis=1)[:, : self.NPROBE])
            v = self.emb[np.asarray(live)].astype(np.float64)
            owner = np.argmin(((v[:, None, :] - cents[None]) ** 2).sum(-1), axis=1)
            probed += len(lists)
            # ADC scores every row of the probed lists for every query of the call
            scored += int(np.isin(owner, lists).sum()) * len(q)
            results += len(rows)
        return {
            "curation_stream.process_batch_s": span_median(spans, "curation_stream.process_batch"),
            "curation_stream.store_files": float(parquet_files(self.store)),
            "curation_stream.auto_compactions": float(self.cs.auto_compactions),
            "curation_stream.clean_s": span_median(spans, "curation_stream.clean"),
            "dedup.exact_dup_ratio": 1.0 - exact / len(self.corpus),
            "incremental_dedup.upsert_batch_s": span_median(spans, "incremental_dedup.upsert_batch"),
            "incremental_dedup.pairs_s": span_median(spans, "incremental_dedup.pairs"),
            "incremental_dedup.store_read_s": span_median(spans, "incremental_dedup.store_read"),
            "incremental_dedup.candidate_pairs": float(n_cand),
            "incremental_dedup.verified_pair_ratio": verified / max(n_cand, 1),
            "ann_index.build_s": span_median(spans, "ann_index.build"),
            "ann_index.probe_driver_s": span_median(spans, "ann_index.probe_driver"),
            "ann_index.probe_exec_s": span_median(spans, "ann_index.probe_exec"),
            "ann_index.lists_probed_per_query": probed / max(self.QUERIES * len(self.results), 1),
            "ann_index.rows_scored_per_result": scored / max(results, 1),
            "ann_index.append_s": span_median(spans, "ann_index.append"),
            "ann_index.files": float(parquet_files(self.index_path)),
        }


WORKLOADS = {w.name: w for w in (Market, LlmData)}
