"""Benchmark runner: one workload, one seed, one fresh Spark session.

    python3 perfbench/run.py --workload market --seed 1 --seconds 20 --trace 0

Run from the repository root. The runner pins ``local[N]`` with N = 2 (or
fewer when fewer CPUs are usable): both workloads are bound by job
scheduling, not by executor threads — on a 4-core box local[2] runs them
as fast as local[4] and leaves room for the driver, the Python workers and
co-tenants, which makes runs steadier. It generates the inputs from ``--seed``,
starts the session and stages the inputs (``setup_s``), runs the timed
phase with one closed-loop client, checks the outputs (see oracle.py) and
prints:

- one ``metric <name> <value> <unit>`` line per end-to-end metric the
  workload has (its own names, such as ``backfill_s``);
- one JSON line with the full report (pinning, per-request detail);
- as the LAST line, ``{"correct", "attempted", "failed", "metrics"}``:
  with ``--trace 0`` the end-to-end metrics of BENCHMARK.json, with
  ``--trace 1`` its per-layer metrics.

``--trace 1`` opens a span (and a Spark job group) around every call into
a layer, reads the Spark stage and plan-node metrics of each span's jobs
after the timed phase, and writes the spans, per-layer self time and the
unattributed remainder to ``.perfbench_out/``. When an untraced result of
the same workload and seed is there, it also reports the tracing overhead.

The gated metrics are CPU seconds of the driver, the JVM and the Python
workers together (``setup_s``: process start to session ready plus the
median of three stagings; then the timed phase, the mean read, the mean
write and the one-off batch jobs). Their wall-clock counterparts and the
peak RSS are printed as ``metric`` lines and kept in the JSON line.

The work is fixed by ``--seed`` and ``--seconds`` (which sizes the number of
repeated reads and probes), never by how fast the program runs; at 20 it
is sized for a timed phase of about 20 s on a quiet 4-core box.

Exits 1 when an output check fails. All scratch data lives in
``.perfbench_tmp/`` under the repository root and is removed at exit.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import resource
import statistics
import subprocess
import sys
import tempfile
import time
import uuid

from procstat import tree_cpu_s

T_START = time.perf_counter()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
SETUP_REPEATS = 3

# The gated metrics: CPU seconds of the whole process tree (procstat.py).
# CPU time counts the work of every thread and process of the run whatever
# the thread count, and leaves out time stolen by other tenants of the
# machine; it still grows when they slow the CPU down without stealing it.
# Wall times and the peak RSS (which moves with the JVM's heap growth by up
# to a quarter between runs) are printed beside them, not gated.
END_TO_END = {
    "setup_s": "s",
    "timed_cpu_s": "s",
    "read_cpu_s": "s",
    "write_cpu_s": "s",
    "bulk_cpu_s": "s",
}


def parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=int, default=20)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--cpus", type=int, default=0,
                   help="local[N] threads (default: min(2, usable CPUs))")
    return p.parse_args(argv)


def usable_cpus() -> int:
    try:
        return len(os.sched_getaffinity(0))
    except AttributeError:
        return os.cpu_count() or 1


def pin_environment(tmp: str, cpus: int) -> None:
    """Keep every file the run makes under ``tmp`` and pin the engine's
    parallelism before the JVM starts."""
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(tmp, "spark-local")
    # every JVM of the run (launcher and driver): temp files under tmp, and
    # no hsperfdata file, which the JVM would put in /tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_MASTER", None)
    tempfile.tempdir = tmp


def start_session(tmp: str):
    from crypto_market_tracker_etl_spark.session import get_session

    spark = get_session(
        app_name="perfbench",
        extra_conf={
            "spark.local.dir": os.path.join(tmp, "spark-local"),
            "spark.sql.warehouse.dir": os.path.join(tmp, "warehouse"),
            # keep every job of the run in the status store for the trace
            "spark.ui.retainedJobs": "100000",
            "spark.ui.retainedStages": "100000",
            "spark.sql.ui.retainedExecutions": "100000",
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    # session ready = Python workers up, as in any long-lived service
    n = int(os.environ["SPARK_GRAFT_CPUS"])
    spark.range(0, n, 1, n).mapInPandas(lambda it: it, "id long").collect()
    return spark


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    spark.stop()
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    gw.shutdown()
    if proc is not None:
        try:
            proc.stdin.close()
        except OSError:
            pass
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak RSS of the Python driver and of the JVM, in MB."""
    py = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024.0
    pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
    jvm = 0.0
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm = int(line.split()[1]) / 1024.0
    return py, jvm


def code_identity() -> dict:
    """The checkout's git commit (None outside a git repository) and a
    digest of the package sources, which identifies the code either way."""
    commit = None
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10,
            env={**os.environ, "GIT_CEILING_DIRECTORIES": os.path.dirname(ROOT)},
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        pass
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "crypto_market_tracker_etl_spark")
    for r, _dirs, fs in sorted(os.walk(pkg)):
        for f in sorted(fs):
            if f.endswith(".py"):
                with open(os.path.join(r, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {"git_commit": commit, "source_sha256": h.hexdigest()[:16]}


def traced_layers(wl, tracer, window) -> tuple[dict, dict]:
    """Per-layer metrics of a traced run, and the trace summary."""
    from layers import PER_LAYER, stage_layer_metrics
    from tracing import self_times, union_seconds

    harvest = tracer.harvest()
    # only the timed phase: the output check also calls wrapped methods
    spans = [s for s in tracer.spans if window[0] <= s.start and s.end <= window[1]]
    metrics = {name: 0.0 for name in PER_LAYER}
    metrics.update(stage_layer_metrics(spans, harvest))
    metrics.update(wl.layer_counts(spans, harvest))
    selfs = self_times(spans)
    by_layer: dict[str, float] = {}
    for s in spans:
        by_layer[s.layer] = by_layer.get(s.layer, 0.0) + selfs[s.id]
    top = [(s.start, s.end) for s in spans if s.parent is None]
    wall = window[1] - window[0]
    metrics["unattributed_s"] = wall - union_seconds(top)
    summary = {"timed_wall_s": wall, "self_s_by_layer": by_layer,
               "unattributed_s": metrics["unattributed_s"]}
    unknown = set(metrics) - set(PER_LAYER)
    if unknown:
        raise KeyError(f"per-layer metrics missing from the list: {sorted(unknown)}")
    return metrics, summary


def main(argv) -> int:
    args = parse_args(argv)
    sys.path.insert(0, HERE)
    sys.path.insert(0, ROOT)
    import crypto_market_tracker_etl_spark  # noqa: F401  (fails fast without the program)
    from layers import PER_LAYER
    from oracle import CheckFailed
    from tracing import NullTracer, Tracer
    from workloads import WORKLOADS, clear

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    run_id = f"{args.workload}-{args.seed}-{uuid.uuid4().hex[:8]}"
    tmp = os.path.join(ROOT, ".perfbench_tmp", run_id)
    os.makedirs(tmp)
    cpus = args.cpus or min(2, usable_cpus())
    pin_environment(tmp, cpus)
    spark = None
    try:
        spark = start_session(tmp)
        session_s, session_cpu_s = time.perf_counter() - T_START, tree_cpu_s()
        tracer = Tracer(spark, run_id) if args.trace else NullTracer()
        wl = WORKLOADS[args.workload](spark, tracer, args.seed, args.seconds, tmp)
        wl.prepare()
        stage_s, stage_cpu_s = [], []
        for i in range(SETUP_REPEATS):
            if i:
                clear(os.path.join(tmp, f"stage{i - 1}"))
            t, c = time.perf_counter(), tree_cpu_s()
            wl.stage(wl.stage_dir(i))
            stage_s.append(time.perf_counter() - t)
            stage_cpu_s.append(tree_cpu_s() - c)
        t0, c0 = time.perf_counter(), tree_cpu_s()
        wl.run()
        t1, c1 = time.perf_counter(), tree_cpu_s()
        rss = peak_rss_mb(spark)
        correct, why = True, None
        try:
            wl.check()
        except CheckFailed as e:
            correct, why = False, str(e)
        check_s = time.perf_counter() - t1
        rep = wl.report()
        e2e = {
            "setup_s": session_cpu_s + statistics.median(stage_cpu_s),
            "setup_wall_s": session_s + statistics.median(stage_s),
            "timed_phase_s": rep["timed_s"],
            "timed_cpu_s": c1 - c0,
            "read_mean_s": rep["read_mean_s"],
            "read_cpu_s": rep["read_cpu_s"],
            "write_p50_s": rep["write_p50_s"],
            "write_cpu_s": rep["write_cpu_s"],
            "bulk_s": rep["bulk_s"],
            "bulk_cpu_s": rep["bulk_cpu_s"],
            "peak_rss_mb": sum(rss),
        }
        reported = {k: (v, "MB" if k == "peak_rss_mb" else "s") for k, v in e2e.items()}
        reported.update(rep["reported"], failed_ratio=(wl.failed / max(wl.attempted, 1), "ratio"))
        detail = {
            "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
            "trace": args.trace, "local_threads": cpus,
            "spark_version": spark.version, **code_identity(),
            "session_s": session_s, "stage_s": stage_s, "timed_s": t1 - t0, "check_s": check_s,
            "latencies_s": wl.lat, "request_cpu_s": wl.cpu, "stage_cpu_s": stage_cpu_s,
            "peak_rss_py_jvm_mb": rss,
            "check": why or "ok", "end_to_end": e2e,
        }
        os.makedirs(OUT_DIR, exist_ok=True)
        base = os.path.join(OUT_DIR, f"{args.workload}-seed{args.seed}")
        if args.trace:
            metrics, summary = traced_layers(wl, tracer, (t0, t1))
            out = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in metrics.items()}
            prior = base + "-trace0.json"
            if os.path.exists(prior):
                with open(prior) as f:
                    untraced = json.load(f)["end_to_end"]
                summary["tracing_overhead"] = {k: e2e[k] - untraced[k] for k in e2e if k in untraced}
            detail["trace_summary"] = summary
            tracer.write(base + "-spans.json", (t0, t1), {"summary": summary, "per_layer": metrics})
        else:
            out = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}
        with open(base + f"-trace{args.trace}.json", "w") as f:
            json.dump(detail, f, indent=1)
        for name, (value, unit) in sorted(reported.items()):
            if isinstance(value, dict):
                print(f"metric {name} {value['value']:.6g} {unit} "
                      f"(p{value['percentile']:g} of n={value['n']})")
            else:
                print(f"metric {name} {value:.6g} {unit}")
        print(json.dumps(detail))
        print(json.dumps({"correct": correct, "attempted": wl.attempted,
                          "failed": wl.failed, "metrics": out}))
        return 0 if correct else 1
    finally:
        if spark is not None:
            stop_session(spark)
        clear(tmp)
        try:
            os.rmdir(os.path.dirname(tmp))
        except OSError:
            pass


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
