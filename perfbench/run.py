#!/usr/bin/env python3
"""Run one benchmark workload as a closed loop and print its metrics.

    python3 perfbench/run.py --workload star_snapshot --seed 1 \\
        --seconds 10 --trace 0

Run from the repository root. The input tables are the copies of the
sf0.1 test tables under ``perfbench/data/``; ``--seed`` fixes every
iteration's sample and operator seeds. Spark's scratch files go to
``.perfbench_work/`` (removed again on exit); the session runs on
``local[4]``. Each iteration starts when the previous one has finished;
its output checks, cache clearing and the leak probe run after it,
outside the timed window. ``--trace 1`` alternates traced and untraced
iterations and reports the per-layer split plus the tracing overhead.

The last stdout line is one compact JSON object:
``{"correct", "attempted", "failed", "metrics"}``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
DATA = HERE / "data"  # byte-identical copies of the sf0.1 test tables
CORES = 4  # local[4] on any host, so runs on different hosts compare
# the session's default of 8 GiB is too much for a host shared with others
DRIVER_MEMORY = "2g"
TAIL_BEYOND = 10  # iterations that must lie above the tail percentile
WARMUP = 1_000_000  # first iteration index whose seeds the warm-ups use
T_START = time.perf_counter()


def _iter_seed(seed: int, i: int) -> int:
    """Iteration ``i``'s seed: a fixed function of the run seed."""
    return (seed * 7919 + i) % 2_000_000_000 + 1


def _parse_args(argv):
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args(argv)
    if args.seconds <= 0:
        p.error("--seconds must be positive")
    return args


def _prepare_env(work: Path) -> None:
    """Keep every file the run writes inside ``work``, and let Spark's
    Python workers import the package from the checkout."""
    tmp, local = work / "tmp", work / "spark-local"
    shutil.rmtree(work, ignore_errors=True)
    tmp.mkdir(parents=True)
    local.mkdir()
    os.environ["TMPDIR"] = str(tmp)
    tempfile.tempdir = str(tmp)
    old = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + old if old else "")
    os.environ["SPARK_GRAFT_CPUS"] = str(CORES)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        "--conf spark.ui.showConsoleProgress=false "
        f"--driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
    )
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))


def _inputs(tables) -> dict[str, str]:
    """Paths of the input tables, after checking each file against
    ``data/SHA256SUMS`` so a run never measures altered inputs."""
    lines = (DATA / "SHA256SUMS").read_text().splitlines()
    sums = {name: digest for digest, name in map(str.split, lines)}
    paths = {}
    for t in tables:
        f = DATA / f"{t}.parquet"
        if hashlib.sha256(f.read_bytes()).hexdigest() != sums[f.name]:
            sys.exit(f"perfbench: {f} does not match data/SHA256SUMS")
        paths[t] = str(f)
    return paths


def _import_package():
    """The package under test must be the checkout's own copy."""
    try:
        import parquet_sampler_spark
    except ImportError as exc:
        sys.exit(f"perfbench: cannot import the package from {ROOT}: {exc}")
    origin = Path(parquet_sampler_spark.__file__).resolve()
    if ROOT not in origin.parents:
        sys.exit(f"perfbench: package resolved outside the checkout: {origin}")


# ---------------------------------------------------------------------------
# process probes
# ---------------------------------------------------------------------------

def _jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def _reset_peak(pids) -> None:
    for pid in pids:
        with open(f"/proc/{pid}/clear_refs", "w") as f:
            f.write("5")  # resets VmHWM to the current RSS


def _peak_rss_mb(pids) -> float:
    total = 0
    for pid in pids:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    total += int(line.split()[1])
    return total / 1024.0


def _tree_entries(path: Path) -> int:
    return sum(len(d) + len(f) for _, d, f in os.walk(path))


def _stop_session() -> None:
    from pyspark.sql import SparkSession

    try:
        spark = SparkSession.getActiveSession()
        if spark is not None:
            spark.stop()
    except Exception:
        pass  # the JVM is already going away; _shutdown_jvm still runs


def _shutdown_jvm() -> None:
    from pyspark import SparkContext

    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the JVM exits on EOF from its parent
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------

def _tail(times: list[float]) -> tuple[float, float]:
    """Highest percentile with at least TAIL_BEYOND iterations above it:
    ``(value, percentile)``. Falls back to the slowest iteration (p100)
    when the loop ran too few iterations for any percentile to qualify."""
    s = sorted(times)
    idx = len(s) - 1 - TAIL_BEYOND
    if idx < 0:
        return s[-1], 100.0
    return s[idx], 100.0 * (idx + 1) / len(s)


def main(argv=None) -> int:
    args = _parse_args(argv)
    # a terminated run still stops its JVM and removes its work dir
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    work = ROOT / ".perfbench_work" / f"run-{os.getpid()}"
    try:
        _prepare_env(work)
        _import_package()

        import layers
        import workloads as wl

        if args.workload not in wl.WORKLOADS:
            sys.exit(f"perfbench: unknown workload {args.workload!r}; "
                     f"choose from {', '.join(wl.WORKLOADS)}")
        try:
            return _run(args, work, layers, wl)
        finally:
            _stop_session()
            _shutdown_jvm()
    finally:
        shutil.rmtree(work, ignore_errors=True)
        try:
            work.parent.rmdir()  # only if no other run is using it
        except OSError:
            pass


def _run(args, work: Path, layers, wl) -> int:
    import duckdb
    import pyarrow.parquet as pq

    from parquet_sampler_spark import queries
    from parquet_sampler_spark.session import get_spark
    from spans import Tracer

    name = args.workload
    star = name in wl.RATIOS
    tables = wl.STAR_TABLES if star else wl.CORPUS_TABLES
    data = _inputs(tables)
    rows_in = sum(pq.ParquetFile(data[t]).metadata.num_rows for t in tables)
    out = str(work / "out")
    tmp = work / "tmp"
    con = duckdb.connect()
    con.execute(f"SET threads TO {CORES}")

    def iteration(spark, tr, seed):
        if star:
            return wl.star_iteration(spark, tr, data, out, wl.RATIOS[name], seed)
        return wl.corpus_iteration(spark, tr, data, seed)

    def check(res):
        return (wl.star_check if star else wl.corpus_check)(con, data, res)

    attempted = failed = 0
    phases = {"start": time.perf_counter() - T_START, "checks": 0.0}

    def attempt(spark, tr, seed):
        """One iteration: ``(seconds, counts or None)``; checks excluded."""
        nonlocal attempted, failed
        attempted += 1
        wl.clear_outputs(out)
        t0 = time.perf_counter()
        try:
            res = iteration(spark, tr, seed)
        except Exception:
            dt = time.perf_counter() - t0
            failed += 1
            traceback.print_exc()
            return dt, None
        dt = time.perf_counter() - t0
        t1 = time.perf_counter()
        try:
            return dt, check(res)
        except Exception as exc:
            failed += 1
            print(f"perfbench: check failed (seed {seed}): {exc!r}",
                  file=sys.stderr)
            return dt, None
        finally:
            phases["checks"] += time.perf_counter() - t1

    # -- set-up: session (JVM launch included) + one warm-up iteration -------
    t0 = time.perf_counter()
    spark = get_spark("perfbench")
    session_s = time.perf_counter() - t0
    off = Tracer(None, enabled=False)
    warm_s, _ = attempt(spark, off, _iter_seed(args.seed, WARMUP))
    setup_s = session_s + warm_s  # the warm-up's output check is not set-up
    queries.clear_caches()
    phases["setup"] = setup_s
    # -- untimed warm-ups until the JVM's step time has levelled off ----------
    t0 = time.perf_counter()
    for j in range(1, wl.WARMUPS[name] + 1):
        attempt(spark, off, _iter_seed(args.seed, WARMUP + j))
        queries.clear_caches()
    phases["warm-up"] = time.perf_counter() - t0
    sc = spark.sparkContext

    def persisted() -> int:
        return int(sc._jsc.getPersistentRDDs().size())

    base_rdds, base_tmp = persisted(), _tree_entries(tmp)
    pids = [os.getpid(), _jvm_pid()]

    # -- timed window ----------------------------------------------------------
    tracer = Tracer(spark, enabled=False)
    plain, traced, layer_rows, count_rows = [], [], [], []
    growth_rdds = growth_tmp = 0
    _reset_peak(pids)
    window = 0.0
    i = 0
    # a traced run runs untraced (U) and traced (T) iterations in whole
    # U T T U cycles, so that a steady drift in step time cancels out of
    # the tracing overhead
    while window < args.seconds or (args.trace and i % 4):
        tracer.enabled = bool(args.trace) and (i % 2 == 1) != (i // 2 % 2 == 1)
        tracer.reset()
        dt, counts = attempt(spark, tracer, _iter_seed(args.seed, i))
        window += dt
        (traced if tracer.enabled else plain).append(dt)
        pinned = persisted()
        queries.clear_caches()
        growth_rdds = max(growth_rdds, persisted() - base_rdds)
        growth_tmp = max(growth_tmp, _tree_entries(tmp) - base_tmp)
        if tracer.enabled:
            row = layers.layer_row(tracer, counts)
            row["plans.cache.persisted_rdds"] = pinned
            layer_rows.append(row)
            count_rows.append(layers.count_row(tracer, counts))
        i += 1
    peak_mb = _peak_rss_mb(pids)
    phases["window"] = window

    # end-to-end figures come from untraced iterations only
    tail, pct = _tail(plain)
    e2e = {
        "setup_s": (setup_s, "s"),
        "iter_s_p50": (statistics.median(plain), "s"),
        "iter_s_tail": (tail, "s"),
        "rows_per_s": (rows_in * len(plain) / sum(plain), "1/s"),
        "peak_rss_mb": (peak_mb, "MiB"),
    }
    error_rate = failed / attempted
    for k, (v, unit) in e2e.items():
        extra = f"  (p{pct:.0f} of {len(plain)} iterations)" if k == "iter_s_tail" else ""
        print(f"{name}: {k} = {v:.6g} {unit}{extra}")
    print(f"{name}: error_rate = {error_rate:.6g}  ({failed} of {attempted} "
          "iterations, warm-ups included)")
    print(f"{name}: leak guard: persisted RDDs +{growth_rdds}, temp entries "
          f"+{growth_tmp} over the post-warm-up level")

    print(f"{name}: iterations (s): " + " ".join(f"{t:.3f}" for t in plain))
    phases["total"] = time.perf_counter() - T_START
    print(f"{name}: phases (s): " + ", ".join(
        f"{k} {v:.1f}" for k, v in phases.items()))

    if args.trace:
        overhead = (statistics.median(traced) / statistics.median(plain)
                    if traced and plain else 0.0)
        report = layers.report(layer_rows, session_s, overhead,
                               growth_rdds, growth_tmp)
        print("trace: " + json.dumps(report, separators=(",", ":")))
        print("counts: " + json.dumps(count_rows, separators=(",", ":")))
        metrics = layers.digest(report)
    else:
        metrics = {k: {"value": v, "unit": u} for k, (v, u) in e2e.items()}
    print(json.dumps({
        "correct": failed == 0, "attempted": attempted, "failed": failed,
        "metrics": metrics,
    }, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    sys.exit(main())
