"""Seeded end-to-end benchmark of the engine, with an optional traced run.

    python3 perfbench/run.py --workload traj_search --seed 1 --seconds 15 --trace 0

Run from the repository root. One invocation:

1. writes the seeded inputs for ``--seed`` (``gen.py``), cached under
   ``.perfbench/`` in the repository root;
2. sets the engine up five times in one process (``session.get_session``,
   ``registry.load_all`` on a fresh import, one warm-up query); the first
   set-up also launches the JVM;
3. runs one untimed verification pass: every key of the workload is
   built, collected and compared with its DuckDB oracle on the same
   inputs (oracle results are cached per input directory, key and
   oracle SQL);
4. measures whole passes over the workload's keys for ``--seconds``
   (at least three passes):
   one client, each query built by ``registry.QUERIES[key](spark, dir)``
   and forced with a noop-sink write, the next one starting when the
   previous one ends.

With ``--trace 0`` the last stdout line carries the end-to-end metrics.
With ``--trace 1`` the measured time is split: untraced passes first,
then the session is restarted with an uncompressed event log, job groups
per ``(key, phase, pass)``, spans around the calls into each layer and a
streaming-query listener, and traced passes follow. The last line then
carries the per-layer metrics; spans and the folded log are written to
``.perfbench/trace/``. The line before the result is an environment
record (versions, cpus, rows per table, failing keys).
"""

from __future__ import annotations

import argparse
import hashlib
import json
import os
import platform
import shlex
import shutil
import statistics
import subprocess
import sys
import tempfile
import time
import traceback

T_START = time.time()
HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
PACKAGE = "traj_sim_spark_spark"
SETUPS = 5
MIN_PASSES = 3
WARMUP_KEY = "rel_scan_project"

sys.path.insert(0, HERE)

import gen  # noqa: E402
import oracle  # noqa: E402
import layers  # noqa: E402
import procstat  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


def _engine():
    """(Re-)import the engine package from the repository root."""
    import importlib

    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    registry = importlib.import_module(f"{PACKAGE}.registry")
    session = importlib.import_module(f"{PACKAGE}.session")
    tables = importlib.import_module(f"{PACKAGE}.tables")
    return registry, session, tables


def _purge_engine() -> None:
    for name in [m for m in sys.modules if m == PACKAGE or m.startswith(PACKAGE + ".")]:
        del sys.modules[name]


def _configure_env(cpus: int, run_dir: str) -> None:
    tmp = os.path.join(run_dir, "tmp")
    local = os.path.join(run_dir, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = local
    os.environ["TMPDIR"] = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    # C1 only: with tiered C2 compilation the JIT kept one or two of four
    # cores busy through the whole timed window and each pass ran faster
    # than the last; with C1 alone the passes level off by the second.
    # Compiler threads stay alive so procstat can subtract their time.
    java_opts = (
        f"-Djava.io.tmpdir={tmp} -XX:TieredStopAtLevel=1 "
        "-XX:-UseDynamicNumberOfCompilerThreads"
    )
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options {shlex.quote(java_opts)} "
        "--conf spark.ui.showConsoleProgress=false "
        f"--conf spark.sql.warehouse.dir={os.path.join(run_dir, 'warehouse')} "
        "pyspark-shell"
    )
    tempfile.tempdir = None  # re-read TMPDIR


def _noop(df) -> None:
    df.write.format("noop").mode("overwrite").save()


class Bench:
    def __init__(self, workload, seed: int, seconds: float, trace: bool):
        self.wl = workload
        self.seed = seed
        self.seconds = seconds
        self.trace = trace
        self.cpus = len(os.sched_getaffinity(0))
        self.state_dir = STATE
        self.run_dir = os.path.join(STATE, "runs", f"{os.getpid()}")
        self.attempted = 0
        self.failures: dict[str, str] = {}
        self.n_failed = 0
        self.spark = None
        self.spark_version = None
        self.verify_s = None
        self.pass_walls: list[float] = []
        self.key_best: dict[str, float] = {}
        self.window_counters: dict[str, int] = {}
        self.inputs_s = None
        self.peak_rss_mb = None
        self.setups: list[dict] = []

    # -- set-up --------------------------------------------------------------

    def setup_once(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None
        _purge_engine()
        t0 = time.perf_counter()
        self.registry, self.session, self.tables = _engine()
        spark = self.session.get_session("perfbench")
        t1 = time.perf_counter()
        self.registry.load_all()
        t2 = time.perf_counter()
        _noop(self.registry.QUERIES[WARMUP_KEY](spark, self.sf_dir))
        t3 = time.perf_counter()
        self.spark = spark
        self.setups.append(
            {"create_s": t1 - t0, "load_all_s": t2 - t1, "warmup_s": t3 - t2, "setup_s": t3 - t0}
        )

    # -- correctness ---------------------------------------------------------

    def _fail(self, key: str, why: str) -> None:
        self.n_failed += 1
        self.failures.setdefault(key, why)

    def oracle_digests(self) -> dict[str, dict]:
        """DuckDB results for every key, computed before the JVM starts so
        the two never compete for cores."""
        registry, _session, tables = _engine()
        registry.load_all()
        cache = oracle.OracleCache(
            self.sf_dir,
            os.path.join(STATE, "oracle", os.path.basename(self.sf_dir)),
            tables.TABLE_NAMES,
            self.cpus,
        )
        try:
            return {k: cache.get(k, registry.ORACLES[k]) for k in self.wl.keys}
        finally:
            cache.close()

    def verify(self, wants: dict[str, dict]) -> None:
        for key in self.wl.keys:
            self.attempted += 1
            try:
                got = oracle.digest(self.registry.QUERIES[key](self.spark, self.sf_dir).toPandas())
            except Exception as e:  # noqa: BLE001 - a failing key is reported, not fatal
                self._fail(key, f"raised {type(e).__name__}: {str(e)[:200]}")
                continue
            bad = oracle.mismatch(got, wants[key])
            if bad:
                self._fail(key, bad)

    # -- timed passes ----------------------------------------------------------

    def run_key(self, key: str) -> None:
        self.attempted += 1
        try:
            _noop(self.registry.QUERIES[key](self.spark, self.sf_dir))
        except Exception as e:  # noqa: BLE001
            self._fail(key, f"raised {type(e).__name__}: {str(e)[:200]}")

    def passes(self, seconds: float, run_pass, min_passes: int = MIN_PASSES) -> list[dict]:
        """Whole passes until ``seconds`` have gone by, and at least
        ``min_passes``: the first pass after the cold verification pass is
        still warming up, so a measured run gives every key at least two
        warmer executions. Each half of a traced run takes two passes or
        more, so that the traced run fits in about the same time."""
        out = []
        end = time.perf_counter() + seconds
        while True:
            w0 = time.time()
            t0 = time.perf_counter()
            per_key = run_pass(len(out))
            out.append(
                {"wall_s": time.perf_counter() - t0, "keys": per_key, "t0": w0, "t1": time.time()}
            )
            if len(out) >= min_passes and time.perf_counter() >= end:
                return out

    def plain_pass(self, _index: int) -> dict[str, dict]:
        """Each key's wall time and process-tree CPU seconds."""
        out = {}
        for key in self.wl.keys:
            c0 = procstat.cpu_snapshot()
            t0 = time.perf_counter()
            self.run_key(key)
            wall = time.perf_counter() - t0
            out[key] = {"wall_s": wall, "cpu_s": procstat.cpu_seconds(c0, procstat.cpu_snapshot())}
        return out

    # -- the run ---------------------------------------------------------------

    def run(self) -> dict:
        self.sf_dir = gen.ensure_inputs(os.path.join(STATE, "data"), self.seed)
        _configure_env(self.cpus, self.run_dir)
        wants = self.oracle_digests()
        self.inputs_s = time.time() - T_START
        for _ in range(SETUPS):
            self.setup_once()
        self.spark_version = self.spark.version
        t0 = time.perf_counter()
        self.verify(wants)
        self.verify_s = time.perf_counter() - t0
        if self.trace:
            plain = self.passes(self.seconds / 2, self.plain_pass, min_passes=2)
            return layers.traced_run(self, plain)
        c0 = self._host_counters()
        plain = self.passes(self.seconds, self.plain_pass)
        c1 = self._host_counters()
        self.window_counters = {k: c1[k] - c0[k] for k in c0}
        self.pass_walls = [p["wall_s"] for p in plain]
        self.peak_rss_mb = procstat.peak_rss_mb(procstat.tree())
        best = layers.best_per_key(plain)
        self.key_best = {k: b["wall_s"] for k, b in best.items()}
        return {
            "setup_s": {"value": statistics.median(s["setup_s"] for s in self.setups), "unit": "s"},
            "wall_s": {"value": sum(b["wall_s"] for b in best.values()), "unit": "s"},
            "cpu_s": {"value": sum(b["cpu_s"] for b in best.values()), "unit": "s"},
            "query_p50_s": {"value": statistics.median(b["wall_s"] for b in best.values()), "unit": "s"},
        }

    def _host_counters(self) -> dict:
        """JVM GC and JIT milliseconds and host CPU ticks (busy, stolen by
        the hypervisor): they explain a slow run in the environment record."""
        mf = self.spark._jvm.java.lang.management.ManagementFactory
        with open("/proc/stat") as fh:
            f = fh.readline().split()
        return {
            "gc_ms": sum(b.getCollectionTime() for b in mf.getGarbageCollectorMXBeans()),
            "jit_ms": mf.getCompilationMXBean().getTotalCompilationTime(),
            "steal_ticks": int(f[8]),
            "busy_ticks": sum(int(x) for x in f[1:9]) - int(f[4]) - int(f[5]),
        }

    def environment(self) -> dict:
        import duckdb
        import pyspark

        return {
            "workload": self.wl.name,
            "keys": list(self.wl.keys),
            "seed": self.seed,
            "seconds": self.seconds,
            "trace": int(self.trace),
            "nproc": os.cpu_count(),
            "spark_cpus": self.cpus,
            "rows": gen.row_counts(self.sf_dir),
            "spark": self.spark_version,
            "pyspark": pyspark.__version__,
            "duckdb": duckdb.__version__,
            "python": platform.python_version(),
            "commit": _git_commit(),
            "source_sha256": _source_hash(),
            "setups": self.setups,
            "verify_s": self.verify_s,
            "inputs_s": self.inputs_s,
            "pass_walls": self.pass_walls,
            "key_best_s": self.key_best,
            "timed_window_counters": self.window_counters,
            "peak_rss_mb": self.peak_rss_mb,
            "attempted": self.attempted,
            "failed": self.n_failed,
            "fail_ratio": self.n_failed / max(self.attempted, 1),
            "failing_keys": self.failures,
        }


def _stop_jvm() -> None:
    """End the JVM pyspark launched, and its Python workers, and wait for
    every descendant of this process to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is not None:
        proc = getattr(gateway, "proc", None)
        gateway.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()  # the gateway server exits when its stdin closes
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
    deadline = time.time() + 60
    while len(procstat.tree()) > 1 and time.time() < deadline:
        time.sleep(0.2)
    for pid in procstat.tree()[1:]:
        try:
            os.kill(pid, 9)
        except OSError:
            pass


def _git_commit() -> str | None:
    if not os.path.exists(os.path.join(ROOT, ".git")):
        return None
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10, check=False,
        )
    except OSError:
        return None
    return out.stdout.strip() or None


def _source_hash() -> str:
    """sha256 over the engine package's Python files (the checkout may not
    be a git repository)."""
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, PACKAGE)
    for dirpath, dirnames, filenames in os.walk(pkg):
        dirnames[:] = sorted(d for d in dirnames if d != "__pycache__")
        for f in sorted(filenames):
            if f.endswith(".py"):
                p = os.path.join(dirpath, f)
                h.update(os.path.relpath(p, ROOT).encode())
                with open(p, "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        print(f"engine package {PACKAGE}/ not found under {ROOT}", file=sys.stderr)
        return 2
    bench = Bench(WORKLOADS[args.workload], args.seed, args.seconds, bool(args.trace))
    try:
        metrics = bench.run()
    except Exception:  # noqa: BLE001 - report and fail the run without a result line
        traceback.print_exc()
        return 1
    finally:
        if bench.spark is not None:
            bench.spark.stop()
        _stop_jvm()
        shutil.rmtree(bench.run_dir, ignore_errors=True)
    env = bench.environment()
    env["process_s"] = time.time() - T_START
    print(json.dumps(env, sort_keys=True))
    print(
        json.dumps(
            {
                "correct": bench.n_failed == 0,
                "attempted": bench.attempted,
                "failed": bench.n_failed,
                "metrics": metrics,
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
