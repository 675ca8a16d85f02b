"""End-to-end benchmark of the engine: one single-client closed-loop workload
per run, timed from outside through the engine's public functions.

    python3 perfbench/run.py --workload sql_mix --seed 1 --seconds 6 --trace 0

Run from the repository root. The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}``; the line before it repeats
the metrics with sample counts and host calibration. ``--trace 0`` reports
the end-to-end metrics, ``--trace 1`` the per-layer ones (see README.md).
Inputs are the engine's sf0.01 test tables, copied byte for byte into
``perfbench/data/``; ``--seed`` picks the op order of every pass and, on
``acid_ingest``, the inserted batch and the shard slice.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import math
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time
import traceback

import tracing
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
STATE = os.path.join(ROOT, ".perfbench")
DATA_DIR = os.path.join(HERE, "data", "sf0.01")
# what the cached oracle results depend on: the engine (queries and their
# oracle SQL), the oracle's row normalization, the checksum and the inputs
ORACLE_DEPS = ("hdp2_5_hive2_spark", os.path.join("tests", "oracle.py"),
               os.path.join("perfbench", "workloads.py"), os.path.join("perfbench", "data"))

CPUS = "2"
DRIVER_MEM = "1g"
SETUPS = 3  # session + catalog set-ups per run; setup_s takes their median
MIN_PASSES = 2  # per untraced run, and per phase of a traced run
RSS_PERIOD_S = 0.5


_T0 = time.perf_counter()


def _log(msg: str) -> None:
    """Progress on stderr; stdout carries only the result lines."""
    print(f"perfbench {time.perf_counter() - _T0:7.2f}s {msg}", file=sys.stderr, flush=True)


def _parse() -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", required=True)
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return p.parse_args()


def _pin_environment(run_dir: str) -> dict[str, str]:
    """Noise controls and run-local scratch, set before the engine is imported
    (session.py reads SPARK_GRAFT_CPUS at import). Returns the Spark confs
    every session of the run starts with."""
    for sub in ("local", "io", "tmp", "warehouse"):
        os.makedirs(os.path.join(run_dir, sub), exist_ok=True)
    os.environ.update(
        SPARK_GRAFT_CPUS=CPUS,
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_LOCAL_DIRS=os.path.join(run_dir, "local"),
        SPARK_GRAFT_IO_DIR=os.path.join(run_dir, "io"),
        TMPDIR=os.path.join(run_dir, "tmp"),
        TZ="UTC",
        PYSPARK_PYTHON=sys.executable,
        PYTHONPATH=os.pathsep.join(p for p in (ROOT, os.environ.get("PYTHONPATH")) if p),
    )
    time.tzset()
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        # a fixed, pre-touched heap: JVM resident memory does not depend on
        # when the collector last ran. A serial collector and the C1 JIT only
        # keep the JVM's background work from competing with the two task
        # threads for the host's cores. With C2 a pass used ~2.4 cores and
        # pass time kept falling for ten passes (35% in all), so the passes
        # a run can afford measured how far C2 had got; with C1 most code is
        # compiled within the warm-up pass and a pass uses ~1.4 cores
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(run_dir, 'tmp')} -Xms{DRIVER_MEM} "
            "-XX:+AlwaysPreTouch -XX:+UseSerialGC -XX:TieredStopAtLevel=1",
    }


# ------------------------------------------------------------------- inputs


def _deps_key() -> str:
    """Hash of every file the oracle results depend on (ORACLE_DEPS)."""
    h = hashlib.sha256()
    for dep in ORACLE_DEPS:
        top = os.path.join(ROOT, dep)
        files = [top] if os.path.isfile(top) else sorted(
            os.path.join(d, f) for d, _, fs in os.walk(top)
            if "__pycache__" not in d for f in fs if not f.endswith(".pyc")
        )
        for path in files:
            h.update(os.path.relpath(path, ROOT).encode() + b"\0")
            with open(path, "rb") as fh:
                h.update(hashlib.sha256(fh.read()).digest())
    return h.hexdigest()[:16]


def _oracle() -> tuple[str, dict[str, str]]:
    """DuckDB oracle digests of every query op, computed on first use for
    this version of the code and data. Returns (cache dir, {query: digest});
    the cache dir also holds the checksums already verified against them."""
    final = os.path.join(STATE, f"oracle-{_deps_key()}")
    if not os.path.isdir(final):
        tmp = f"{final}.tmp{os.getpid()}"
        os.makedirs(tmp)
        digests = workloads.oracle_digests(DATA_DIR, workloads.SQL_MIX + workloads.LLM_DEDUP)
        with open(os.path.join(tmp, "oracle.json"), "w") as fh:
            json.dump(digests, fh, indent=1)
        try:
            os.rename(tmp, final)
        except OSError:  # another run finished first; its copy is identical
            shutil.rmtree(tmp, ignore_errors=True)
    with open(os.path.join(final, "oracle.json")) as fh:
        return final, json.load(fh)


# ------------------------------------------------------------ process tree


def _tree_pids(root_pid: int) -> list[int]:
    """``root_pid`` and every descendant, found through the kernel's
    per-thread ``children`` lists rather than a scan of every process."""
    out, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        out.append(pid)
        try:
            tids = os.listdir(f"/proc/{pid}/task")
        except OSError:
            continue  # exited
        for tid in tids:
            try:
                with open(f"/proc/{pid}/task/{tid}/children") as fh:
                    todo.extend(int(c) for c in fh.read().split())
            except OSError:
                pass
    return out


def _tree_cpu_s(root_pid: int) -> float:
    """User + system CPU seconds of the live processes in the tree."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as fh:
                stat = fh.read()
        except OSError:
            continue
        fields = stat[stat.rfind(")") + 2:].split()
        total += int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def _tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size summed over ``root_pid`` and its descendants:
    pages shared between forked workers count once, not once per fork."""
    total = 0
    for pid in _tree_pids(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as fh:
                for line in fh:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
    return total


class RssSampler:
    """Peak memory (PSS) of this process, the JVM and the Python workers,
    sampled every RSS_PERIOD_S while active. The peak is taken over a
    three-sample running median, so a child caught mid-spawn (briefly
    sharing its parent's pages) is not a peak."""

    def __init__(self):
        self.readings: list[int] = []
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self):
        while not self._stop.is_set():
            self.readings.append(_tree_pss_bytes(os.getpid()))
            self._stop.wait(RSS_PERIOD_S)

    @property
    def peak(self) -> int:
        r = self.readings
        return max(sorted(r[i:i + 3])[1] for i in range(len(r) - 2)) if len(r) >= 3 else max(r)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ------------------------------------------------------------------ session


class Engine:
    """The Spark session and the workload's ops; restartable in one JVM."""

    def __init__(self, workload: str, data_dir: str, run_dir: str, seed: int, conf: dict):
        self.workload, self.data_dir, self.run_dir, self.seed = workload, data_dir, run_dir, seed
        self.conf = conf
        self.spark = None
        self.tables = None
        self.cycle = None

    def start(self, extra: dict[str, str] | None = None) -> tuple[float, float]:
        """(session start s, catalog registration s) of a fresh SparkContext."""
        from hdp2_5_hive2_spark import catalog
        from hdp2_5_hive2_spark.session import get_session

        self.stop()
        t0 = time.perf_counter()
        self.spark = get_session(app_name="perfbench", extra_conf={**self.conf, **(extra or {})})
        self.spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        self.tables = catalog.load_tables(self.spark, self.data_dir)
        for name in workloads.TABLES[self.workload]:
            self.tables[name].schema  # resolve the tables now, not inside an op
        return t1 - t0, time.perf_counter() - t1

    def ops(self):
        if self.workload != "acid_ingest":
            return workloads.query_ops(self.spark, self.data_dir, workloads.WORKLOADS[self.workload])
        if self.cycle is None:
            self.cycle = workloads.AcidCycle(self.spark, self.data_dir, self.run_dir, self.seed)
            self.cycle.create(self.tables["orders"])
        self.cycle.spark = self.spark
        return self.cycle.ops(self.tables["orders"], self.tables["documents"])

    def stop(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None

    def shutdown(self) -> None:
        """Stop Spark and wait for the JVM (and with it the Python workers)."""
        from pyspark import SparkContext

        try:
            self.stop()
        except Exception:  # still stop the JVM below, e.g. after an interrupted call
            traceback.print_exc(file=sys.stderr)
            self.spark = None
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()


# -------------------------------------------------------------------- passes


class Runner:
    """Runs passes over the workload's ops and keeps every sample."""

    def __init__(self, engine: Engine, tracer, traced: bool):
        self.engine, self.tracer, self.traced = engine, tracer, traced
        self.reference: dict[str, object] = {}
        self.samples: list[dict] = []  # one per timed op execution
        self.pass_s: list[float] = []
        self.cycles: list[dict[str, float]] = []

    def run_pass(self, ops, order, pass_id: str, timed: bool, keep: dict | None = None) -> float:
        sc = self.engine.spark.sparkContext
        cycle = self.engine.cycle
        cpu0 = _tree_cpu_s(os.getpid())
        t_pass = time.perf_counter()
        with self.tracer.span("pass"):
            for i in order:
                op = ops[i]
                rec = {"pass": pass_id, "op": op.name, "ok": False}
                built = None
                with self.tracer.span("op", op.name):
                    try:
                        if self.traced:
                            sc.setJobGroup(f"{pass_id}:{op.name}:build", op.name)
                        rec["t0"] = time.time()
                        t0 = time.perf_counter()
                        with self.tracer.span("build", op.name):
                            built = op.build()
                        t1 = time.perf_counter()
                        if self.traced:
                            sc.setJobGroup(f"{pass_id}:{op.name}:action", op.name)
                        with self.tracer.span("action", op.name):
                            result = op.action(built)
                        t2 = time.perf_counter()
                        rec["t1"] = time.time()
                        rec.update(build_s=t1 - t0, action_s=t2 - t1)
                        if self.traced:
                            sc.setLocalProperty("spark.jobGroup.id", None)
                            st = sc.statusTracker()
                            rec["build_jobs"] = len(st.getJobIdsForGroup(f"{pass_id}:{op.name}:build"))
                            rec["action_jobs"] = len(st.getJobIdsForGroup(f"{pass_id}:{op.name}:action"))
                        value = op.observe(result) if op.observe else result
                        rec["ok"] = self._verify(op, value)
                        if cycle is not None:
                            cycle.after_op(op.name)
                    except Exception:
                        traceback.print_exc(file=sys.stderr)
                if keep is not None:
                    keep[op.name] = built
                del built
                if timed:
                    self.samples.append(rec)
        elapsed = time.perf_counter() - t_pass
        cpu = _tree_cpu_s(os.getpid()) - cpu0
        if cycle is not None:
            stats = cycle.end_cycle()
            if timed and stats is not None:
                self.cycles.append(stats)
        # cleanup only at pass boundaries: Python and JVM garbage, cached blocks
        t_gc = time.perf_counter()
        gc.collect()
        self.engine.spark.catalog.clearCache()
        self.engine.spark.sparkContext._jvm.System.gc()
        _log(f"pass {pass_id} {elapsed:.2f}s, cpu {cpu:.2f}s, cleanup {time.perf_counter() - t_gc:.2f}s")
        if timed:
            self.pass_s.append(elapsed)
        return elapsed

    def _verify(self, op, value) -> bool:
        value = tuple(value)
        if op.name not in self.reference:
            self.reference[op.name] = value
        if op.expected is not None and value != tuple(op.expected):
            print(f"perfbench: {op.name} gave {value}, expected {op.expected}", file=sys.stderr)
            return False
        if value != self.reference[op.name]:
            print(f"perfbench: {op.name} gave {value}, reference {self.reference[op.name]}",
                  file=sys.stderr)
            return False
        return True

    def measure(self, ops, seconds: float, min_passes: int, rng, tag: str) -> None:
        start, n = time.perf_counter(), 0
        while n < min_passes or time.perf_counter() - start < seconds:
            order = rng.permutation(len(ops)) if self.engine.workload != "acid_ingest" \
                else range(len(ops))
            self.run_pass(ops, order, f"{tag}{n}", timed=True)
            n += 1


def _verify_against_oracle(built: dict, reference: dict, oracle: dict[str, str],
                           verified_path: str) -> list[str]:
    """Check each query op's reference checksum against its DuckDB oracle,
    outside timing. A checksum whose result already matched the oracle in
    this checkout is recorded in ``verified_path``; any other is checked by
    collecting the warm-up result and comparing it with the oracle digest.
    Returns the names that differ."""
    verified = {}
    if os.path.exists(verified_path):
        with open(verified_path) as fh:
            verified = json.load(fh)
    bad, learned = [], False
    for name, df in built.items():
        ref = list(reference.get(name, ()))
        if name not in oracle or df is None or verified.get(name) == ref:
            continue  # no oracle, failed in warm-up (reported already), or known good
        try:
            same = workloads.rows_digest(df.collect(), df.columns) == oracle[name]
        except Exception:
            traceback.print_exc(file=sys.stderr)
            same = False
        if same:
            verified[name], learned = ref, True
        else:
            bad.append(name)
    if learned:
        with open(f"{verified_path}.tmp", "w") as fh:
            json.dump(verified, fh)
        os.replace(f"{verified_path}.tmp", verified_path)
    return bad


# ------------------------------------------------------------------- metrics


def _geomean(values) -> float:
    return math.exp(statistics.fmean(math.log(v) for v in values))


def _op_latencies(runner: Runner) -> dict[str, list[float]]:
    """Per op: build + action seconds of every timed pass that completed it."""
    by_op: dict[str, list[float]] = {}
    for s in runner.samples:
        if "build_s" in s:
            by_op.setdefault(s["op"], []).append(s["build_s"] + s["action_s"])
    return by_op


def end_to_end(runner: Runner, setup: dict, rss: RssSampler, attempted: int, ok: int) -> dict:
    by_op = _op_latencies(runner)
    n = sum(map(len, by_op.values()))
    amp = [c["space_amp"] for c in runner.cycles]
    return {
        "setup_s": (setup["setup_s"], "s", SETUPS),
        "pass_s": (statistics.median(runner.pass_s), "s", len(runner.pass_s)),
        "op_geomean_s": (_geomean(map(statistics.median, by_op.values())), "s", n),
        # each op's slowest pass, so the tail weighs every op once like the
        # geomean and cannot fall into the gap between two op classes
        "op_tail_s": (_geomean(map(max, by_op.values())), "s", n),
        "verified_op_ratio": (ok / attempted, "ratio", attempted),
        "peak_rss_mb": (rss.peak / 2**20, "MB", len(rss.readings)),
        # read-only workloads store nothing beyond their inputs
        "space_amp": (statistics.median(amp) if amp else 1.0, "ratio", max(len(amp), 1)),
    }


def per_layer(runner: Runner, setup: dict, groups: dict, untraced_pass_s: float) -> dict:
    passes: dict[str, list[dict]] = {}
    for s in runner.samples:
        passes.setdefault(s["pass"], []).append(s)

    def per_pass(fn) -> float:
        return statistics.median(fn(recs) for recs in passes.values())

    def group(s, phase):
        return groups.get(f"{s['pass']}:{s['op']}:{phase}", {})

    def counter(recs, key):
        return sum(group(s, ph).get("counters", {}).get(key, 0.0)
                   for s in recs for ph in ("build", "action"))

    def gap(s):
        jobs = [tuple(iv) for ph in ("build", "action")
                for iv in group(s, ph).get("jobs", {}).values() if iv[1] is not None]
        jobs = [(max(lo, s["t0"]), min(hi, s["t1"])) for lo, hi in jobs]
        return (s["t1"] - s["t0"]) - tracing.union_length([iv for iv in jobs if iv[1] > iv[0]])

    timed = [s for s in runner.samples if "build_s" in s]
    m = {
        "session.start_s": (setup["session"], "s"),
        "session.cold_start_s": (setup["cold"], "s"),
        "catalog.load_s": (setup["catalog"], "s"),
        "warm.pass_s": (setup["warm"], "s"),
        "queries.build_s": (per_pass(lambda r: sum(s.get("build_s", 0) for s in r)), "s"),
        "queries.build_jobs": (per_pass(lambda r: sum(s.get("build_jobs", 0) for s in r)), "count"),
        "queries.action_s": (per_pass(lambda r: sum(s.get("action_s", 0) for s in r)), "s"),
        "queries.action_jobs": (per_pass(lambda r: sum(s.get("action_jobs", 0) for s in r)), "count"),
        "spark.stages": (per_pass(lambda r: sum(len(group(s, ph).get("stages", ()))
                                                for s in r for ph in ("build", "action"))), "count"),
        "spark.tasks": (per_pass(lambda r: sum(group(s, ph).get("tasks", 0)
                                               for s in r for ph in ("build", "action"))), "count"),
        "driver.gap_s": (per_pass(lambda r: sum(gap(s) for s in r if "t1" in s)), "s"),
    }
    for key, unit in (("shuffle.write_bytes", "bytes"), ("shuffle.read_bytes", "bytes"),
                      ("spill.bytes", "bytes"), ("exec.run_s", "s"), ("exec.cpu_s", "s"),
                      ("exec.gc_s", "s"), ("pyworker.init_s", "s"), ("pyworker.run_s", "s"),
                      ("pyworker.sent_bytes", "bytes"), ("pyworker.returned_bytes", "bytes")):
        m[key] = (per_pass(lambda r, k=key: counter(r, k)), unit)

    def op_median(name, field):
        vals = [s[field] for s in timed if s["op"] == name and field in s]
        return statistics.median(vals) if vals else 0.0

    for metric, ops in (("acid.insert_s", ["acid_insert"]), ("acid.update_s", ["acid_update"]),
                        ("acid.delete_s", ["acid_delete"]),
                        ("acid.read_s", ["acid_read_deltas", "acid_read_minor", "acid_read_major"]),
                        ("acid.compact_minor_s", ["acid_compact_minor"]),
                        ("acid.compact_major_s", ["acid_compact_major"]),
                        ("shards.write_s", ["shards_write"]), ("shards.read_s", ["shards_read"])):
        lat = [s["build_s"] + s["action_s"] for s in timed if s["op"] in ops]
        m[metric] = (statistics.median(lat) if lat else 0.0, "s")
    for key, unit in (("acid.read_fanin", "count"), ("acid.write_amp", "ratio"),
                      ("shards.bytes_per_input_byte", "ratio")):
        vals = [c[key] for c in runner.cycles]
        m[key] = (statistics.median(vals) if vals else 0.0, unit)
    m["trace.overhead"] = (statistics.median(runner.pass_s) / untraced_pass_s, "ratio")
    for name in workloads.SQL_MIX + workloads.LLM_DEDUP:
        m[f"{name}.build_s"] = (op_median(name, "build_s"), "s")
        m[f"{name}.build_jobs"] = (op_median(name, "build_jobs"), "count")
    return m


def repeat_counts(runner: Runner, groups: dict) -> dict[str, list]:
    """Per op: the distinct [build jobs, action jobs, stages] seen across passes."""
    seen: dict[str, set] = {}
    for s in runner.samples:
        if "build_jobs" not in s:
            continue
        stages = sum(len(groups.get(f"{s['pass']}:{s['op']}:{ph}", {}).get("stages", ()))
                     for ph in ("build", "action"))
        seen.setdefault(s["op"], set()).add((s["build_jobs"], s["action_jobs"], stages))
    return {op: [list(c) for c in sorted(v)] for op, v in seen.items()}


# ---------------------------------------------------------------------- main


def main() -> int:
    # a terminated run still stops Spark and removes its scratch (finally blocks)
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    args = _parse()
    if args.workload not in workloads.WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(workloads.WORKLOADS)}",
              file=sys.stderr)
        return 2
    missing = [f for f in ("hdp2_5_hive2_spark", "bench.py", "tests")
               if not os.path.exists(os.path.join(ROOT, f))]
    if missing:
        print(f"perfbench: run from a checkout of the engine; missing {missing}", file=sys.stderr)
        return 1
    run_dir = os.path.join(STATE, f"run-{os.getpid()}")
    conf = _pin_environment(run_dir)
    try:
        return _run(args, run_dir, conf)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)


def _run(args, run_dir: str, conf: dict) -> int:
    import numpy as np

    from bench import _host_calibration

    oracle_dir, oracle = _oracle()
    _log("oracle ready")
    calib_before = _host_calibration()
    _log("calibrated")
    engine = Engine(args.workload, DATA_DIR, run_dir, args.seed, conf)
    rng = np.random.default_rng(args.seed)
    tracer = tracing.Tracer(enabled=bool(args.trace))
    # a traced run starts its last set-up's context with the event log on;
    # the warm-up pass then warms the context the traced passes run on
    log_dir = os.path.join(run_dir, "eventlog")
    os.makedirs(log_dir)
    log_conf = {**tracing.EVENT_LOG_CONF, "spark.eventLog.dir": f"file://{log_dir}"}
    try:
        with tracer.span("setup"):
            starts = []
            for k in range(SETUPS):
                with tracer.span(f"setup.{k}"):
                    traced_context = args.trace and k == SETUPS - 1
                    starts.append(engine.start(log_conf if traced_context else None))
                _log(f"set-up {k}: session {starts[-1][0]:.2f}s catalog {starts[-1][1]:.2f}s")
            untraced = Runner(engine, tracing.Tracer(False), traced=False)
            t0 = time.perf_counter()
            warm_frames: dict = {}
            with tracer.span("warm.pass"):
                ops = engine.ops()
                untraced.run_pass(ops, range(len(ops)), "warm", timed=False, keep=warm_frames)
            warm = time.perf_counter() - t0
        _log(f"warm-up pass {warm:.2f}s")
        mid = sorted(starts, key=sum)[SETUPS // 2]
        setup = {"session": mid[0], "catalog": mid[1], "cold": starts[0][0], "warm": warm,
                 "setup_s": sum(mid) + warm}
        # the warm-up pass sets every op's reference value
        reference_bad = [op.name for op in ops if op.name not in untraced.reference]
        with tracer.span("verify"):
            reference_bad += _verify_against_oracle(
                warm_frames, untraced.reference, oracle, os.path.join(oracle_dir, "verified.json")
            )
        del warm_frames
        _log(f"oracle check done, mismatches: {reference_bad}")

        gc.disable()
        summary: dict = {}
        mismatched: list[str] = []
        if not args.trace:
            with RssSampler() as rss:
                untraced.measure(ops, args.seconds, MIN_PASSES, rng, "u")
            runner = untraced
            attempted = len(runner.samples)
            ok = sum(s["ok"] for s in runner.samples)
            metrics = end_to_end(runner, setup, rss, attempted, ok)
        else:
            # traced passes on the warmed set-up context, then untraced ones
            # on a fresh context after an untimed pass that warms its Python
            # workers; the untraced passes come after one more untimed pass,
            # so trace.overhead errs high, not low
            half = args.seconds / 2
            runner = Runner(engine, tracer, traced=True)
            runner.reference = untraced.reference
            with tracer.span("traced"):
                runner.measure(ops, half, MIN_PASSES, rng, "t")
            engine.start()  # stopping the traced context finishes its event log
            ops = engine.ops()
            untraced.run_pass(ops, range(len(ops)), "rewarm", timed=False)
            with tracer.span("untraced"):
                untraced.measure(ops, half, MIN_PASSES, rng, "u")
            engine.stop()
            groups = tracing.read_event_log(log_dir)
            samples = untraced.samples + runner.samples
            attempted = len(samples)
            ok = sum(s["ok"] for s in samples)
            metrics = per_layer(runner, setup, groups, statistics.median(untraced.pass_s))
            # repeatability self-check: every traced pass of an op must fire
            # the same jobs and stages; the counts themselves are not pinned
            counts = repeat_counts(runner, groups)
            mismatched = [op for op, seen in counts.items() if len(seen) > 1]
            metrics["trace.count_mismatches"] = (float(len(mismatched)), "count")
            summary.update(repeat_counts=counts, count_mismatches=mismatched,
                           spans=tracer.with_self_times())
        gc.enable()
        _log(f"measured {len(runner.pass_s)} passes")
    finally:
        engine.shutdown()
        _log("engine stopped")
    calib_after = _host_calibration()

    failed = attempted - ok
    correct = not reference_bad and not mismatched and failed == 0
    summary.update(
        workload=args.workload, seed=args.seed, trace=args.trace,
        passes=len(runner.pass_s), reference_mismatches=reference_bad,
        op_median_s={op: statistics.median(v) for op, v in sorted(_op_latencies(runner).items())},
        samples=[{k: s[k] for k in ("pass", "op", "ok", "build_s", "action_s") if k in s}
                 for s in runner.samples],
        calib_before=calib_before, calib_after=calib_after,
        metrics={k: {"value": v[0], "unit": v[1], **({"samples": v[2]} if len(v) > 2 else {})}
                 for k, v in metrics.items()},
    )
    out_dir = os.path.join(STATE, "out")
    os.makedirs(out_dir, exist_ok=True)
    kind = "trace" if args.trace else "run"
    with open(os.path.join(out_dir, f"{kind}-{args.workload}-seed{args.seed}.json"), "w") as fh:
        json.dump(summary, fh, indent=1)
    brief = {k: v for k, v in summary.items() if k not in ("spans", "samples")}
    print(json.dumps(brief))
    print(json.dumps({
        "correct": correct, "attempted": attempted, "failed": failed,
        "metrics": {k: {"value": v[0], "unit": v[1]} for k, v in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
