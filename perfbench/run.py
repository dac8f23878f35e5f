"""Benchmark command: one workload, one seed, one closed-loop client.

    python3 perfbench/run.py --workload query_mix --seed 1 --seconds 25 --trace 0

Run it from the repository root. A run sets up ``SETUP_REPS`` times (fresh
Spark session, freshly generated inputs, loading them) and keeps the last
set-up, runs the workload's untimed warm-up passes, then runs timed passes
while one more, at the median pass time so far, still ends within
``--seconds``; the first always runs. A pass runs every operation once, in
the workload's order, one at a time, and checks each output outside the
timing. With ``--trace 1`` at least one untimed pass runs first, then
untraced and traced passes alternate in groups of four (untraced, traced,
traced, untraced) until ``--seconds`` have passed, and the traced ones
give the per-layer metrics.

The last line of standard output is the result:
``{"correct", "attempted", "failed", "metrics"}``. The line before it
records provenance, per-operation medians and anything else a reader of
the result needs. ``--workload all`` runs every workload in turn.
"""

from __future__ import annotations

import argparse
import gc
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK_ROOT = os.path.join(ROOT, ".perfbench_work")
SETUP_REPS = 3
WORKLOADS = ("query_mix", "convert_roundtrip")
HEAP_PAUSE_S = 0.3
HEAP_SETTLE_S = 2.1
HEAP_MAX_READINGS = 40

END_TO_END = {
    "pass_s": "s",
    "op_p50_s": "s",
    "op_tail_s": "s",
    "setup_s": "s",
    "jvm_live_heap_mb": "MB",
    "py_peak_rss_mb": "MB",
}


def per_layer_units() -> dict[str, str]:
    from perfbench.statusstore import SPARK_METRICS

    units = {m: _unit(m) for m in SPARK_METRICS}
    for name in (
        "session.get_spark_s",
        "plans.build_s",
        "plans.exec_s",
        "plans.hhek.account_balances_s",
        "operators.util.release_s",
        "operators.dedup_s",
        "operators.dedup_calls",
        "operators.similarity_s",
        "operators.similarity_calls",
        "operators.graph_s",
        "operators.graph_calls",
        "sources.parquet.load_table_s",
        "sources.parquet.load_table_calls",
        "sources.sqlite_io.write_table_s",
        "sources.sqlite_io.read_table_s",
        "sources.sqlite_io.rows_written",
        "sources.sqlite_io.rows_read",
        "sources.jet2.write_jet2_s",
        "sources.jet2_index.build_table_indexes_s",
        "sources.mdb.mdb_read_database_s",
        "sources.sqlite_bytes_per_row",
        "sources.mdb_bytes_per_row",
        "sources.parquet_bytes_per_row",
        "convert.sqlite_write_s",
        "convert.validate_s",
        "convert.mdb_write_s",
        "convert.mdb_read_s",
        "convert.failed_hops",
        "tracing_overhead_frac",
    ):
        units[name] = _unit(name)
    return units


def _unit(name: str) -> str:
    if name.endswith("_s"):
        return "s"
    if name.endswith("_bytes") or name.endswith("bytes_sent"):
        return "bytes"
    if name.endswith("_per_row"):
        return "bytes/row"
    if name.endswith("_frac"):
        return "ratio"
    return "count"


def slowest_op(per_op: dict[str, float]) -> tuple[str, float]:
    """The operation with the highest median time, and that median."""
    return max(per_op.items(), key=lambda kv: kv[1])


def _pin_runtime() -> int:
    """Pin Spark to this machine's cores and keep every scratch file,
    Python's and the JVM's, under WORK_ROOT."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK_ROOT, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK_ROOT, "spark-local")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData"
    os.environ.pop("SPARK_GRAFT_EXTRA_CONF", None)
    return cpus


def _cpu_ticks() -> list[int]:
    """The machine's CPU time so far by kind, from /proc/stat (empty when
    it cannot be read)."""
    try:
        with open("/proc/stat") as fh:
            return [int(x) for x in fh.readline().split()[1:]]
    except (OSError, ValueError):
        return []


def _steal_share(before: list[int], after: list[int]) -> float | None:
    """Share of CPU time a virtual machine's host took from it between two
    readings: on a shared host this, not the program, is what made one
    run's wall times slower than another's."""
    if len(before) < 8 or len(after) < 8:
        return None
    delta = [b - a for a, b in zip(before, after)]
    return round(delta[7] / max(1, sum(delta[:8])), 4)


def _reset_peak_rss() -> bool:
    try:
        with open("/proc/self/clear_refs", "w") as fh:
            fh.write("5")
        return True
    except OSError:
        return False


def _peak_rss_mb() -> float:
    try:
        with open("/proc/self/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024
    except OSError:
        pass
    import resource

    return resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024


def _jvm_live_heap_mb(spark) -> tuple[float, list[float]]:
    """Heap in use after full collections, and every reading taken.

    Blocks of dropped broadcasts and shuffles are freed by Spark's
    ContextCleaner only after a collection finds their owners unreachable,
    and the cleaner runs on its own thread: on a busy machine the heap sat
    at twice its live size for three collections before the cleaner caught
    up. So collect until the readings have stayed flat for HEAP_SETTLE_S
    and report the lowest."""
    gc.collect()  # drop Python handles that keep JVM objects reachable
    bean = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    readings: list[float] = []
    flat = int(HEAP_SETTLE_S / HEAP_PAUSE_S)
    while len(readings) < HEAP_MAX_READINGS:
        bean.gc()
        time.sleep(HEAP_PAUSE_S)
        readings.append(bean.getHeapMemoryUsage().getUsed() / 2**20)
        last = readings[-flat:]
        if len(readings) > flat and max(last) - min(last) < 1.0 and min(last) <= min(readings) + 1.0:
            break
    return min(readings), readings


def _provenance(seed: int, cpus: int) -> dict:
    try:
        commit = subprocess.run(
            ["git", "rev-parse", "HEAD"], cwd=ROOT, capture_output=True, text=True, timeout=10
        ).stdout.strip() or None
    except (OSError, subprocess.SubprocessError):
        commit = None
    h = hashlib.sha256()
    pkg = os.path.join(ROOT, "hhek2sqlite_spark")
    for d, _, files in sorted(os.walk(pkg)):
        for f in sorted(files):
            if f.endswith(".py"):
                with open(os.path.join(d, f), "rb") as fh:
                    h.update(f.encode() + fh.read())
    return {
        "seed": seed,
        "nproc": cpus,
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "git_commit": commit,
        "source_sha256": h.hexdigest()[:16],
    }


class Run:
    """State of one benchmark run: the workload, the Spark session, the
    tracer and the failure count."""

    def __init__(self, workload: str, seed: int):
        from perfbench import workloads

        self.seed = seed
        self.work = os.path.join(WORK_ROOT, f"{workload}-{seed}-{os.getpid()}")
        self.workload, self.cache_dir = workload, os.path.join(WORK_ROOT, "oracle-cache")
        self.wl = workloads.make(workload, self.cache_dir)
        self.attempted = self.failed = 0
        self.errors: dict[str, str] = {}
        self.spark = None
        self.tracer = self.reader = None
        self.get_spark_times: list[float] = []
        self.op_records: list[dict] = []

    def setup(self) -> list[float]:
        """Set up SETUP_REPS times; returns each set-up's time. The previous
        repetition's session is stopped, and its inputs dropped and
        collected, before the clock starts: a user's set-up starts from
        neither, and with the previous repetition's 50k generated rows still
        alive the later repetitions of the convert set-up took 1.0-2.4 s,
        against 1.0-1.8 s without them."""
        from hhek2sqlite_spark import session
        from perfbench import workloads

        times = []
        for rep in range(SETUP_REPS):
            if rep:
                self.spark.stop()
                self.wl = workloads.make(self.workload, self.cache_dir)
                shutil.rmtree(os.path.join(self.work, f"setup{rep - 1}"), ignore_errors=True)
            gc.collect()
            t0 = time.perf_counter()
            self.spark = session.get_spark("perfbench")
            self.get_spark_times.append(time.perf_counter() - t0)
            self.spark.sparkContext.setLogLevel("ERROR")
            self.wl.make_inputs(self.seed, os.path.join(self.work, f"setup{rep}"))
            self.wl.load(self.spark)
            times.append(time.perf_counter() - t0)
        return times

    def _fail(self, op: str, exc: BaseException) -> None:
        self.failed += 1
        self.errors.setdefault(op, f"{type(exc).__name__}: {exc}"[:500])

    def timed_pass(self, traced: bool) -> tuple[dict[str, float], list[dict]]:
        """One pass; returns per-op wall times and, when traced, one
        metrics record per op."""
        from perfbench.statusstore import OpReader

        if traced:
            if self.reader is None:
                self.reader = OpReader(self.spark)
            self.tracer.reset()
            self.tracer.install()
        self.wl.start_pass()
        times, records = {}, []
        sc = self.spark.sparkContext
        try:
            for op in self.wl.ops:
                group = f"perfbench-{id(self)}-{self.attempted}"
                sc.setJobGroup(group, op)
                self.attempted += 1
                t0 = time.perf_counter()
                try:
                    self.wl.run(self.spark, op, self.tracer if traced else None)
                except Exception as exc:  # noqa: BLE001 - counted and reported
                    self._fail(op, exc)
                    continue
                times[op] = time.perf_counter() - t0
                try:
                    self.wl.verify(op)
                except Exception as exc:  # noqa: BLE001 - counted and reported
                    self._fail(op, exc)
                if traced:
                    rec = {"op": op, "wall_s": times[op], **self.reader.metrics(group, times[op])}
                    rec.update(self.reader.leftovers())
                    records.append(rec)
        finally:
            if traced:
                self.tracer.uninstall()
        return times, (self._layers(records) if traced else None)

    def _layers(self, records: list[dict]) -> dict[str, float]:
        """One traced pass's per-layer totals, summed over its ops."""
        from perfbench.statusstore import SPARK_METRICS

        t = self.tracer
        out = {m: sum(r[m] for r in records) for m in SPARK_METRICS}
        out["pass_s"] = sum(r["wall_s"] for r in records)
        out["operators.util.release_s"] = t.inclusive["operators.util.release_local_checkpoints"]
        for mod in ("dedup", "similarity", "graph"):
            out[f"operators.{mod}_s"] = t.self_time[f"operators.{mod}"]
            out[f"operators.{mod}_calls"] = sum(n for k, n in t.calls.items() if k.startswith(f"operators.{mod}."))
        for key in ("sources.parquet.load_table", "sources.sqlite_io.write_table", "sources.sqlite_io.read_table"):
            out[key + "_s"] = t.inclusive[key]
        out["sources.parquet.load_table_calls"] = t.calls["sources.parquet.load_table"]
        for key in ("plans.build_s", "plans.exec_s", "plans.hhek.account_balances_s"):
            out[key] = t.inclusive[key]
        for key in ("sources.sqlite_io.rows_written", "sources.sqlite_io.rows_read"):
            out[key] = t.counts[key]
        self.op_records.extend(records)
        return out

    def jet_hops(self) -> dict:
        """The convert workload's .mdb hops, once, traced in a traced run."""
        from perfbench.workloads import WrongOutput

        if self.tracer:
            self.tracer.reset()
            self.tracer.install()
        try:
            hops = self.wl.jet_hops(self.spark)
        except WrongOutput as exc:
            self._fail("jet_round_trip", exc)
            hops = {}
        finally:
            if self.tracer:
                self.tracer.uninstall()
        return hops


def _stop_jvm() -> None:
    """Close the py4j gateway and wait for the JVM it launched to exit
    (it exits when its stdin pipe closes)."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def _median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def run_workload(args, cpus: int) -> int:
    from perfbench.layers import Tracer
    from perfbench.workloads import ConvertWorkload

    run = Run(args.workload, args.seed)
    info = {"workload": args.workload, **_provenance(args.seed, cpus)}
    untraced, layers = [], []
    try:
        setup_times = run.setup()
        t0 = time.perf_counter()
        run.wl.warm_up(run.spark)
        for _ in range(max(run.wl.warm_passes, args.trace)):
            run.timed_pass(False)  # untimed: the timed passes, traced or not, run warm
        info["warm_up_s"] = round(time.perf_counter() - t0, 4)
        info["peak_rss_window"] = _reset_peak_rss()
        ticks = _cpu_ticks()
        run.tracer = Tracer() if args.trace else None
        t_start, k, walls = time.perf_counter(), 0, []
        while True:
            # untraced, traced, traced, untraced, ...: a drift across the
            # passes (the JIT still warming) cancels out of the overhead
            traced = bool(args.trace) and k % 4 in (1, 2)
            t_pass = time.perf_counter()
            times, layer = run.timed_pass(traced)
            walls.append(time.perf_counter() - t_pass)
            if traced:
                layers.append(layer)
            else:
                untraced.append(times)
            k += 1
            elapsed = time.perf_counter() - t_start
            if args.trace:
                if elapsed >= args.seconds and k % 4 == 0:
                    break
            elif elapsed + _median(walls) > args.seconds:
                break  # one more pass would run past the window
        info["steal_share"] = _steal_share(ticks, _cpu_ticks())
        peak_rss = _peak_rss_mb()
        heap, heap_readings = _jvm_live_heap_mb(run.spark)
        hops = run.jet_hops() if isinstance(run.wl, ConvertWorkload) else {}
    finally:
        if run.spark is not None:
            run.spark.stop()
        _stop_jvm()
        shutil.rmtree(run.work, ignore_errors=True)

    samples = [t for p in untraced for t in p.values()]
    pass_times = [sum(p.values()) for p in untraced]
    per_op = {op: _median([p[op] for p in untraced if op in p]) for op in run.wl.ops}
    tail_op, tail_s = slowest_op(per_op)
    info.update(
        {
            **run.wl.describe(),
            "setup_s_reps": [round(x, 4) for x in setup_times],
            "get_spark_s_reps": [round(x, 4) for x in run.get_spark_times],
            "timed_passes": len(pass_times),
            "traced_passes": len(layers),
            "op_samples": len(samples),
            "pass_s_each": [round(x, 4) for x in pass_times],
            "op_tail_op": tail_op,
            "op_median_s": {op: round(t, 4) for op, t in per_op.items()},
            "heap_readings_mb": [round(x, 2) for x in heap_readings],
            "errors": run.errors,
        }
    )
    if hops:
        info["known_failures"] = {h: err for h, (_, err) in hops.items() if err}
    if args.trace:
        metrics = {}
        for name in per_layer_units():
            vals = [layer.get(name, 0.0) for layer in layers]
            metrics[name] = _median(vals)
        metrics["session.get_spark_s"] = _median(run.get_spark_times)
        if isinstance(run.wl, ConvertWorkload):
            metrics.update(run.wl.bytes_per_row)
            for op in run.wl.ops:
                metrics[f"convert.{op}_s"] = per_op[op]
            for hop, (secs, err) in hops.items():
                metrics[f"convert.{hop}_s"] = secs or 0.0
            metrics["convert.failed_hops"] = sum(1 for _, err in hops.values() if err)
            metrics["sources.jet2.write_jet2_s"] = run.tracer.inclusive["sources.jet2.write_jet2"]
            metrics["sources.jet2_index.build_table_indexes_s"] = run.tracer.inclusive[
                "sources.jet2_index.build_table_indexes"
            ]
            metrics["sources.mdb.mdb_read_database_s"] = run.tracer.inclusive["sources.mdb.mdb_read_database"]
        traced_pass = _median([layer["pass_s"] for layer in layers])
        metrics["tracing_overhead_frac"] = traced_pass / _median(pass_times) - 1 if pass_times else 0.0
        units = per_layer_units()
        os.makedirs(os.path.join(WORK_ROOT, "traces"), exist_ok=True)
        trace_path = os.path.join(WORK_ROOT, "traces", f"{args.workload}-{args.seed}.json")
        with open(trace_path, "w") as fh:
            json.dump({"info": info, "ops": run.op_records}, fh, indent=1)
        info["trace_file"] = os.path.relpath(trace_path, ROOT)
    else:
        metrics = {
            "pass_s": _median(pass_times),
            "op_p50_s": _median(samples),
            "op_tail_s": tail_s,
            "setup_s": _median(setup_times),
            "jvm_live_heap_mb": heap,
            "py_peak_rss_mb": peak_rss,
        }
        units = END_TO_END
    print(json.dumps(info, ensure_ascii=False))
    result = {
        "correct": run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {name: {"value": float(metrics[name]), "unit": units[name]} for name in units},
    }
    print(json.dumps(result), flush=True)
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    parser.add_argument("--workload", required=True)
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=float, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args(argv)
    if args.workload == "all":
        codes = [
            subprocess.run([sys.executable, os.path.abspath(__file__), *_args_for(name, args)]).returncode
            for name in WORKLOADS
        ]
        return max(codes)
    cpus = _pin_runtime()
    sys.path.insert(0, ROOT)
    try:
        import hhek2sqlite_spark.plans  # noqa: F401
        import perfbench.workloads  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: cannot import the program from {ROOT}: {exc}", file=sys.stderr)
        return 2
    if args.workload not in WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; one of {WORKLOADS}", file=sys.stderr)
        return 2
    try:
        return run_workload(args, cpus)
    except Exception:  # noqa: BLE001 - a crashed run prints no result
        traceback.print_exc()
        return 1


def _args_for(name: str, args) -> list[str]:
    return ["--workload", name, "--seed", str(args.seed), "--seconds", str(args.seconds), "--trace", str(args.trace)]


if __name__ == "__main__":
    sys.exit(main())
