"""zparse_spark benchmark: one workload per run, measured end to end.

Run from the repository root:

    python3 perfbench/run.py --workload resume_half --seed 1 --seconds 10 --trace 0
    python3 perfbench/run.py --self-check

A run starts one Spark session on ``local[<cores>]``, materializes the
workload's seeded inputs under ``.perfbench_run/``, derives the
expected outputs, runs one untimed warm-up iteration, then runs
iterations back to back (closed loop, one client) for at most
``--seconds`` (at least one) and checks every output. The last line
of standard output is one JSON object: with ``--trace 0`` the
end-to-end metrics of BENCHMARK.json (CPU seconds of the whole process
tree per iteration and for set-up; wall times are printed above it),
with ``--trace 1`` its per-layer metrics, taken from spans around the
calls into each module and from Spark's event log. ``--self-check``
runs every workload at a tiny size and proves that a wrong output is
counted as failed.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import threading
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
RUN_DIR = os.path.join(ROOT, ".perfbench_run")
OUT_DIR = os.path.join(ROOT, ".perfbench_out")
# below the 16g default of get_spark, which is more than a 15 GB host has
DRIVER_MEM = "3g"
NCPU = len(os.sched_getaffinity(0))


def declared_metrics() -> tuple[dict, dict]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    return (
        {m["name"]: m["unit"] for m in bench["end_to_end"]},
        {m["name"]: m["unit"] for m in bench["per_layer"]},
    )


# ---------------------------------------------------------------------------
# session and processes
# ---------------------------------------------------------------------------


def start_session(run_dir: str, event_log_dir: str | None):
    """Spark session whose scratch files all stay under ``run_dir``."""
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_GRAFT_CPUS"] = str(NCPU)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = DRIVER_MEM
    conf = {
        "spark.local.dir": os.path.join(run_dir, "local"),
        "spark.sql.warehouse.dir": os.path.join(run_dir, "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp}",
        "spark.ui.showConsoleProgress": "false",
    }
    if event_log_dir:
        os.makedirs(event_log_dir, exist_ok=True)
        conf.update(
            {
                "spark.eventLog.enabled": "true",
                "spark.eventLog.dir": "file://" + event_log_dir,
                "spark.eventLog.compress": "false",
                "spark.eventLog.rolling.enabled": "false",
            }
        )
    from zparse_spark.session import get_spark

    return get_spark(app_name="zparse_spark_perfbench", extra_conf=conf)


def stop_session(spark) -> None:
    """Stop Spark and wait for its JVM (and with it the Python workers)
    to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None


def jvm_pid() -> int:
    from pyspark import SparkContext

    return SparkContext._gateway.proc.pid


def process_tree(root_pid: int) -> list[int]:
    """``root_pid`` and all its live descendants."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append(int(entry))
    tree, todo = [], [root_pid]
    while todo:
        pid = todo.pop()
        tree.append(pid)
        todo.extend(children.get(pid, []))
    return tree


def tree_cpu_s(root_pid: int) -> float:
    """CPU seconds (user + system) used so far by ``root_pid`` and its
    descendants: the driver's Python, the JVM with all its threads (task
    threads, JIT compilers, GC) and the Python workers. A live process
    counts its own time and that of the children it has reaped, so the
    difference of two readings holds the CPU that processes which ended
    in between used in between, and only that."""
    ticks = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            ticks += sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
        except (OSError, IndexError, ValueError):
            continue
    return ticks / os.sysconf("SC_CLK_TCK")


def tree_pss_bytes(root_pid: int) -> int:
    """Proportional set size of ``root_pid`` and all its descendants:
    pages shared between the forked Python workers count once in total,
    not once per worker."""
    total = 0
    for pid in process_tree(root_pid):
        try:
            with open(f"/proc/{pid}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except (OSError, IndexError, ValueError):
            continue
    return total


class MemorySampler:
    """Peak memory (PSS) of the driver JVM and its Python workers."""

    def __init__(self, pid: int, interval: float = 0.1):
        self.pid = pid
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while True:
            self.peak = max(self.peak, tree_pss_bytes(self.pid))
            if self._stop.wait(self.interval):
                return

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join()


# ---------------------------------------------------------------------------
# iterations
# ---------------------------------------------------------------------------


def corrupt(out: dict, key=None) -> dict:
    """A deliberately wrong output: one value (``key``, else the first)
    off by one."""
    out = dict(out)
    key = key or sorted(out, key=str)[0]
    out[key] += 1
    return out


class Loop:
    """Closed loop with one client; counts attempted and failed
    iterations (raised, or output differs from the expected one)."""

    def __init__(self, wl, sabotage: bool = False):
        self.wl = wl
        self.sabotage = sabotage
        self.walls: list[float] = []
        self.cpus: list[float] = []
        self.attempted = 0
        self.failed = 0
        self.last_out: dict | None = None

    def once(self) -> float | None:
        """One iteration; its wall time, or None if it raised. Its CPU
        time is kept alongside."""
        from workloads import OutputMismatch

        self.attempted += 1
        self.wl.reset()
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        try:
            out = self.wl.iterate()
        except Exception:  # a failed iteration is counted, not fatal
            self.failed += 1
            traceback.print_exc()
            return None
        wall = time.perf_counter() - t0
        self.walls.append(wall)
        self.cpus.append(tree_cpu_s(os.getpid()) - c0)
        self.last_out = out
        try:
            self.wl.check(corrupt(out) if self.sabotage else out)
        except OutputMismatch as e:
            self.failed += 1
            print(f"output check failed: {e}", file=sys.stderr)
        return wall

    def run_for(self, seconds: float) -> None:
        """Iterations for at most ``seconds``: the next one starts only
        if it should end in time by the last one's wall (at least one)."""
        deadline = time.perf_counter() + seconds
        n, last = 0, 0.0
        while n == 0 or time.perf_counter() + last <= deadline:
            last = self.once() or last
            n += 1


def traced_loop(spark, wl, tracer, loop: Loop, seconds: float):
    """Untraced and traced iterations alternate, starting and ending
    untraced (u t u t ... u), so that drift cancels in the tracing
    overhead. The first untraced iteration follows the warm-up, which
    leaves it slower than the rest, so it is left out of the overhead.
    The layer probes follow the first traced iteration. A further (t u)
    pair starts only if it should end within ``seconds`` of the start,
    judged by the last pair. Returns the untraced walls, the traced
    walls by iteration id, and the probes' per-layer counts."""
    from spans import ITERATION_PROPERTY

    sc = spark.sparkContext
    deadline = time.perf_counter() + seconds
    untraced, traced, probed = [loop.once()], {}, {}
    k, pair = 0, 0.0
    while k == 0 or time.perf_counter() + pair <= deadline:
        t0 = time.perf_counter()
        tracer.enabled, tracer.iteration = True, k
        sc.setLocalProperty(ITERATION_PROPERTY, str(k))
        traced[k] = loop.once()
        sc.setLocalProperty(ITERATION_PROPERTY, None)
        if k == 0 and loop.last_out is not None:
            with tracer.span("probes"):
                probed = wl.probes(loop.last_out)
        tracer.enabled = False
        untraced.append(loop.once())
        pair = time.perf_counter() - t0
        k += 1
    return (
        [w for w in untraced[1:] if w is not None],
        {k: w for k, w in traced.items() if w is not None},
        probed,
    )


def layer_metrics(per_layer, tracer, spark_counts, traced, untraced, probed) -> dict:
    """Per-layer metrics: medians over the traced iterations of span
    durations and event-log counts, plus the probes' counts."""
    layer: dict[str, list] = {}
    for it, wall in traced.items():
        d = tracer.durations(it)
        c = spark_counts.get(str(it), {})
        layer.setdefault("spark.core_busy_frac", []).append(
            c.get("executor_run_ms", 0) / 1e3 / (wall * NCPU)
        )
        for name in ("jobs", "stages", "tasks", "scan_bytes", "shuffle_write_bytes",
                     "shuffle_read_bytes", "spill_bytes", "python_bytes_sent",
                     "python_bytes_received"):
            layer.setdefault(f"spark.{name}", []).append(c.get(name, 0))
        for name, key, scale in (
            ("spark.executor_cpu_s", "executor_cpu_ns", 1e-9),
            ("spark.jvm_gc_s", "jvm_gc_ms", 1e-3),
            ("spark.python_worker_s", "python_worker_ms", 1e-3),
            ("spark.broadcast_build_s", "broadcast_build_ms", 1e-3),
        ):
            layer.setdefault(name, []).append(c.get(key, 0) * scale)
        # module spans: in-iteration spans, and the probes of iteration 0
        for name in per_layer:
            if name.endswith("_s") and name[:-2] in d:
                layer.setdefault(name, []).append(d[name[:-2]])
    metrics = {k: statistics.median(v) for k, v in layer.items()}
    metrics.update(probed)
    metrics["trace.overhead_s"] = statistics.median(traced.values()) - statistics.median(untraced)
    return {k: metrics.get(k, 0.0) for k in per_layer}


# ---------------------------------------------------------------------------
# one benchmark run
# ---------------------------------------------------------------------------


def setup(wl, run_dir: str) -> dict:
    """Materialize inputs, derive expected outputs, and run the warm-up,
    whose output is checked and pinned. Returns set-up timings, the
    warm-up output and the input layout."""
    from workloads import OutputMismatch

    path = os.path.join(run_dir, "inputs")
    t0 = time.perf_counter()
    layout = wl.materialize(path)
    materialize_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    wl.prepare(path)
    prepare_s = time.perf_counter() - t0
    t0 = time.perf_counter()
    warm = wl.warm_up()
    ok = True
    try:
        wl.pin(warm)
    except OutputMismatch as e:
        ok = False
        print(f"set-up output check failed: {e}", file=sys.stderr)
    warmup_s = time.perf_counter() - t0
    return {
        "materialize_s": materialize_s,
        "prepare_s": prepare_s,
        "warmup_s": warmup_s,
        "warmup_ok": ok,
        "warm": warm,
        "layout": layout,
    }


def run(args) -> dict:
    from spans import Tracer, fold_event_log
    from workloads import SIZES, WORKLOADS

    end_to_end, per_layer = declared_metrics()
    run_dir = os.path.join(RUN_DIR, f"{args.workload}-seed{args.seed}-{os.getpid()}")
    event_dir = os.path.join(run_dir, "events") if args.trace else None
    os.makedirs(run_dir)
    tracer = Tracer()
    try:
        c0, t0 = tree_cpu_s(os.getpid()), time.perf_counter()
        spark = start_session(run_dir, event_dir)
        session_s = time.perf_counter() - t0
        try:
            wl = WORKLOADS[args.workload](
                spark, tracer, args.seed, SIZES["full"], os.path.join(run_dir, "work")
            )
            s = setup(wl, run_dir)
            setup_wall = time.perf_counter() - t0
            setup_cpu = tree_cpu_s(os.getpid()) - c0
            loop = Loop(wl)
            # the warm-up run counts as an attempted iteration
            loop.attempted, loop.failed = 1, int(not s["warmup_ok"])
            if not args.trace:
                loop.run_for(args.seconds)
            else:
                with MemorySampler(jvm_pid()) as mem:
                    untraced, traced, probed = traced_loop(spark, wl, tracer, loop, args.seconds)
                probed["spark.peak_pss_mb"] = mem.peak / 2**20
        finally:
            stop_session(spark)
        if args.trace:
            os.makedirs(OUT_DIR, exist_ok=True)
            tracer.dump(os.path.join(OUT_DIR, f"spans-{args.workload}-seed{args.seed}.jsonl"))
            (log,) = os.listdir(event_dir)
            spark_counts = fold_event_log(os.path.join(event_dir, log))
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)

    print(f"workload {args.workload} seed {args.seed}: {wl.n_docs} input docs")
    for table, lay in s["layout"].items():
        print(f"  input {table}: {lay['files']} files, {lay['bytes']} bytes")
    print(
        f"  set-up: {setup_cpu:.3f} s CPU in {setup_wall:.3f} s = session {session_s:.3f}"
        f" + materialize {s['materialize_s']:.3f} + prepare {s['prepare_s']:.3f}"
        f" + warm-up {s['warmup_s']:.3f}"
    )
    print(f"  iterations {loop.attempted} failed {loop.failed} failed_frac "
          f"{loop.failed / loop.attempted:.4f}")
    print("  timed walls " + " ".join(f"{w:.3f}" for w in loop.walls)
          + " s; CPU " + " ".join(f"{c:.2f}" for c in loop.cpus) + " s")
    # wall time is shown, not gated: on a shared host it moves with the
    # neighbours' load far more than CPU time does (see README)
    print(f"  wall_s {statistics.median(loop.walls):.6g} s, docs_per_s "
          f"{statistics.median(wl.n_docs / w for w in loop.walls):.6g} docs/s (not gated)")

    if not args.trace:
        metrics = {
            "cpu_s": statistics.median(loop.cpus),
            "docs_per_cpu_s": statistics.median(wl.n_docs / c for c in loop.cpus),
            "setup_s": setup_cpu,
        }
        units = end_to_end
    else:
        metrics = layer_metrics(per_layer, tracer, spark_counts, traced, untraced, probed)
        units = per_layer
    for name, value in metrics.items():
        print(f"  {name} {value:.6g} {units[name]}")
    return {
        "correct": loop.failed == 0,
        "attempted": loop.attempted,
        "failed": loop.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def self_check() -> bool:
    """Every workload at the smoke size: a correct run has failed_frac 0,
    a run whose outputs are corrupted has failed_frac 1, and a warm-up
    output that is off in a value checked against ground truth is
    refused."""
    from spans import Tracer
    from workloads import SIZES, WORKLOADS, OutputMismatch

    run_dir = os.path.join(RUN_DIR, f"self-check-{os.getpid()}")
    os.makedirs(run_dir)
    ok = True
    try:
        spark = start_session(run_dir, None)
        try:
            for name, cls in WORKLOADS.items():
                wl = cls(spark, Tracer(), 7, SIZES["smoke"], os.path.join(run_dir, name))
                s = setup(wl, os.path.join(run_dir, name + "_in"))
                try:
                    wl.pin(corrupt(s["warm"], wl.golden_key))
                    golden_ok = False
                except OutputMismatch:
                    golden_ok = True
                wl.pin(s["warm"])
                fracs = []
                for sabotage in (False, True):
                    loop = Loop(wl, sabotage)
                    for _ in range(2):
                        loop.once()
                    fracs.append(loop.failed / loop.attempted)
                good = s["warmup_ok"] and golden_ok and fracs == [0.0, 1.0]
                ok &= good
                print(f"self-check {name}: failed_frac {fracs[0]} correct, {fracs[1]} "
                      f"corrupted; corrupted {wl.golden_key} at warm-up "
                      f"{'refused' if golden_ok else 'ACCEPTED'} -> {'ok' if good else 'FAILED'}")
        finally:
            stop_session(spark)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    return ok


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload")
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=10)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--self-check", action="store_true")
    args = ap.parse_args(argv)
    if not os.path.isfile(os.path.join(ROOT, "zparse_spark", "session.py")):
        print(f"no zparse_spark package next to {HERE}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    if args.self_check:
        return 0 if self_check() else 1
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        ap.error(f"--workload must be one of {sorted(WORKLOADS)}")
    result = run(args)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
