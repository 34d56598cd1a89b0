"""Benchmark of the route-analytics engine: three workloads, end-to-end and
per-layer metrics.

Run from the repository root:

    python3 perfbench/run.py --workload route_pipeline --seed 1 --seconds 12 --trace 0
    python3 perfbench/run.py --workload all --seed 1 --seconds 12 --trace 0

Workloads (see `workloads.py` for sizes):
  star_olap       twelve parity queries over a seeded TPC-H-ish star schema
  corpus_dedup    q74 near-dup clustering over seeded documents
  route_pipeline  `pipelines.dag.run_dag` over a seeded BDB-shaped world
BENCHMARK.json lists the last two only: 22 runs of each must fit the
benchmark's time budget, and star_olap's ~17 s passes do not.

One run: import the package, write the seeded inputs as parquet, start
a SparkSession and register the inputs, run the workload's warm-up
passes, then time passes for `--seconds` (at least the workload's
`min_passes`). The
correctness references (the DuckDB oracle) are evaluated on a side
thread from the end of input generation and waited for before the
timed passes. Every pass is checked.

Timings leave out stolen time. On a virtual machine the hypervisor may
withhold CPU time from the guest while other guests run; /proc/stat
counts it as `steal`. A pass's unstolen time is its wall time times
(1 - the share of the CPUs' runnable time that was stolen during it):
its wall time on a host that gave the guest all the CPU time it asked
for. On a 4-vCPU Xeon guest of a shared host the share swung between 0
and 0.2 from one minute to the next. In three sets of ten route_pipeline
runs the interquartile range of the runs' median pass was 17-23% of its
median in wall time and 8-14% in unstolen time. `pass_s` is the median
unstolen time of the timed passes; `setup_s` is the unstolen time of one
cold set-up, from import to the end of warm-up (the wait for the
references is not part of it). The wall times and the steal share are
reported beside them (`pass_wall_s`, `setup_wall_s`, `host.steal_frac`
with `--trace 1`, and on the summary line).

The last stdout line is one JSON object:
{"correct", "attempted", "failed", "metrics"}; `--trace 0` reports the
end-to-end metrics, `--trace 1` the per-layer ones (spans around calls
into each layer, plus Spark's event log). Every run prints a stamp line
(host, versions, load) first and writes nothing outside the checkout:
inputs, Spark scratch and event logs go to `.perfbench_work/` (removed
at exit), span dumps to `.perfbench_out/`.
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
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
PACKAGE = "bigdatabowl2024_25_spark"

WORKLOADS = ("star_olap", "corpus_dedup", "route_pipeline")

END_TO_END = {"pass_s": "s", "setup_s": "s"}


OPERATOR_MODULES = [
    "dedup", "similarity", "components", "bpe", "text",
    "relational", "windows", "aggregates",
]


def _per_layer_names() -> dict[str, str]:
    from workloads import CORPUS_QUERIES, STAGES

    m = {
        "failed_frac": "frac",
        "peak_rss_mb": "MB",
        "pass_n": "count",
        "trace_overhead_frac": "frac",
        "pass_wall_s": "s",
        "setup_wall_s": "s",
        "host.steal_frac": "frac",
        "setup.import_s": "s",
        "setup.session_s": "s",
        "setup.inputs_s": "s",
        "setup.warmup_s": "s",
        "suite.construct_s": "s",
        "suite.collect_s": "s",
    }
    for q in CORPUS_QUERIES:
        m[f"query.{q[:3]}.construct_s"] = "s"
        m[f"query.{q[:3]}.collect_s"] = "s"
    for k in ("jobs", "construct_jobs", "stages", "tasks", "failed_tasks"):
        m[f"spark.{k}"] = "count"
    for k in ("task_s", "gc_s"):
        m[f"spark.{k}"] = "s"
    for k in ("shuffle_write_mb", "shuffle_read_mb", "spill_mb"):
        m[f"spark.{k}"] = "MB"
    m["spark.core_util"] = "frac"
    m.update({
        "sources.scan_mb": "MB",
        "sources.scan_rows": "count",
        "sources.write_mb": "MB",
        "sources.write_s": "s",
    })
    for s in STAGES:
        m[f"pipelines.{s}_s"] = "s"
    m.update({
        "functions.kernel_rows": "count",
        "functions.kernel_tasks": "count",
        "functions.kernel_task_s": "s",
        "functions.overlap_ms_per_row": "ms",
    })
    for mod in OPERATOR_MODULES:
        m[f"operators.{mod}.self_s"] = "s"
        m[f"operators.{mod}.calls"] = "count"
    m["concurrency.unlabelled_jobs"] = "count"
    return m


def _git_sha() -> str:
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = ROOT / ".git" / name
        if loose.exists():
            return loose.read_text().strip()
        for line in (ROOT / ".git" / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return "unknown"


def _stamp() -> dict:
    import pyarrow
    import pyspark

    return {
        "nproc": os.cpu_count(),
        "SPARK_GRAFT_CPUS": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "git_sha": _git_sha(),
        "spark": pyspark.__version__,
        "pyarrow": pyarrow.__version__,
        "python": sys.version.split()[0],
    }


def _alive(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except (OSError, IndexError):
        return False


def _descendants() -> list[int]:
    """Live processes under this one (the Spark JVM and its Python workers)."""
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except (OSError, IndexError):
            continue
        if fields[0] != "Z":
            kids.setdefault(int(fields[1]), []).append(int(d))
    out, stack = [], list(kids.get(os.getpid(), []))
    while stack:
        pid = stack.pop()
        out.append(pid)
        stack.extend(kids.get(pid, []))
    return out


class RssSampler(threading.Thread):
    """Peak summed RSS of this process's descendants, sampled from /proc
    while `active` is set."""

    def __init__(self, interval: float = 0.2) -> None:
        super().__init__(daemon=True)
        self.interval = interval
        self.active = threading.Event()
        self.done = threading.Event()
        self.peak = 0
        self._page = os.sysconf("SC_PAGE_SIZE")

    def _tree_rss(self) -> int:
        total = 0
        for pid in _descendants():
            try:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * self._page
            except (OSError, ValueError, IndexError):
                pass
        return total

    def run(self) -> None:
        while not self.done.wait(self.interval):
            if self.active.is_set():
                self.peak = max(self.peak, self._tree_rss())


def _stop_spark(spark) -> None:
    """Stop the session and the JVM it launched, and wait until the JVM
    and its Python workers have exited. The JVM exits when its stdin
    closes; the workers exit when the JVM does."""
    from pyspark import SparkContext

    pids = _descendants()
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
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
    deadline = time.monotonic() + 30
    while any(_alive(p) for p in pids) and time.monotonic() < deadline:
        time.sleep(0.1)


def _configure_env(work: Path) -> None:
    """Keep every file the run writes inside `work`, and let the Spark
    Python workers import the package whatever the launch directory."""
    for sub in ("tmp", "local"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ["TMPDIR"] = str(work / "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = str(work / "local")
    path = os.environ.get("PYTHONPATH")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    import tempfile

    tempfile.tempdir = str(work / "tmp")


def _spark_conf(work: Path, trace: bool) -> dict[str, str]:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.local.dir": str(work / "local"),
        "spark.sql.warehouse.dir": str(work / "warehouse"),
        "spark.driver.extraJavaOptions": (
            f"-XX:-UsePerfData -Djava.io.tmpdir={work / 'tmp'} "
            f"-Dderby.system.home={work}"
        ),
    }
    if trace:
        (work / "eventlog").mkdir(exist_ok=True)
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.compress": "false",
            "spark.eventLog.dir": f"file://{work / 'eventlog'}",
        })
    return conf


def _install_tracer(tracer) -> None:
    """Wrap the layer modules' public functions before the suite imports
    them, then rebind names the package already imported."""
    import importlib

    for mod in OPERATOR_MODULES:
        tracer.install(f"operators.{mod}", importlib.import_module(f"{PACKAGE}.operators.{mod}"))
    tracer.install("sources", importlib.import_module(f"{PACKAGE}.sources.io"))
    tracer.install("functions", importlib.import_module(f"{PACKAGE}.functions.kernels"))
    tracer.rebind(PACKAGE)
    dag = importlib.import_module(f"{PACKAGE}.pipelines.dag")
    write = dag.write_table

    def stage_write(df, path, *args, **kwargs):
        if not tracer.enabled:
            return write(df, path, *args, **kwargs)
        token = tracer.open(f"pipelines.{os.path.basename(path.rstrip('/'))}")
        try:
            return write(df, path, *args, **kwargs)
        finally:
            tracer.close(token)

    dag.write_table = stage_write


def _overlap_ms_per_row(seed: int, rows: int = 200) -> float:
    """`functions.kernels.overlap` called directly on a seeded batch."""
    import numpy as np

    from bigdatabowl2024_25_spark.functions import kernels

    rng = np.random.default_rng(seed)
    args = [
        (
            rng.uniform(0.5, 8.0), rng.uniform(0, 360), rng.uniform(10, 110),
            rng.uniform(5, 48),
            np.column_stack([rng.uniform(0, 120, 7), rng.uniform(0, 53.3, 7),
                             rng.uniform(0.5, 8.0, 7)]),
            rng.uniform(12, 22), rng.uniform(10, 110), rng.uniform(5, 48),
        )
        for _ in range(rows)
    ]
    t = time.perf_counter()
    for i, a in enumerate(args):
        kernels.overlap(*a, density=5.0, seed=i)
    return (time.perf_counter() - t) * 1000.0 / rows


def _cpu_jiffies() -> tuple[int, int]:
    """(steal, runnable) jiffies of the host's CPUs so far, from /proc/stat:
    runnable is all time but idle and iowait, stolen time included."""
    try:
        with open("/proc/stat") as f:
            fields = [int(x) for x in f.readline().split()[1:]]
    except (OSError, ValueError):
        return 0, 0
    steal = fields[7] if len(fields) > 7 else 0
    return steal, sum(fields[:8]) - fields[3] - fields[4]


def _steal_share(before: tuple[int, int]) -> float:
    """Share of the CPUs' runnable time since `before` that the hypervisor
    gave to other guests (0 where the kernel reports no steal)."""
    steal, runnable = _cpu_jiffies()
    return (steal - before[0]) / max(runnable - before[1], 1)


def _run_pass(run, spark, pass_dir: str, kind: str, idx: int):
    """One pass (`run` is a workload's `warm_up` or `run_pass`), with the
    steal share over it, logged to stderr."""
    before = _cpu_jiffies()
    res = run(spark, pass_dir)
    res.steal = _steal_share(before)
    ops = " ".join(f"{o.name[:3]}={o.construct_s + o.collect_s:.2f}"
                   for o in res.ops if o.t2 > o.t1)
    print(f"{kind} pass {idx}: {res.wall_s:.3f} s  steal {res.steal:.3f}  "
          f"unstolen {res.unstolen_s:.3f} s  {ops}", file=sys.stderr, flush=True)
    return res


def _median(xs):
    return statistics.median(xs) if xs else 0.0


def _layer_metrics(wl, passes, traced_ids, tracer, work, app_id, cores, extra):
    from tracing import read_event_log
    from workloads import LABEL, STAGES

    units = _per_layer_names()
    m = dict.fromkeys(units, 0.0)
    m.update(extra)
    traced = [passes[i] for i in sorted(traced_ids)]
    n = max(len(traced), 1)
    wall = sum(p.wall_s for p in traced)

    if wl.name != "route_pipeline":
        for q in wl.queries:
            ops = [o for p in traced for o in p.ops if o.name == q]
            for phase in ("construct_s", "collect_s"):
                units[f"query.{q[:3]}.{phase}"] = "s"
                m[f"query.{q[:3]}.{phase}"] = sum(getattr(o, phase) for o in ops) / n
        m["suite.construct_s"] = sum(o.construct_s for p in traced for o in p.ops) / n
        m["suite.collect_s"] = sum(o.collect_s for p in traced for o in p.ops) / n
    else:
        radius = [o.rows for p in traced for o in p.ops if o.name == "radius_data"]
        m["functions.kernel_rows"] = sum(radius) / n

    spans = tracer.self_times(set(traced_ids))
    for name, (self_s, calls) in spans.items():
        parts = name.split(".")
        if parts[0] == "operators" and parts[1] in OPERATOR_MODULES:
            m[f"operators.{parts[1]}.self_s"] += self_s / n
            m[f"operators.{parts[1]}.calls"] += calls / n
        elif name == "sources.write_table":
            m["sources.write_s"] += self_s / n
    durations: dict[str, float] = {}
    for s in tracer.spans:
        if s.pass_id in traced_ids and s.name.startswith("pipelines."):
            durations[s.name] = durations.get(s.name, 0.0) + (s.end - s.start)
    for st in STAGES:
        m[f"pipelines.{st}_s"] = durations.get(f"pipelines.{st}", 0.0) / n

    jobs, stages = read_event_log(str(work / "eventlog"), app_id, LABEL)
    windows = [(p.t0 * 1000, p.t1 * 1000) for p in traced]
    # construction windows exist for query ops only: a run_dag stage
    # builds and writes its table in one call
    construct = [(o.t0 * 1000, o.t1 * 1000) for p in traced for o in p.ops if o.t1 > o.t0]
    seen: set[int] = set()
    agg = dict.fromkeys(
        ("jobs", "construct_jobs", "stages", "tasks", "failed_tasks", "task_ms",
         "gc_ms", "sw", "sr", "spill", "in_b", "in_r", "out_b", "unlabelled",
         "k_tasks", "k_ms"), 0)
    for job in jobs:
        if not any(lo <= job.submit_ms <= hi for lo, hi in windows):
            continue
        agg["jobs"] += 1
        agg["construct_jobs"] += any(lo <= job.submit_ms <= hi for lo, hi in construct)
        agg["unlabelled"] += job.label is None
        for sid in job.stage_ids:
            st = stages.get(sid)
            if sid in seen or st is None or st.tasks == 0:
                continue
            seen.add(sid)
            agg["stages"] += 1
            agg["tasks"] += st.tasks
            agg["failed_tasks"] += st.failed_tasks
            agg["task_ms"] += st.task_ms
            agg["gc_ms"] += st.gc_ms
            agg["sw"] += st.shuffle_write_bytes
            agg["sr"] += st.shuffle_read_bytes
            agg["spill"] += st.spill_bytes
            agg["in_b"] += st.input_bytes
            agg["in_r"] += st.input_rows
            agg["out_b"] += st.output_bytes
            if "MapInPandas" in st.scopes:
                agg["k_tasks"] += st.tasks
                agg["k_ms"] += st.task_ms
    mb = 1024.0 * 1024.0
    m.update({
        "spark.jobs": agg["jobs"] / n,
        "spark.construct_jobs": agg["construct_jobs"] / n,
        "spark.stages": agg["stages"] / n,
        "spark.tasks": agg["tasks"] / n,
        "spark.failed_tasks": agg["failed_tasks"] / n,
        "spark.task_s": agg["task_ms"] / 1000.0 / n,
        "spark.gc_s": agg["gc_ms"] / 1000.0 / n,
        "spark.shuffle_write_mb": agg["sw"] / mb / n,
        "spark.shuffle_read_mb": agg["sr"] / mb / n,
        "spark.spill_mb": agg["spill"] / mb / n,
        "spark.core_util": agg["task_ms"] / 1000.0 / (cores * wall) if wall else 0.0,
        "sources.scan_mb": agg["in_b"] / mb / n,
        "sources.scan_rows": agg["in_r"] / n,
        "sources.write_mb": agg["out_b"] / mb / n,
        "concurrency.unlabelled_jobs": agg["unlabelled"] / n,
    })
    if wl.name == "route_pipeline":
        m["functions.kernel_tasks"] = agg["k_tasks"] / n
        m["functions.kernel_task_s"] = agg["k_ms"] / 1000.0 / n
    return m, units


def run_one(args) -> int:
    start = (time.perf_counter(), _cpu_jiffies())
    if not (ROOT / PACKAGE / "__init__.py").is_file():
        print(f"error: package {PACKAGE!r} not found under {ROOT}", file=sys.stderr)
        return 2
    work = ROOT / ".perfbench_work" / f"{args.workload}-{args.seed}-{os.getpid()}"
    _configure_env(work)
    try:
        return _measure(args, work, start)
    finally:
        shutil.rmtree(work, ignore_errors=True)
        if work.parent.is_dir() and not any(work.parent.iterdir()):
            work.parent.rmdir()


def _measure(args, work: Path, start: tuple[float, tuple[int, int]]) -> int:
    """`start`: perf_counter and `_cpu_jiffies()` when the run began."""
    sys.path.insert(0, str(ROOT))
    sys.path.insert(0, str(HERE))

    import tracing
    import workloads

    tracer = tracing.Tracer()
    if args.trace:
        _install_tracer(tracer)
    from bigdatabowl2024_25_spark import suite
    from bigdatabowl2024_25_spark.session import default_parallelism, get_spark

    suite.load_all()
    import_s = time.perf_counter() - start[0]
    stamp = _stamp()
    print(json.dumps({"stamp": stamp, "workload": args.workload, "seed": args.seed}), flush=True)

    wl = workloads.make(args.workload)
    conf = _spark_conf(work, bool(args.trace))
    spark = None
    sampler = RssSampler()
    if args.trace:
        sampler.start()
    # the correctness references are evaluated on a side thread while the
    # JVM starts and the workload warms up, and waited for before timing
    refs = ThreadPoolExecutor(max_workers=1)
    try:
        t = time.perf_counter()
        wl.generate(str(work / "in"), args.seed)
        inputs_s = time.perf_counter() - t
        pending = refs.submit(wl.prepare_checks)
        t = time.perf_counter()
        spark = get_spark(app_name=f"perfbench-{args.workload}", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        session_s = time.perf_counter() - t
        t = time.perf_counter()
        wl.register(spark)
        inputs_s += time.perf_counter() - t

        passes = []
        t = time.perf_counter()
        for i in range(wl.warmup_passes):
            passes.append(_run_pass(wl.warm_up, spark, str(work / f"pass{i}"), "warm-up", i))
        warmup_s = time.perf_counter() - t
        setup_steal = _steal_share(start[1])
        pending.result()

        timed: list[int] = []
        traced: set[int] = set()
        sampler.active.set()
        t = time.perf_counter()
        while True:
            n_traced = len(traced)
            n_plain = len(timed) - n_traced
            enough = (n_traced >= wl.min_passes and n_plain >= 1) if args.trace else len(timed) >= wl.min_passes
            if enough and time.perf_counter() - t >= args.seconds:
                break
            idx = len(passes)
            tracer.enabled = bool(args.trace) and n_traced <= n_plain
            tracer.pass_id = idx
            kind = "traced" if tracer.enabled else "timed"
            passes.append(_run_pass(wl.run_pass, spark, str(work / f"pass{idx}"), kind, idx))
            if tracer.enabled:
                traced.add(idx)
            tracer.enabled = False
            timed.append(idx)
        sampler.active.clear()
        app_id = spark.sparkContext.applicationId
        cores = spark.sparkContext.defaultParallelism
    finally:
        refs.shutdown(wait=True, cancel_futures=True)
        sampler.done.set()
        if sampler.is_alive():
            sampler.join()
        if spark is not None:
            _stop_spark(spark)

    ops = [o for p in passes for o in p.ops]
    failed = [o for o in ops if not o.ok]
    failed_frac = len(failed) / len(ops)
    plain = [passes[i] for i in timed if i not in traced]
    pass_s = _median([p.unstolen_s for p in plain])
    pass_wall_s = _median([p.wall_s for p in plain])
    setup_wall_s = import_s + session_s + inputs_s + warmup_s
    setup_s = setup_wall_s * (1.0 - setup_steal)

    if args.trace:
        extra = {
            "failed_frac": failed_frac,
            "peak_rss_mb": sampler.peak / 1e6,
            "pass_n": len(traced),
            "trace_overhead_frac": _median([passes[i].unstolen_s for i in traced]) / pass_s - 1.0,
            "pass_wall_s": pass_wall_s,
            "setup_wall_s": setup_wall_s,
            "host.steal_frac": _median([p.steal for p in plain]),
            "setup.import_s": import_s,
            "setup.session_s": session_s,
            "setup.inputs_s": inputs_s,
            "setup.warmup_s": warmup_s,
            "functions.overlap_ms_per_row": _overlap_ms_per_row(args.seed),
        }
        values, units = _layer_metrics(wl, passes, traced, tracer, work, app_id, cores, extra)
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        tracer.dump(str(out_dir / f"spans-{args.workload}-{args.seed}.jsonl"), stamp)
    else:
        values = {"pass_s": pass_s, "setup_s": setup_s}
        units = END_TO_END

    walls = sorted(p.wall_s for p in plain)
    print(
        f"{args.workload}: pass_s median {pass_s:.3f} s over {len(plain)} passes "
        f"(wall: median {pass_wall_s:.3f}, min {walls[0]:.3f}, max {walls[-1]:.3f}); "
        f"setup_s {setup_s:.3f} s (wall {setup_wall_s:.3f}: import {import_s:.2f}, "
        f"session {session_s:.2f}, inputs {inputs_s:.2f}, warm-up {warmup_s:.2f}; "
        f"steal {setup_steal:.3f}); "
        f"failed_frac {failed_frac:.4f} "
        f"({len(failed)}/{len(ops)}); cores {default_parallelism()}; "
        f"loadavg end {[round(x, 2) for x in os.getloadavg()]}",
        flush=True,
    )
    for o in failed:
        print(f"FAILED {o.name}: {o.error}", flush=True)
    result = {
        "correct": not failed,
        "attempted": len(ops),
        "failed": len(failed),
        "metrics": {k: {"value": values[k], "unit": u} for k, u in units.items()},
    }
    print(json.dumps(result), flush=True)
    return 0


def run_all(args) -> int:
    """Each workload in its own process (its own JVM), then one table."""
    results = {}
    for w in WORKLOADS:
        cmd = [sys.executable, str(Path(__file__).resolve()), "--workload", w,
               "--seed", str(args.seed), "--seconds", str(args.seconds),
               "--trace", str(args.trace)]
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True)
        lines = proc.stdout.strip().splitlines()
        for line in lines[:-1]:
            print(line)
        if proc.returncode != 0 or not lines:
            sys.stderr.write(proc.stderr[-4000:])
            return proc.returncode or 1
        results[w] = json.loads(lines[-1])
    print(f"{'workload':16s} {'metric':34s} {'value':>12s} unit")
    for w, r in results.items():
        for k, v in r["metrics"].items():
            print(f"{w:16s} {k:34s} {v['value']:12.4f} {v['unit']}")
        print(f"{w:16s} {'failed_frac':34s} {r['failed'] / r['attempted']:12.4f} frac")
    print(json.dumps(results))
    return 0


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True,
                    choices=[*WORKLOADS, "all"])
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=12.0)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    args = ap.parse_args(argv)
    if args.workload == "all":
        return run_all(args)
    return run_one(args)


if __name__ == "__main__":
    sys.exit(main())
