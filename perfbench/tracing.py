"""Spans around calls into the package's layers, and a reader for Spark's
own event log.

`Tracer` keeps spans in memory (name, start, end, parent, pass id) and
wraps public functions of the layer modules. Wrappers keep the wrapped
function's name and module, so a wrapped function that gets pickled
into a Spark task still pickles by reference and runs unwrapped there.
Because modules bind imported functions by name (`from ..sources.io
import write_table`), `Tracer.rebind` also swaps every package module's
binding of a wrapped original for its wrapper.

`read_event_log` parses the uncompressed JSON-lines log written with
`spark.eventLog.enabled=true` / `spark.eventLog.compress=false` using
only the standard library.
"""

from __future__ import annotations

import functools
import glob
import inspect
import json
import os
import sys
import threading
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    pass_id: int | None
    span_id: int


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.pass_id: int | None = None
        self.spans: list[Span] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._main_stack: list[int] = []  # parents for spans opened in pool threads
        self._wrapped: dict[int, object] = {}
        self._next_id = 0

    def _new_id(self) -> int:
        with self._lock:
            self._next_id += 1
            return self._next_id

    def _stack(self) -> list[int]:
        if threading.current_thread() is threading.main_thread():
            return self._main_stack
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def open(self, name: str) -> tuple[str, float, int | None, int]:
        st = self._stack()
        main = self._main_stack
        parent = st[-1] if st else (main[-1] if main else None)
        sid = self._new_id()
        st.append(sid)
        return name, time.perf_counter(), parent, sid

    def close(self, token: tuple[str, float, int | None, int]) -> float:
        name, start, parent, sid = token
        end = time.perf_counter()
        self._stack().pop()
        with self._lock:
            self.spans.append(Span(name, start, end, parent, self.pass_id, sid))
        return end - start

    def wrap(self, name: str, fn):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            if not tracer.enabled:
                return fn(*args, **kwargs)
            token = tracer.open(name)
            try:
                return fn(*args, **kwargs)
            finally:
                tracer.close(token)

        self._wrapped[id(fn)] = wrapper
        return wrapper

    def install(self, prefix: str, module) -> None:
        """Wrap every public function defined in `module` as `prefix.<fn>`."""
        for attr, obj in list(vars(module).items()):
            if (
                inspect.isfunction(obj)
                and not attr.startswith("_")
                and obj.__module__ == module.__name__
                and id(obj) not in self._wrapped
            ):
                setattr(module, attr, self.wrap(f"{prefix}.{attr}", obj))

    def rebind(self, package: str) -> None:
        """Point every `package` module's binding of a wrapped function at
        its wrapper (covers `from x import f` done before `install`)."""
        for mod_name, mod in list(sys.modules.items()):
            if mod is None or not (mod_name == package or mod_name.startswith(package + ".")):
                continue
            for attr, obj in list(vars(mod).items()):
                w = self._wrapped.get(id(obj))
                if w is not None and w is not obj:
                    setattr(mod, attr, w)

    def self_times(self, pass_ids: set[int]) -> dict[str, tuple[float, int]]:
        """Per span name: (self seconds, calls) over `pass_ids`. Self time
        is the span's duration minus the union of its children's spans."""
        spans = [s for s in self.spans if s.pass_id in pass_ids]
        children: dict[int, list[Span]] = {}
        for s in spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, tuple[float, int]] = {}
        for s in spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for c in sorted(children.get(s.span_id, ()), key=lambda c: c.start):
                lo, hi = max(c.start, s.start), min(c.end, s.end)
                if hi <= lo:
                    continue
                if cur_hi is None or lo > cur_hi:
                    if cur_hi is not None:
                        covered += cur_hi - cur_lo
                    cur_lo, cur_hi = lo, hi
                else:
                    cur_hi = max(cur_hi, hi)
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            t, n = out.get(s.name, (0.0, 0))
            out[s.name] = (t + (s.end - s.start) - covered, n + 1)
        return out

    def dump(self, path: str, header: dict) -> None:
        """JSON lines: `header` first, then one span per line."""
        with open(path, "w") as f:
            f.write(json.dumps(header) + "\n")
            for s in self.spans:
                f.write(json.dumps(s.__dict__) + "\n")


@dataclass
class Job:
    job_id: int
    submit_ms: int
    label: str | None
    stage_ids: list[int]


@dataclass
class StageTotals:
    tasks: int = 0
    failed_tasks: int = 0
    task_ms: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    input_bytes: int = 0
    input_rows: int = 0
    output_bytes: int = 0
    shuffle_read_rows: int = 0
    scopes: set[str] = field(default_factory=set)


def read_event_log(log_dir: str, app_id: str, label_key: str):
    """Jobs and per-stage task totals of application `app_id`."""
    files = glob.glob(os.path.join(log_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    if not files:  # non-rolling layout
        files = glob.glob(os.path.join(log_dir, app_id))
    jobs: list[Job] = []
    stages: dict[int, StageTotals] = {}
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs.append(
                        Job(ev["Job ID"], ev["Submission Time"],
                            props.get(label_key), list(ev.get("Stage IDs", [])))
                    )
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    st = stages.setdefault(info["Stage ID"], StageTotals())
                    for rdd in info.get("RDD Info", []):
                        scope = rdd.get("Scope")
                        if scope:
                            st.scopes.add(json.loads(scope).get("name", ""))
                elif kind == "SparkListenerTaskEnd":
                    st = stages.setdefault(ev["Stage ID"], StageTotals())
                    ti = ev.get("Task Info", {})
                    st.tasks += 1
                    st.failed_tasks += bool(ti.get("Failed") or ti.get("Killed"))
                    st.task_ms += max(ti.get("Finish Time", 0) - ti.get("Launch Time", 0), 0)
                    tm = ev.get("Task Metrics") or {}
                    st.gc_ms += tm.get("JVM GC Time", 0)
                    st.spill_bytes += tm.get("Memory Bytes Spilled", 0) + tm.get("Disk Bytes Spilled", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    st.shuffle_read_bytes += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    st.shuffle_read_rows += sr.get("Total Records Read", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    st.shuffle_write_bytes += sw.get("Shuffle Bytes Written", 0)
                    im = tm.get("Input Metrics") or {}
                    st.input_bytes += im.get("Bytes Read", 0)
                    st.input_rows += im.get("Records Read", 0)
                    om = tm.get("Output Metrics") or {}
                    st.output_bytes += om.get("Bytes Written", 0)
    return jobs, stages
