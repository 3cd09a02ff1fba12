"""Span tracing from outside the engine, plus Spark engine counters.

Tracing wraps public methods of the engine's classes at class level for the
duration of a traced run (``Tracer.install`` / ``Tracer.uninstall``) and
records one span per call: name, start, end, parent span and thread. The
benchmark also opens spans around its own calls whose work happens lazily
(``lookup_many(...).collect()``, ``current_state().toArrow()``). Spans stay in
memory until the run ends, then ``dump`` writes them as JSON.

Parents: a span's parent is the innermost open span on the same thread. Work
the controller hands to its own thread pools (sink applies, rollbacks) starts
on a thread with no open span; it is parented to the open
``controller.run`` span, unless the thread was marked ``detached`` (the
benchmark's reader thread, which is a separate client).

``SparkCounters`` diffs the status store's per-stage metrics around a
workload; it needs no tracing hooks and no Spark UI.
"""

from __future__ import annotations

import functools
import itertools
import json
import threading
import time
from contextlib import contextmanager


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        self._ambient: int | None = None
        self._patched: list[tuple[type, str, object]] = []
        #: True between ``install`` and ``uninstall``: the measured window
        self.active = False

    # ------------------------------------------------------------ recording
    def detach_thread(self) -> None:
        """Mark the calling thread as an independent client: its root spans
        get no ambient parent."""
        self._local.detached = True

    def _stack(self) -> list[int]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    @contextmanager
    def span(self, name: str, root: bool = False, **attrs):
        stack = self._stack()
        if stack:
            parent = stack[-1]
        elif getattr(self._local, "detached", False):
            parent = None
        else:
            parent = self._ambient
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "parent": parent,
               "thread": threading.get_ident(), "attrs": attrs}
        stack.append(sid)
        if root:
            self._ambient = sid
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if root:
                self._ambient = None
            with self._lock:
                self.spans.append(rec)

    # ----------------------------------------------------------- patching
    def wrap(self, cls: type, attr: str, name: str, root: bool = False,
             result_attr: str | None = None, call_attrs=None) -> None:
        """Replace ``cls.attr`` by a span-recording wrapper until
        ``uninstall``. ``result_attr`` stores the call's return value in the
        span's attrs under that key; ``call_attrs(args, kwargs)`` returns
        extra attrs taken from the call's arguments."""
        orig = cls.__dict__[attr]
        tracer = self

        @functools.wraps(orig)
        def traced(*args, **kwargs):
            extra = call_attrs(args, kwargs) if call_attrs else {}
            with tracer.span(name, root=root, **extra) as rec:
                out = orig(*args, **kwargs)
                if result_attr is not None:
                    rec["attrs"][result_attr] = out
                return out

        self._patched.append((cls, attr, orig))
        setattr(cls, attr, traced)

    def install(self) -> None:
        from hemera_indexer_spark.lake import LakeTable
        from hemera_indexer_spark.streaming import StreamController
        from hemera_indexer_spark.streaming.sinks import FactSink

        self.wrap(StreamController, "run", "controller.run", root=True,
                  result_attr="stats")
        # the controller fences a group's last segment with its epoch id
        self.wrap(LakeTable, "merge_upsert", "table.merge_upsert",
                  call_attrs=lambda a, k: {"epoch_id": k.get("epoch_id")})
        self.wrap(LakeTable, "maybe_compact", "table.maybe_compact",
                  result_attr="compacted")
        self.wrap(LakeTable, "delete_keys_where", "table.delete_keys_where")
        self.wrap(FactSink, "apply", "sinks.FactSink.apply")
        self.wrap(FactSink, "rollback", "sinks.FactSink.rollback")
        self.active = True

    def uninstall(self) -> None:
        self.active = False
        for cls, attr, orig in reversed(self._patched):
            setattr(cls, attr, orig)
        self._patched.clear()

    # ------------------------------------------------------------- queries
    def named(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def busy_s(self, name: str) -> float:
        return sum(s["end"] - s["start"] for s in self.named(name))

    def self_s(self, name: str) -> float:
        """Total duration of ``name`` spans minus the part of each interval
        covered by the union of its direct children."""
        children: dict[int, list[tuple[float, float]]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(
                    (s["start"], s["end"])
                )
        total = 0.0
        for s in self.named(name):
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(s["id"], [])):
                lo, hi = max(lo, s["start"]), min(hi, s["end"])
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
            total += (s["end"] - s["start"]) - covered
        return total

    def wrapper_cost_s(self, calls: int = 2000) -> float:
        """Measured cost of one traced call around a no-op: the tracer's
        own overhead per span."""

        class _Probe:
            def noop(self):
                return None

        self.wrap(_Probe, "noop", "trace.calibrate")
        try:
            p = _Probe()
            t = time.perf_counter()
            for _ in range(calls):
                p.noop()
            cost = (time.perf_counter() - t) / calls
        finally:
            cls, attr, orig = self._patched.pop()
            setattr(cls, attr, orig)
        with self._lock:
            self.spans = [s for s in self.spans if s["name"] != "trace.calibrate"]
        return cost

    def dump(self, path: str, t0: float) -> None:
        """Write every span as JSON, times in seconds relative to ``t0``."""
        out = []
        for s in sorted(self.spans, key=lambda s: s["start"]):
            attrs = {
                k: v for k, v in s["attrs"].items()
                if isinstance(v, (int, float, str, bool)) or v is None
            }
            out.append({
                "id": s["id"], "name": s["name"], "parent": s["parent"],
                "thread": s["thread"], "start": round(s["start"] - t0, 6),
                "end": round(s["end"] - t0, 6), "attrs": attrs,
            })
        with open(path, "w") as f:
            json.dump(out, f)


class SparkCounters:
    """Per-stage metrics from Spark's status store (works with
    ``spark.ui.enabled=false``), summed over the stages that finished
    between ``start`` and ``stop``."""

    FIELDS = (
        ("numTasks", "tasks"),
        ("numFailedTasks", "tasks_failed"),
        ("executorRunTime", "executor_run_ms"),
        ("inputBytes", "input_bytes"),
        ("outputBytes", "output_bytes"),
        ("shuffleReadBytes", "shuffle_read_bytes"),
        ("shuffleWriteBytes", "shuffle_write_bytes"),
        ("diskBytesSpilled", "spill_bytes"),
    )

    def __init__(self, spark):
        self._sc = spark.sparkContext
        self._before: set[tuple[int, int]] = set()

    def _stages(self):
        gw = self._sc._gateway
        store = self._sc._jsc.sc().statusStore()
        seq = store.stageList(
            gw.jvm.java.util.ArrayList(), False, False,
            gw.new_array(gw.jvm.double, 0), gw.jvm.java.util.ArrayList(),
        )
        return [seq.apply(i) for i in range(seq.size())]

    def start(self) -> None:
        self._before = {(s.stageId(), s.attemptId()) for s in self._stages()}

    def stop(self) -> dict:
        out = {"stages": 0, **{k: 0 for _, k in self.FIELDS}}
        for s in self._stages():
            if (s.stageId(), s.attemptId()) in self._before:
                continue
            out["stages"] += 1
            for getter, key in self.FIELDS:
                out[key] += int(getattr(s, getter)())
        return out
