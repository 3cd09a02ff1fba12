"""The benchmark's workloads, driven only through the engine's public API.

Both workloads share one shape: set up (generate or reuse the seeded log,
then warm the JVM by running the whole path on a small log several times),
measure for ``seconds``, and check the outputs after timing stops.

- ``catchup``: closed loop. Replay the whole backlog into an empty
  merge-on-read state table, read the live table back with its payload, then
  issue a few batched point lookups; repeat into fresh tables until the time
  is spent. Metrics are medians over replays and pooled lookup latencies.
- ``tail``: open loop. An arrival thread moves one pre-generated epoch into
  the log directory every ``seconds / arrivals`` seconds (one atomic rename
  each); the writer calls ``StreamController.run`` until it has caught up;
  a reader thread issues ``lookup_many`` against the live table the whole
  time. Rollback epochs, duplicates and a schema change arrive with the
  epochs, and every commit also writes a ``FactSink`` history table.
"""

from __future__ import annotations

import contextlib
import os
import random
import shutil
import statistics
import sys
import threading
import time
import traceback
from dataclasses import dataclass, field


from hemera_indexer_spark import oracle
from hemera_indexer_spark.lake import LakeTable
from hemera_indexer_spark.schemas import FACTS_SCHEMA, SEQUENCES_SCHEMA
from hemera_indexer_spark.streaming import StreamController

import check
import inputs
from spans import SparkCounters, Tracer

CORES = 4
# storage buckets of every table a workload creates: the backfill's table
# holds ~60k live rows, the tail's ~15k
CATCHUP_BUCKETS = 32
TAIL_BUCKETS = 8
# compact a tail bucket at 5 delta files (the controller's default is 8), so
# a compaction falls inside the measured window
TAIL_COMPACT_MAX_DELTAS = 5
LOOKUP_KEYS = 16
SETUP_REPS = 3
CATCHUP_LOOKUPS_PER_REPLAY = 2
TAIL_SCANS = 2
# the untimed warm-up replays this many of the backfill's epochs
CATCHUP_WARMUP_EPOCHS = 2
ARRIVAL_LAG_LIMIT_S = 1.0
READER_THINK_S = 0.5
DRAIN_LIMIT_S = 60.0


@dataclass
class Context:
    spark: object
    work: str
    cache: str
    seed: int
    seconds: float
    tracer: Tracer | None = None


@dataclass
class Result:
    metrics: dict = field(default_factory=dict)
    samples: dict = field(default_factory=dict)
    info: dict = field(default_factory=dict)
    layers: dict = field(default_factory=dict)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    _lock: threading.Lock = field(default_factory=threading.Lock)

    def op(self, ok: bool = True, problem: str | None = None) -> None:
        with self._lock:
            self.attempted += 1
            if not ok:
                self.failed += 1
                self.problems.append(problem or "operation failed")

    def check(self, problems: list[str], what: str) -> None:
        self.op(not problems, f"{what}: " + "; ".join(problems[:5]))


def percentile(values: list[float], q: int) -> float:
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[q - 1]


def _tracing(ctx: Context) -> bool:
    return ctx.tracer is not None and ctx.tracer.active


def _span(ctx: Context, name: str):
    return ctx.tracer.span(name) if _tracing(ctx) else contextlib.nullcontext()


def _doc(i: int) -> str:
    return f"doc_{i:08d}"


def _open(ctx: Context, root: str, log_dir: str, buckets: int, history: bool,
          **controller_kw):
    state = LakeTable.create(
        ctx.spark, os.path.join(root, "state"), SEQUENCES_SCHEMA,
        num_buckets=buckets,
    )
    facts = None
    if history:
        facts = LakeTable.create(
            ctx.spark, os.path.join(root, "facts"), FACTS_SCHEMA,
            num_buckets=buckets, properties={"table_type": "fact"},
        )
    ctl = StreamController(
        ctx.spark, state, log_dir, inputs.N_PARTITIONS, fact_table=facts,
        **controller_kw,
    )
    return state, facts, ctl


def _setup(ctx: Context, shape: inputs.LogShape, buckets: int) -> list[float]:
    """Time SETUP_REPS set-ups of a fresh state table on the warmed-up JVM:
    create the table and its controller and commit one small epoch."""
    log = os.path.join(inputs.ensure_log(ctx.cache, inputs.setup_shape(shape), 0), "log")
    times = []
    for i in range(SETUP_REPS):
        root = os.path.join(ctx.work, f"setup-{i}")
        t = time.perf_counter()
        _, _, ctl = _open(ctx, root, log, buckets, history=False)
        ctl.run()
        times.append(time.perf_counter() - t)
        shutil.rmtree(root, ignore_errors=True)
    return times


def _freshness(state: LakeTable, arrivals: dict[int, float]) -> list[float]:
    """Seconds from each epoch's arrival to the commit time of the first
    snapshot whose fenced epoch covers it."""
    snaps = [s for s in state.snapshots() if s["committed_at"] is not None]
    out = []
    for epoch, arrived in sorted(arrivals.items()):
        vis = min((s["committed_at"] for s in snaps if s["epoch_id"] >= epoch),
                  default=None)
        if vis is not None:  # None: the writer failed before committing it
            out.append(vis - arrived)
    return out


def _lake_files(table: LakeTable) -> tuple[int, int]:
    """(data files, bytes) the table ever wrote; nothing is vacuumed."""
    n = size = 0
    for dirpath, _, names in os.walk(table.data_dir):
        for name in names:
            if name.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(dirpath, name))
    return n, size


def _lookup(ctx: Context, res: Result, table: LakeTable, keys: list[str],
            latencies: list[float], depths: list[int]) -> dict | None:
    """One timed batched lookup; returns {doc_id: seq} or None on failure."""
    if _tracing(ctx):
        depths.append(table.table_health()["max_delta_depth"])
    try:
        with _span(ctx, "table.lookup_many"):
            t = time.perf_counter()
            rows = table.lookup_many(keys).collect()
            latencies.append(time.perf_counter() - t)
    except Exception:
        traceback.print_exc(file=sys.stderr)
        res.op(False, "lookup_many raised")
        return None
    got = {r["doc_id"]: r["seq"] for r in rows}
    res.op(len(got) == len(rows) and set(got) <= set(keys),
           "lookup returned duplicate or unrequested keys")
    return got


def _scan(ctx: Context, table: LakeTable):
    with _span(ctx, "table.current_state_scan"):
        t = time.perf_counter()
        at = table.current_state().toArrow()
        return at, time.perf_counter() - t


def _traced(ctx: Context):
    """Install tracing and start the Spark counters for the measured
    window; returns a stop function yielding the counters."""
    if not ctx.tracer:
        return lambda: None
    counters = SparkCounters(ctx.spark)
    counters.start()
    ctx.tracer.install()

    def stop():
        ctx.tracer.uninstall()
        return counters.stop()

    return stop


# --------------------------------------------------------------- catchup
def _replay(ctx: Context, res: Result, log: str, root: str, epochs: list[int],
            n_docs: int, rng: random.Random, out: dict) -> dict:
    """Replay ``epochs`` of ``log`` into a fresh table, scan it, look up;
    append samples to ``out``'s lists and return this replay's figures."""
    state, _, ctl = _open(ctx, root, log, CATCHUP_BUCKETS, history=False)
    arrived = time.time()
    t = time.perf_counter()
    stats = ctl.run(max_epochs=len(epochs))
    run_s = time.perf_counter() - t
    res.op()
    out["fresh"] += _freshness(state, {e: arrived for e in epochs})
    at, scan_s = _scan(ctx, state)
    res.op()
    for _ in range(CATCHUP_LOOKUPS_PER_REPLAY):
        keys = [_doc(rng.randrange(n_docs)) for _ in range(LOOKUP_KEYS)]
        got = _lookup(ctx, res, state, keys, out["latencies"], out["depths"])
        if got is not None:
            out["lookups"].append((keys, got))
    files, size = _lake_files(state)
    return {
        "events": stats.total_events, "run_s": run_s, "rows": at.num_rows,
        "scan_s": scan_s, "arrow": at,
        "bytes_per_row": state.table_health()["bytes_total"] / at.num_rows,
        "commits": state.refresh()["version"], "files": files, "bytes": size,
    }


def catchup(ctx: Context) -> Result:
    res = Result()
    shape = inputs.CATCHUP
    log = os.path.join(inputs.ensure_log(ctx.cache, shape, ctx.seed), "log")
    epochs = [int(d.split("=")[1]) for d in inputs.epoch_dirs(log)]
    rng = random.Random(ctx.seed)
    n_docs = shape.spec.n_docs

    # warm-up: an untimed replay of the first epochs (one group, like the
    # timed replays' first), so JIT and codegen are done before set-up
    t = time.perf_counter()
    _replay(ctx, Result(), log, os.path.join(ctx.work, "warmup"),
            epochs[:CATCHUP_WARMUP_EPOCHS], n_docs, random.Random(-1),
            {"fresh": [], "latencies": [], "depths": [], "lookups": []})
    shutil.rmtree(os.path.join(ctx.work, "warmup"), ignore_errors=True)
    warmup_s = time.perf_counter() - t
    setup = _setup(ctx, shape, CATCHUP_BUCKETS)

    out = {"fresh": [], "latencies": [], "depths": [], "lookups": []}
    replays = []
    stop_trace = _traced(ctx)
    t0 = time.perf_counter()
    while not replays or time.perf_counter() - t0 < ctx.seconds:
        root = os.path.join(ctx.work, f"catchup-{len(replays)}")
        try:
            replays.append(_replay(ctx, res, log, root, epochs, n_docs, rng, out))
        except Exception:
            traceback.print_exc(file=sys.stderr)
            res.op(False, "replay raised")
            break
        if len(replays) > 1:
            shutil.rmtree(os.path.join(ctx.work, f"catchup-{len(replays) - 2}"),
                          ignore_errors=True)
            replays[-2]["arrow"] = None
    wall = time.perf_counter() - t0
    spark_counts = stop_trace()
    if not replays:
        return res

    expected = check.lww_fold(log)
    res.check(check.compare_state(replays[-1]["arrow"], expected), "final state vs fold")
    res.check(check.compare_lookups(out["lookups"], expected), "lookups vs fold")

    latencies, fresh = out["latencies"], out["fresh"]
    res.metrics = {
        "setup_s": statistics.median(setup),
        "events_per_s": statistics.median(r["events"] / r["run_s"] for r in replays),
        "freshness_s_p50": percentile(fresh, 50),
        "freshness_s_p90": percentile(fresh, 90),
        "lookup_s_p50": percentile(latencies, 50),
        "lookup_s_p90": percentile(latencies, 90),
        "scan_rows_per_s": statistics.median(r["rows"] / r["scan_s"] for r in replays),
        "bytes_per_live_row": replays[-1]["bytes_per_row"],
    }
    res.samples = {"replays": len(replays), "freshness": len(fresh),
                   "lookups": len(latencies), "scans": len(replays)}
    res.info = {"warmup_s": warmup_s, "events_per_replay": replays[-1]["events"],
                "replay_s": [round(r["run_s"], 3) for r in replays],
                "scan_s": [round(r["scan_s"], 3) for r in replays],
                "lookup_s": [round(x, 3) for x in latencies],
                "live_rows": replays[-1]["rows"], "measured_s": wall}
    if ctx.tracer:
        events = sum(r["events"] for r in replays)
        res.layers = layer_metrics(
            ctx.tracer, spark_counts, wall=wall, events=events, per=len(replays),
            commits=sum(r["commits"] for r in replays),
            files=sum(r["files"] for r in replays),
            bytes_written=sum(r["bytes"] for r in replays),
            depths=out["depths"], fact_rows=0, arrival_lag=0.0,
        )
    return res


# ------------------------------------------------------------------ tail
def tail(ctx: Context) -> Result:
    res = Result()
    shape = inputs.TAIL
    src = os.path.join(inputs.ensure_log(ctx.cache, shape, ctx.seed), "log")

    root = os.path.join(ctx.work, "tail")
    stage, live = os.path.join(root, "stage"), os.path.join(root, "log")
    shutil.copytree(src, stage)
    os.makedirs(live)
    names = inputs.epoch_dirs(stage)
    base, arriving = names[: inputs.TAIL_BASE_EPOCHS], names[inputs.TAIL_BASE_EPOCHS:]
    for d in base:
        os.rename(os.path.join(stage, d), os.path.join(live, d))
    state, facts, ctl = _open(ctx, root, live, TAIL_BUCKETS, history=True,
                              compact_max_deltas=TAIL_COMPACT_MAX_DELTAS)
    # the history epochs (one with a rollback) also warm the JVM up
    t = time.perf_counter()
    ctl.run()
    preload_s = time.perf_counter() - t
    setup = _setup(ctx, shape, TAIL_BUCKETS)

    interval = ctx.seconds / len(arriving)
    last_epoch = int(arriving[-1].split("=")[1])
    due: dict[int, float] = {}
    lag = [0.0]
    latencies, depths = [], []
    stop = threading.Event()

    def arrivals(start: float) -> None:
        for i, d in enumerate(arriving):
            at = start + i * interval
            if stop.wait(max(0.0, at - time.time())):
                return
            os.rename(os.path.join(stage, d), os.path.join(live, d))
            due[int(d.split("=")[1])] = at
            lag[0] = max(lag[0], time.time() - at)

    def reader() -> None:
        if _tracing(ctx):
            ctx.tracer.detach_thread()
        handle = LakeTable.load(ctx.spark, state.root)
        rng = random.Random(ctx.seed)
        while not stop.is_set():
            keys = [_doc(rng.randrange(shape.spec.n_docs)) for _ in range(LOOKUP_KEYS)]
            handle.refresh()
            _lookup(ctx, res, handle, keys, latencies, depths)
            stop.wait(READER_THINK_S)

    stop_trace = _traced(ctx)
    t0 = time.perf_counter()
    threads = [
        threading.Thread(target=arrivals, args=(time.time(),), name="arrivals"),
        threading.Thread(target=reader, name="reader"),
    ]
    for th in threads:
        th.start()
    busy, events, commits_at_start = 0.0, 0, state.refresh()["version"]
    files_at_start = _lake_files(state)
    try:
        while state.committed_epoch() < last_epoch:
            if time.perf_counter() - t0 > ctx.seconds + DRAIN_LIMIT_S:
                res.op(False, "writer did not catch up within the drain limit")
                break
            avail = ctl.available_epochs()
            if not avail or avail[-1] <= state.committed_epoch():
                time.sleep(0.01)
                continue
            t = time.perf_counter()
            try:
                stats = ctl.run()
            except Exception:
                traceback.print_exc(file=sys.stderr)
                res.op(False, "StreamController.run raised")
                break
            busy += time.perf_counter() - t
            events += stats.total_events
            for e in stats.epochs:
                if not e.skipped:
                    res.op()
    finally:
        stop.set()
        for th in threads:
            th.join()
    wall = time.perf_counter() - t0

    scans = [_scan(ctx, state) for _ in range(TAIL_SCANS)]
    for _ in scans:
        res.op()
    spark_counts = stop_trace()
    res.op(lag[0] <= ARRIVAL_LAG_LIMIT_S,
           f"arrival schedule slipped by {lag[0]:.3f}s")
    fresh = _freshness(state, due)
    final = scans[-1][0]
    res.check(
        check.compare_oracle_state(final, oracle.expected_live_rows(live, inputs.N_PARTITIONS)),
        "final state vs oracle",
    )
    res.check(
        check.compare_oracle_facts(facts.current_state().toArrow(),
                                   oracle.expected_fact_rows(live, inputs.N_PARTITIONS)),
        "history vs oracle",
    )

    res.metrics = {
        "setup_s": statistics.median(setup),
        "events_per_s": events / busy if busy else 0.0,
        "freshness_s_p50": percentile(fresh, 50),
        "freshness_s_p90": percentile(fresh, 90),
        "lookup_s_p50": percentile(latencies, 50),
        "lookup_s_p90": percentile(latencies, 90),
        "scan_rows_per_s": statistics.median(at.num_rows / s for at, s in scans),
        "bytes_per_live_row": state.table_health()["bytes_total"] / final.num_rows,
    }
    res.samples = {"freshness": len(fresh), "lookups": len(latencies), "scans": len(scans)}
    res.info = {"preload_s": preload_s, "arrival_interval_s": interval,
                "writer_busy_share": busy / wall, "events": events,
                "live_rows": final.num_rows, "measured_s": wall,
                "arrival_lag_s_max": lag[0]}
    if ctx.tracer:
        files, size = _lake_files(state)
        res.layers = layer_metrics(
            ctx.tracer, spark_counts, wall=wall, events=events, per=1,
            commits=state.refresh()["version"] - commits_at_start,
            files=files - files_at_start[0],
            bytes_written=size - files_at_start[1], depths=depths,
            fact_rows=facts.table_health()["rows_total"], arrival_lag=lag[0],
        )
    return res


WORKLOADS = {"catchup": catchup, "tail": tail}


# ------------------------------------------------------------ per layer
def layer_metrics(tracer: Tracer, spark: dict, *, wall: float, events: int,
                  per: int, commits: int, files: int, bytes_written: int,
                  depths: list[int], fact_rows: int, arrival_lag: float) -> dict:
    """Per-layer metrics from the spans and Spark counters of one traced
    run. Counts and busy times are per replay (``per`` replays ran)."""
    runs = [s["attrs"].get("stats") for s in tracer.named("controller.run")]
    epochs = [e for st in runs if st is not None for e in st.epochs if not e.skipped]
    # each group ends with one merge fenced by its last epoch's id
    fenced = [s["attrs"]["epoch_id"] for s in tracer.named("table.merge_upsert")
              if s["attrs"].get("epoch_id") is not None]
    groups, group_last = len(fenced), set(fenced)
    compacts = tracer.named("table.maybe_compact")
    n_spans = len(tracer.spans)
    cost = tracer.wrapper_cost_s()
    executor_s = spark["executor_run_ms"] / 1000.0

    def span_metrics(name: str, key: str) -> dict:
        return {f"{key}.calls": len(tracer.named(name)) / per,
                f"{key}.busy_s": tracer.busy_s(name) / per}

    out = {
        "controller.self_s": tracer.self_s("controller.run") / per,
        "controller.groups_committed": groups / per,
        "controller.epochs_per_group": len(epochs) / groups if groups else 0.0,
        "controller.retries": sum(e.retries for e in epochs if e.epoch in group_last) / per,
        "controller.strategy_sql_share": (
            sum(e.strategy == "sql" for e in epochs) / len(epochs) if epochs else 0.0
        ),
        "controller.rollback_epochs": sum(e.rollbacks > 0 for e in epochs) / per,
        **span_metrics("table.merge_upsert", "table.merge_upsert"),
        "table.commits": commits / per,
        "table.files_written": files / per,
        "table.bytes_written_per_event": bytes_written / events if events else 0.0,
        **span_metrics("table.maybe_compact", "table.maybe_compact"),
        "table.maybe_compact.compactions": sum(bool(s["attrs"].get("compacted")) for s in compacts) / per,
        **span_metrics("table.lookup_many", "table.lookup_many"),
        "table.delta_depth_at_lookup": statistics.mean(depths) if depths else 0.0,
        "table.current_state_scan.busy_s": tracer.busy_s("table.current_state_scan") / per,
        **span_metrics("table.delete_keys_where", "table.delete_keys_where"),
        **span_metrics("sinks.FactSink.apply", "sinks.FactSink.apply"),
        "sinks.FactSink.rollback.busy_s": tracer.busy_s("sinks.FactSink.rollback") / per,
        "sinks.fact_rows_written": fact_rows,
        "spark.stages": spark["stages"] / per,
        "spark.tasks": spark["tasks"] / per,
        "spark.tasks_failed": spark["tasks_failed"] / per,
        "spark.executor_run_s": executor_s / per,
        "spark.core_utilisation": executor_s / (wall * CORES),
        "spark.input_bytes_per_event": spark["input_bytes"] / events,
        "spark.shuffle_write_bytes_per_event": spark["shuffle_write_bytes"] / events,
        "spark.shuffle_read_bytes_per_event": spark["shuffle_read_bytes"] / events,
        "spark.output_bytes_per_event": spark["output_bytes"] / events,
        "spark.spill_bytes": spark["spill_bytes"] / per,
        "harness.arrival_lag_s_max": arrival_lag,
        "trace.overhead_ratio": wall / max(wall - n_spans * cost, 1e-9),
    }
    return out
