"""Spans and counters for the traced run (``--trace 1``).

The benchmark wraps the public functions of each engine layer from its
own files; the engine itself is not modified. A hook replaces the
function everywhere the engine can call it from: on its class (and on
every subclass that overrides it), or, for a module function, on every
``delta_spark`` module that holds the same function object, which
catches ``from x import f`` re-bindings. Functions imported inside a
function body are looked up on their module at call time, so the
module patch covers them.

A span records (id, name, start, end, parent, op id, thread). Spans of
one benchmark op share its op id; a span opened on another thread (the
DV merge worker, the foreachBatch callback) takes the op's root span as
its parent. Self time is a span's duration minus the union of its
children's intervals.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import re
import sys
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_COMMIT_FILE = re.compile(r"(^|/)\d{20}\.json$")


class Tracer:
    def __init__(self) -> None:
        self.spans: list[tuple] = []
        self.counts: dict[str, float] = defaultdict(float)
        self.overhead = 0.0
        self.op: tuple | None = None          # (op id, root span id)
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def in_span(self, prefix: str) -> bool:
        return any(name.startswith(prefix) for _, name in self._stack())

    def add(self, key: str, value: float = 1.0) -> None:
        with self._lock:
            self.counts[key] += value

    @contextmanager
    def span(self, name: str):
        if self.op is None:
            yield
            return
        t_in = time.perf_counter()
        st = self._stack()
        parent = st[-1][0] if st else self.op[1]
        sid = next(self._ids)
        op_id = self.op[0]
        st.append((sid, name))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            with self._lock:
                self.spans.append((sid, name, start, end, parent, op_id,
                                   threading.get_ident()))
                self.overhead += (start - t_in) + (time.perf_counter() - end)

    @contextmanager
    def op_span(self, op_id: int, kind: str):
        sid = next(self._ids)
        self.op = (op_id, sid)
        st = self._stack()
        st.append((sid, "op." + kind))
        start = time.perf_counter()
        try:
            yield
        finally:
            end = time.perf_counter()
            st.pop()
            self.op = None
            with self._lock:
                self.spans.append((sid, "op." + kind, start, end, None, op_id,
                                   threading.get_ident()))

    def self_times(self) -> tuple[dict, dict, float]:
        """(self seconds per span name, calls per span name, summed op
        wall time)."""
        children: dict[int, list] = defaultdict(list)
        for s in self.spans:
            if s[4] is not None:
                children[s[4]].append((s[2], s[3]))
        self_s: dict[str, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        op_wall = 0.0
        for sid, name, start, end, parent, _, _ in self.spans:
            covered, cur_lo, cur_hi = 0.0, None, None
            for lo, hi in sorted(children.get(sid, ())):
                lo, hi = max(lo, start), min(hi, end)
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
            self_s[name] += (end - start) - covered
            calls[name] += 1
            if parent is None:
                op_wall += end - start
        return self_s, calls, op_wall


def _hooked(tracer: Tracer, name: str, fn, before=None, after=None):
    @functools.wraps(fn)
    def hooked(*args, **kwargs):
        if tracer.op is None:
            return fn(*args, **kwargs)
        if before is not None:
            before(tracer, args, kwargs)
        with tracer.span(name):
            out = fn(*args, **kwargs)
        if after is not None:
            t0 = time.perf_counter()
            after(tracer, args, kwargs, out)
            tracer.overhead += time.perf_counter() - t0
        return out
    hooked.__wrapped_by_perfbench__ = name
    return hooked


# ---- counters taken at the hook boundaries ---------------------------

def _arg(args, kwargs, i, key):
    return args[i] if len(args) > i else kwargs.get(key)


def _count(key):
    return lambda tr, a, k, out: tr.add(key)


def _checkpoint_distributed(tr, a, k, out):
    if out:
        tr.add("log.checkpoints")


def _files_for_scan(tr, a, k, out):
    tr.add("snapshot.files_considered", a[0].num_files)
    tr.add("snapshot.files_kept", len(out))


def _read_files_df(tr, a, k, out):
    files = _arg(a, k, 2, "files")
    snap = _arg(a, k, 1, "snapshot")
    tr.add("reader.files_read", len(files if files is not None else snap.all_files))


def _write_files(tr, a, k, out):
    tr.add("writer.files_written", len(out))
    tr.add("writer.bytes_written", sum(f.size or 0 for f in out))
    tr.add("writer.rows_written", sum(f.num_records or 0 for f in out))


def _commit(tr, a, k, out):
    from delta_spark.actions import AddFile, RemoveFile

    tr.add("transaction.commits")
    if tr.in_span("commands."):
        actions = _arg(a, k, 1, "actions") or []
        removed = {x.path for x in actions if isinstance(x, RemoveFile)}
        tr.add("commands.files_touched", len(removed))
        tr.add("commands.files_rewritten",
               sum(1 for x in actions
                   if isinstance(x, AddFile) and x.path not in removed))


def _write_atomic_before(tr, a, k):
    if _COMMIT_FILE.search(str(_arg(a, k, 1, "path"))):
        tr.add("transaction.attempts")


def _sink_factory(tracer: Tracer):
    """delta_sink returns the foreachBatch function: hook that instead."""
    def after_factory(fn):
        @functools.wraps(fn)
        def batch(df, batch_id):
            if tracer.op is None:
                return fn(df, batch_id)
            tracer.add("streaming.batches")
            with tracer.span("streaming.sink"):
                return fn(df, batch_id)
        return batch
    return after_factory


# (span name, "module:attr" or "module:Class.attr", before, after)
HOOKS = [
    ("log.update", "delta_spark.log:DeltaLog.update", None, None),
    ("log.snapshot_at", "delta_spark.log:DeltaLog.snapshot_at", None, None),
    ("log.read_commit_actions", "delta_spark.log:DeltaLog.read_commit_actions",
     None, _count("log.commits_replayed")),
    ("log.files_for_scan_df", "delta_spark.log:DeltaLog.files_for_scan_df", None, None),
    ("log.light_snapshot", "delta_spark.log:DeltaLog.light_snapshot", None, None),
    ("log.write_checkpoint", "delta_spark.log:DeltaLog.write_checkpoint",
     None, _count("log.checkpoints")),
    ("log.write_checkpoint_distributed",
     "delta_spark.log:DeltaLog.write_checkpoint_distributed", None,
     _checkpoint_distributed),
    ("snapshot.files_for_scan", "delta_spark.snapshot:Snapshot.files_for_scan",
     None, _files_for_scan),
    ("reader.read_snapshot", "delta_spark.reader:read_snapshot", None, None),
    ("reader.read_files_df", "delta_spark.reader:read_files_df", None, _read_files_df),
    ("writer.write_files", "delta_spark.writer:write_files", None, _write_files),
    ("stats.collect_stats_parallel", "delta_spark.stats:collect_stats_parallel",
     None, None),
    ("transaction.commit", "delta_spark.transaction:OptimisticTransaction.commit",
     None, _commit),
    ("logstore.write_atomic", "delta_spark.logstore:LogStore.write_atomic",
     _write_atomic_before, None),
    ("logstore.list_dir", "delta_spark.logstore:LogStore.list_dir", None, None),
    ("logstore.read", "delta_spark.logstore:LogStore.read", None, None),
    ("commands.merge", "delta_spark.commands.merge:MergeBuilder.execute", None, None),
    ("commands.delete", "delta_spark.commands.delete:execute_delete", None, None),
    ("commands.update", "delta_spark.commands.update:execute_update", None, None),
    ("dv.merge_phase2", "delta_spark.commands.merge:MergeBuilder._execute_phase2_dv",
     None, None),
    ("dv.mask_rows_with_dvs", "delta_spark.commands.delete:mask_rows_with_dvs",
     None, None),
    ("dv.write_dv_file", "delta_spark.dv:write_dv_file", None, None),
    ("dv.deleted_rows_df", "delta_spark.reader:deleted_rows_df", None, None),
    ("ops.dedup.minhash_lsh_pairs", "delta_spark.ops.dedup:minhash_lsh_pairs",
     None, None),
    ("ops.dedup.jaccard_pairs", "delta_spark.ops.dedup:jaccard_pairs", None, None),
    ("ops.dedup.duplicate_spans", "delta_spark.ops.dedup:duplicate_spans", None, None),
    ("ops.similarity.near_duplicates", "delta_spark.ops.similarity:near_duplicates",
     None, None),
    ("ops.text.text_stats", "delta_spark.ops.text:text_stats", None, None),
    ("ops.text.quality_score", "delta_spark.ops.text:quality_score", None, None),
    ("ops.text.language_id", "delta_spark.ops.text:language_id", None, None),
    ("ops.text.fingerprint", "delta_spark.ops.text:fingerprint", None, None),
]
SINK_HOOK = "streaming.sink"
ACTION_SPAN = "spark.action"     # the benchmark's own Spark actions
SPAN_NAMES = [h[0] for h in HOOKS] + [SINK_HOOK, ACTION_SPAN]


def _subclasses(cls) -> list:
    out, todo = [], [cls]
    while todo:
        c = todo.pop()
        out.append(c)
        todo.extend(c.__subclasses__())
    return out


def _rebind(orig, new) -> int:
    """Point every delta_spark module attribute bound to `orig` at `new`."""
    n = 0
    for mname, mod in list(sys.modules.items()):
        if mod is None or not (mname == "delta_spark" or mname.startswith("delta_spark.")):
            continue
        for attr, val in list(vars(mod).items()):
            if val is orig:
                setattr(mod, attr, new)
                n += 1
    return n


def install(tracer: Tracer) -> dict[str, int]:
    """Install every hook; returns the number of bindings each replaced.
    A module imported later binds the hooked function, so only modules
    already imported need the rebinding scan."""
    bound: dict[str, int] = {}
    for name, target, before, after in HOOKS:
        mod_name, qual = target.split(":")
        mod = importlib.import_module(mod_name)
        if "." in qual:
            cls_name, attr = qual.split(".")
            n = 0
            for c in _subclasses(getattr(mod, cls_name)):
                if attr in c.__dict__:
                    setattr(c, attr, _hooked(tracer, name, c.__dict__[attr],
                                             before, after))
                    n += 1
        else:
            orig = getattr(mod, qual)
            n = _rebind(orig, _hooked(tracer, name, orig, before, after))
        bound[name] = n
    from delta_spark import streaming

    orig_sink = streaming.delta_sink
    wrap_batch = _sink_factory(tracer)

    @functools.wraps(orig_sink)
    def delta_sink(*a, **k):
        return wrap_batch(orig_sink(*a, **k))
    bound[SINK_HOOK] = _rebind(orig_sink, delta_sink)
    _install_py4j(tracer)
    return bound


def _install_py4j(tracer: Tracer) -> None:
    """Count py4j round trips the way scripts/profile_merge.py does:
    every send_command on both connection classes."""
    import py4j.clientserver as cs
    import py4j.java_gateway as jg

    for cls in (cs.ClientServerConnection, jg.GatewayConnection):
        orig = cls.send_command

        def send(self, *a, _orig=orig, **k):
            if tracer.op is None:
                return _orig(self, *a, **k)
            t0 = time.perf_counter()
            try:
                return _orig(self, *a, **k)
            finally:
                el = time.perf_counter() - t0
                with tracer._lock:
                    tracer.counts["py4j.round_trips"] += 1
                    tracer.counts["py4j.s"] += el
        cls.send_command = send


# ---- predictions: which hooks each workload must and must not reach ---

_OPS = [h[0] for h in HOOKS if h[0].startswith("ops.")]
_WRITE = ["writer.write_files", "transaction.commit", "logstore.write_atomic",
          "commands.merge", "commands.delete", "commands.update",
          "dv.merge_phase2", "dv.mask_rows_with_dvs", "dv.write_dv_file",
          SINK_HOOK]
BUSY = {
    "ingest_dml": ["log.update", "log.read_commit_actions",
                   ("log.write_checkpoint", "log.write_checkpoint_distributed"),
                   "snapshot.files_for_scan", "reader.read_files_df",
                   "stats.collect_stats_parallel", "logstore.read", "logstore.list_dir",
                   *_WRITE],
    "dedup_pipeline": ["log.update", "snapshot.files_for_scan", "reader.read_snapshot",
                       "reader.read_files_df", ACTION_SPAN, *_OPS],
}
IDLE = {
    "ingest_dml": _OPS,
    "dedup_pipeline": _WRITE + ["log.write_checkpoint", "log.write_checkpoint_distributed"],
}
OP_KINDS = ["append", "stream", "merge", "merge_dv", "delete", "update",
            "minhash", "jaccard", "spans", "near_dups", "text"]

COUNTERS = [
    ("log.commits_replayed", "count"), ("log.checkpoints", "count"),
    ("snapshot.files_considered", "count"), ("snapshot.files_kept", "count"),
    ("snapshot.keep_ratio", "ratio"), ("reader.files_read", "count"),
    ("writer.files_written", "count"),
    ("writer.bytes_written", "B"), ("writer.rows_written", "count"),
    ("transaction.attempts", "count"), ("transaction.commits", "count"),
    ("commands.files_rewritten_per_file_touched", "ratio"),
    ("streaming.batches", "count"), ("streaming.sink_pct", "%"),
    ("streaming.source_pct", "%"), ("ops.cache.live_frames", "count"),
    ("ingest.write_bytes_per_row", "B/row"),
    ("py4j.round_trips_per_op", "count"), ("py4j.s_per_op", "s"),
    ("spark.jobs_per_op", "count"), ("spark.tasks_per_op", "count"),
    ("driver.cpu_s_per_op", "s"), ("jvm.cpu_s_per_op", "s"), ("proc.peak_rss_mb", "MB"),
    ("trace.overhead_s", "s"), ("bench.error_rate", "ratio"),
]


def per_layer(tracer: Tracer, record: dict, samples: list, wl) -> dict:
    """name -> (value, unit) for every per-layer metric. Self times are a
    share of the summed wall time of the measured ops (shares of spans on
    other threads overlap the main thread, so they can sum past 100)."""
    import resource
    import statistics

    self_s, calls, op_wall = tracer.self_times()
    inclusive: dict[str, float] = defaultdict(float)
    for _, name, start, end, *_ in tracer.spans:
        inclusive[name] += end - start
    m: dict[str, tuple] = {}
    for name in SPAN_NAMES:
        m[f"{name}_calls"] = (calls.get(name, 0), "count")
        m[f"{name}_self_pct"] = (100.0 * self_s.get(name, 0.0) / op_wall, "%")
    c = tracer.counts
    n_ops = max(1, len(samples))
    per_op = record["per_op"]
    stream_s = sum(s for k, s in samples if k == "stream")
    sink_s = inclusive.get(SINK_HOOK, 0.0)
    considered = c["snapshot.files_considered"]
    touched = c["commands.files_touched"]
    live = getattr(wl, "live_frames", [])
    values = {
        "log.commits_replayed": c["log.commits_replayed"],
        "log.checkpoints": c["log.checkpoints"],
        "snapshot.files_considered": considered,
        "snapshot.files_kept": c["snapshot.files_kept"],
        "snapshot.keep_ratio": c["snapshot.files_kept"] / considered if considered else 0.0,
        "reader.files_read": c["reader.files_read"],
        "writer.files_written": c["writer.files_written"],
        "writer.bytes_written": c["writer.bytes_written"],
        "writer.rows_written": c["writer.rows_written"],
        "transaction.attempts": c["transaction.attempts"],
        "transaction.commits": c["transaction.commits"],
        "commands.files_rewritten_per_file_touched":
            c["commands.files_rewritten"] / touched if touched else 0.0,
        "streaming.batches": c["streaming.batches"],
        "streaming.sink_pct": 100.0 * sink_s / stream_s if stream_s else 0.0,
        "streaming.source_pct": 100.0 * (stream_s - sink_s) / stream_s if stream_s else 0.0,
        "ops.cache.live_frames": max(live) if live else 0,
        "ingest.write_bytes_per_row": record["extras"].get("write_bytes_per_row", 0.0),
        "py4j.round_trips_per_op": c["py4j.round_trips"] / n_ops,
        "py4j.s_per_op": c["py4j.s"] / n_ops,
        "spark.jobs_per_op": sum(r.get("spark_jobs", 0) for r in per_op) / n_ops,
        "spark.tasks_per_op": sum(r.get("spark_tasks", 0) for r in per_op) / n_ops,
        "driver.cpu_s_per_op": sum(r["driver_cpu_s"] for r in per_op) / n_ops,
        "jvm.cpu_s_per_op": sum(r["jvm_cpu_s"] for r in per_op) / n_ops,
        "proc.peak_rss_mb": resource.getrusage(resource.RUSAGE_SELF).ru_maxrss / 1024,
        "trace.overhead_s": tracer.overhead,
        "bench.error_rate": record["error_rate"],
    }
    for name, unit in COUNTERS:
        m[name] = (values[name], unit)
    gmean = statistics.geometric_mean([s for _, s in samples])
    for k in OP_KINDS:
        xs = [s for kk, s in samples if kk == k]
        m[f"op.{k}.p50_rel"] = (statistics.median(xs) / gmean if xs else 0.0, "ratio")
    record["layer_self_s"] = dict(self_s)
    record["layer_inclusive_s"] = dict(inclusive)
    record["traced_op_wall_s"] = op_wall
    return m


def check_hooks(workload: str, metrics: dict, record: dict) -> list[str]:
    """Predicted-busy hooks that recorded no span (returned: they fail the
    run); predicted-idle hooks that did record spans go to the record."""
    def fired(h):
        return metrics[f"{h}_calls"][0] > 0
    silent = [h if isinstance(h, str) else "|".join(h)
              for h in BUSY[workload]
              if not (fired(h) if isinstance(h, str) else any(map(fired, h)))]
    record["idle_hooks_fired"] = [h for h in IDLE[workload] if fired(h)]
    return silent
