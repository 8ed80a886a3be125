"""Spans and counters for the traced benchmark run.

Nothing here edits the package: ``Tracer.install`` wraps public functions
of the package, of PySpark and of py4j at run time and ``uninstall`` puts
the originals back. Every wrapped call opens a span (name, start, end,
parent span, call id, gate); spans nest as call -> build / plan / exec ->
the wrapped calls inside them, and live in memory until ``report``.

Spark work is attributed after the run, in one pass: the status store's
job and stage lists are exported as JSON and each job is charged to the
innermost span open at its submission time. py4j round trips are
recorded with the span they ran under. The Python-JVM boundary cost of a
round trip is the time of a null round trip (calibrated when tracing is
installed), or the whole trip if it was shorter; it is charged to the
``py4j`` layer, and the rest of the trip, JVM-side work, stays with the
span that made the call.

A layer's self time is its spans' durations minus their child spans and
minus their py4j boundary time. The layer is the span name up to the
first dot; ``call`` spans belong to the benchmark harness (``bench``).
"""

from __future__ import annotations

import bisect
import functools
import json
import statistics
import sys
import threading
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

MB = 1024.0 * 1024.0

#: public MorTable methods whose calls and time the trace reports
MOR_METHODS = ("write_base", "append_delta", "merge_into", "changes", "compact", "lookup", "read")

#: the spans that split a gate call into its three phases
PHASES = {"queries.build": "build", "planner.plan": "plan", "exec.action": "exec"}

#: layers grouped for the dominant-traffic check
LAYER_GROUPS = {
    "build+plan": ("queries", "catalog", "reader", "plans", "planner"),
    "exec+py4j": ("exec", "py4j"),
    "mor+writer+materialize": ("mor", "writer", "materialize", "incremental"),
    "bench": ("bench",),
}


def _iter_package_modules():
    return [
        m for n, m in list(sys.modules.items())
        if m is not None and (n == "linqonsteroids_spark" or n.startswith("linqonsteroids_spark."))
    ]


class Tracer:
    def __init__(self, spark):
        self.spark = spark
        self.active = False
        self.spans: list[list] = []  # [id, name, parent, call, gate, t0, t1]
        self.stack: list[int] = []
        self.py4j: list[tuple[float, float, int | None]] = []
        self.events: Counter = Counter()
        self.call_id = -1
        self.gate = ""
        self._main = threading.get_ident()
        self._patches: list[tuple[object, str, object]] = []
        self.t_start = 0.0
        self.rtt = 0.0
        self._listener = None

    # -- spans ---------------------------------------------------------------
    @contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = [len(self.spans), name, self.stack[-1] if self.stack else None,
               self.call_id, self.gate, time.time(), None]
        self.spans.append(rec)
        self.stack.append(rec[0])
        try:
            yield
        finally:
            rec[6] = time.time()
            self.stack.pop()

    @contextmanager
    def call(self, call_id: int, gate: str):
        self.call_id, self.gate = call_id, gate
        with self.span("call"):
            yield

    # -- wrapping ------------------------------------------------------------
    def _wrapper(self, orig, name: str, on_result=None):
        tracer = self

        @functools.wraps(orig)
        def wrapped(*args, **kwargs):
            if (not tracer.active or threading.get_ident() != tracer._main
                    or (tracer.stack and tracer.spans[tracer.stack[-1]][1] == name)):
                return orig(*args, **kwargs)
            with tracer.span(name):
                out = orig(*args, **kwargs)
            if on_result is not None:
                on_result(args, out)
            return out

        return wrapped

    def _patch(self, owner, attr: str, name: str, on_result=None) -> None:
        orig = owner.__dict__[attr]
        self._patches.append((owner, attr, orig))
        setattr(owner, attr, self._wrapper(orig, name, on_result))

    def _patch_everywhere(self, module, attr: str, name: str) -> None:
        """Wrap a module-level function in every package module that
        imported it by name, not only where it is defined."""
        orig = getattr(module, attr)
        wrapped = self._wrapper(orig, name)
        for mod in _iter_package_modules():
            if getattr(mod, attr, None) is orig:
                self._patches.append((mod, attr, orig))
                setattr(mod, attr, wrapped)

    def install(self) -> None:
        import py4j.clientserver as cs
        from pyspark.sql.classic.dataframe import DataFrame
        from pyspark.sql.readwriter import DataFrameReader, DataFrameWriter

        from linqonsteroids_spark import catalog
        from linqonsteroids_spark.operators.mor import MorTable
        from linqonsteroids_spark.plans.registry import IndexRepository
        from linqonsteroids_spark.plans.result_cache import ResultCache
        from linqonsteroids_spark.streaming import incremental

        self._patch_everywhere(catalog, "load_table", "catalog.load_table")
        self._patch(DataFrameReader, "parquet", "reader.parquet")

        def on_optimize(args, out):
            self.events["optimize_rewrites"] += out is not args[1]

        def on_cache(args, out):
            self.events["cache_lookups"] += 1
            self.events["cache_hits"] += bool(out[1])

        self._patch(IndexRepository, "optimize", "plans.optimize", on_optimize)
        self._patch(ResultCache, "get_or_materialize", "plans.get_or_materialize", on_cache)
        for attr in ("localCheckpoint", "checkpoint", "cache", "persist", "unpersist"):
            self._patch(DataFrame, attr, f"materialize.{attr}")
        for attr in ("save", "parquet", "saveAsTable", "insertInto", "json", "csv", "orc", "text"):
            self._patch(DataFrameWriter, attr, f"writer.{attr}")
        for attr in MOR_METHODS:
            self._patch(MorTable, attr, f"mor.{attr}")
        self._patch_everywhere(incremental, "apply_cdf_to_agg_mv", "incremental.apply_cdf_to_agg_mv")

        orig_send = cs.ClientServerConnection.send_command
        self._patches.append((cs.ClientServerConnection, "send_command", orig_send))
        tracer = self

        def send_command(conn, command):
            if not tracer.active or threading.get_ident() != tracer._main:
                return orig_send(conn, command)
            t0 = time.time()
            try:
                return orig_send(conn, command)
            finally:
                tracer.py4j.append((t0, time.time(), tracer.stack[-1] if tracer.stack else None))

        cs.ClientServerConnection.send_command = send_command
        self.rtt = self._null_round_trip()
        self._attach_stream_listener()
        self.t_start = time.time()

    def uninstall(self) -> None:
        self.active = False
        for owner, attr, orig in reversed(self._patches):
            setattr(owner, attr, orig)
        self._patches.clear()
        if self._listener is not None:
            self.spark.streams.removeListener(self._listener)

    def _null_round_trip(self, n: int = 200) -> float:
        """Median wall time of a py4j call that does no JVM work."""
        system = self.spark.sparkContext._jvm.java.lang.System
        times = []
        for _ in range(n):
            t0 = time.perf_counter()
            system.nanoTime()
            times.append(time.perf_counter() - t0)
        return statistics.median(times)

    def _attach_stream_listener(self) -> None:
        from pyspark.sql.streaming import StreamingQueryListener

        events = self.events

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):
                events["stream_starts"] += 1

            def onQueryProgress(self, event):
                events["microbatches"] += 1
                events["trigger_ms"] += int(event.progress.durationMs.get("triggerExecution", 0))

            def onQueryIdle(self, event):
                pass

            def onQueryTerminated(self, event):
                pass

        self._listener = _Listener()
        self.spark.streams.addListener(self._listener)

    # -- Spark status ----------------------------------------------------------
    def _status_json(self) -> tuple[list[dict], dict[int, dict]]:
        """All retained jobs and stages, exported as JSON in two py4j
        calls instead of one call per field."""
        sc = self.spark.sparkContext
        jvm = sc._jvm
        mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        mapper.registerModule(getattr(scala_mod, "MODULE$"))
        store = sc._jsc.sc().statusStore()
        jobs = json.loads(mapper.writeValueAsString(store.jobsList(None)))
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        stages = json.loads(mapper.writeValueAsString(
            store.stageList(None, False, False, no_quantiles, None)))
        by_stage: dict[int, dict] = {}
        for s in stages:  # keep the last attempt of each stage
            if s["stageId"] not in by_stage or s["attemptId"] > by_stage[s["stageId"]]["attemptId"]:
                by_stage[s["stageId"]] = s
        return jobs, by_stage

    # -- report ----------------------------------------------------------------
    def report(self, n_calls: int, n_all: int) -> dict:
        """Per-layer metrics (means per traced call; streaming counts,
        which the listener sees for every call, per call of the run),
        layer self times, per-gate records and the spans themselves."""
        jobs, stages = self._status_json()
        t_first = self.t_start * 1000.0
        jobs = [j for j in jobs if j.get("submissionTime") and j["submissionTime"] >= t_first]
        spans = [s for s in self.spans if s[6] is not None]
        by_id = {s[0]: s for s in spans}
        children: dict[int, list[int]] = defaultdict(list)
        for s in spans:
            if s[2] is not None:
                children[s[2]].append(s[0])

        phase_of: dict[int, str] = {}

        def phase(sid: int) -> str:
            if sid not in phase_of:
                s = by_id[sid]
                if s[1] in PHASES:
                    phase_of[sid] = PHASES[s[1]]
                elif s[2] is None or s[2] not in by_id:
                    phase_of[sid] = "other"
                else:
                    phase_of[sid] = phase(s[2])
            return phase_of[sid]

        # charge each job (and its stages) to the innermost open span
        starts = sorted((s[5], s[0]) for s in spans)
        job_span: dict[int, int | None] = {}
        for j in jobs:
            # the status store keeps milliseconds: round up, never before
            # the py4j call that submitted the job
            t = j["submissionTime"] / 1000.0 + 0.001
            i = bisect.bisect_right(starts, (t, float("inf")))
            owner = None
            while i > 0:
                i -= 1
                sid = starts[i][1]
                if by_id[sid][6] >= t:
                    owner = sid
                    break
            job_span[j["jobId"]] = owner
        span_spark: dict[int, Counter] = defaultdict(Counter)
        for j in jobs:
            c = span_spark[job_span[j["jobId"]]]
            c["jobs"] += 1
            for sid in j["stageIds"]:
                st = stages.get(sid)
                if st is None or st.get("status") == "SKIPPED":
                    continue
                c["stages"] += 1
                c["tasks"] += st["numCompleteTasks"]
                c["failed_tasks"] += st["numFailedTasks"]
                c["task_run_ms"] += st["executorRunTime"]
                c["gc_ms"] += st["jvmGcTime"]
                if st.get("firstTaskLaunchedTime") and st.get("submissionTime"):
                    c["sched_delay_ms"] += st["firstTaskLaunchedTime"] - st["submissionTime"]
                c["input_b"] += st["inputBytes"]
                c["output_b"] += st["outputBytes"]
                c["shuffle_read_b"] += st["shuffleReadBytes"]
                c["shuffle_write_b"] += st["shuffleWriteBytes"]
                c["spill_b"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]

        # py4j round trips: the boundary part of each is at most one null
        # round trip; the rest is JVM work and stays with its span
        py4j_span: dict[int | None, list[float]] = defaultdict(lambda: [0, 0.0, 0.0])
        for a, b, sid in self.py4j:
            rec = py4j_span[sid]
            rec[0] += 1
            rec[1] += b - a
            rec[2] += min(b - a, self.rtt)

        # self time by layer, overall and per gate
        layer_self: Counter = Counter()
        gate_layer: dict[str, Counter] = defaultdict(Counter)
        for s in spans:
            dur = s[6] - s[5]
            child = sum(by_id[c][6] - by_id[c][5] for c in children[s[0]])
            boundary = py4j_span[s[0]][2] if s[0] in py4j_span else 0.0
            layer = "bench" if s[1] == "call" else s[1].split(".")[0]
            self_t = max(0.0, dur - child - boundary)
            layer_self[layer] += self_t
            layer_self["py4j"] += boundary
            gate_layer[s[4]][layer] += self_t
            gate_layer[s[4]]["py4j"] += boundary
        total_self = sum(layer_self.values()) or 1.0
        shares = {k: v / total_self for k, v in layer_self.items()}
        group_shares = {g: sum(shares.get(x, 0.0) for x in ls) for g, ls in LAYER_GROUPS.items()}

        # subtree aggregates: by span name and by phase
        name_n: Counter = Counter()
        name_s: Counter = Counter()
        name_spark: dict[str, Counter] = defaultdict(Counter)
        phase_spark: dict[str, Counter] = defaultdict(Counter)
        phase_py4j: dict[str, list[float]] = defaultdict(lambda: [0, 0.0])

        def subtree_spark(sid: int) -> Counter:
            tot = Counter(span_spark.get(sid, Counter()))
            for c in children[sid]:
                tot.update(subtree_spark(c))
            return tot

        for s in spans:
            name_n[s[1]] += 1
            name_s[s[1]] += s[6] - s[5]
            if s[1] in ("catalog.load_table", "reader.parquet", "queries.build") or s[1].startswith("writer."):
                name_spark[s[1]].update(subtree_spark(s[0]))
        for sid, c in span_spark.items():
            phase_spark[phase(sid) if sid is not None else "other"].update(c)
        for sid, rec in py4j_span.items():
            p = phase(sid) if sid is not None else "other"
            phase_py4j[p][0] += rec[0]
            phase_py4j[p][1] += rec[1]

        n = max(n_calls, 1)
        ex = phase_spark["exec"]
        writer_n = sum(v for k, v in name_n.items() if k.startswith("writer."))
        writer_s = sum(v for k, v in name_s.items() if k.startswith("writer."))
        writer_out = sum(c["output_b"] for k, c in name_spark.items() if k.startswith("writer."))
        mat = ("materialize.localCheckpoint", "materialize.checkpoint", "materialize.cache", "materialize.persist")
        py4j_all = [sum(r[0] for r in py4j_span.values()), sum(r[1] for r in py4j_span.values())]
        metrics = {
            "queries.build_s": (name_s["queries.build"] / n, "s"),
            "queries.build_jobs": (name_spark["queries.build"]["jobs"] / n, "count"),
            "queries.build_tasks": (name_spark["queries.build"]["tasks"] / n, "count"),
            "queries.build_py4j_calls": (phase_py4j["build"][0] / n, "count"),
            "catalog.load_calls": (name_n["catalog.load_table"] / n, "count"),
            "catalog.load_s": (name_s["catalog.load_table"] / n, "s"),
            "catalog.load_jobs": (name_spark["catalog.load_table"]["jobs"] / n, "count"),
            "reader.parquet_calls": (name_n["reader.parquet"] / n, "count"),
            "reader.parquet_s": (name_s["reader.parquet"] / n, "s"),
            "reader.parquet_jobs": (name_spark["reader.parquet"]["jobs"] / n, "count"),
            "plans.optimize_calls": (name_n["plans.optimize"] / n, "count"),
            "plans.optimize_s": (name_s["plans.optimize"] / n, "s"),
            "plans.rewrite_ratio": (self.events["optimize_rewrites"] / max(name_n["plans.optimize"], 1), "ratio"),
            "plans.cache_lookups": (self.events["cache_lookups"] / n, "count"),
            "plans.cache_hit_ratio": (self.events["cache_hits"] / max(self.events["cache_lookups"], 1), "ratio"),
            "planner.plan_s": (name_s["planner.plan"] / n, "s"),
            "planner.py4j_calls": (phase_py4j["plan"][0] / n, "count"),
            "exec.action_s": (name_s["exec.action"] / n, "s"),
            "exec.jobs": (ex["jobs"] / n, "count"),
            "exec.stages": (ex["stages"] / n, "count"),
            "exec.tasks": (ex["tasks"] / n, "count"),
            "exec.failed_tasks": (ex["failed_tasks"] / n, "count"),
            "exec.task_run_s": (ex["task_run_ms"] / 1000.0 / n, "s"),
            "exec.gc_s": (ex["gc_ms"] / 1000.0 / n, "s"),
            "exec.scheduler_delay_s": (ex["sched_delay_ms"] / 1000.0 / n, "s"),
            "exec.input_mb": (ex["input_b"] / MB / n, "MB"),
            "exec.shuffle_read_mb": (ex["shuffle_read_b"] / MB / n, "MB"),
            "exec.shuffle_write_mb": (ex["shuffle_write_b"] / MB / n, "MB"),
            "exec.spill_mb": (ex["spill_b"] / MB / n, "MB"),
            "materialize.calls": (sum(name_n[k] for k in mat) / n, "count"),
            "materialize.s": (sum(name_s[k] for k in mat) / n, "s"),
            "materialize.unpersist_calls": (name_n["materialize.unpersist"] / n, "count"),
            "writer.calls": (writer_n / n, "count"),
            "writer.s": (writer_s / n, "s"),
            "writer.output_mb": (writer_out / MB / n, "MB"),
        }
        for m in MOR_METHODS:
            metrics[f"mor.{m}_calls"] = (name_n[f"mor.{m}"] / n, "count")
            metrics[f"mor.{m}_s"] = (name_s[f"mor.{m}"] / n, "s")
        metrics["incremental.maintain_s"] = (name_s["incremental.apply_cdf_to_agg_mv"] / n, "s")
        mb = self.events["microbatches"]
        metrics["streaming.queries_started"] = (self.events["stream_starts"] / max(n_all, 1), "count")
        metrics["streaming.microbatches"] = (mb / max(n_all, 1), "count")
        metrics["streaming.s_per_microbatch"] = (self.events["trigger_ms"] / 1000.0 / mb if mb else 0.0, "s")
        metrics["py4j.calls"] = (py4j_all[0] / n, "count")
        metrics["py4j.s"] = (py4j_all[1] / n, "s")
        for p in ("build", "plan", "exec"):
            metrics[f"py4j.{p}_calls"] = (phase_py4j[p][0] / n, "count")
            metrics[f"py4j.{p}_s"] = (phase_py4j[p][1] / n, "s")
        metrics["py4j.boundary_s"] = (layer_self["py4j"] / n, "s")
        metrics["py4j.null_rtt_s"] = (self.rtt, "s")
        for layer in sorted({x for ls in LAYER_GROUPS.values() for x in ls}):
            metrics[f"share.{layer}"] = (shares.get(layer, 0.0), "ratio")

        per_gate: dict[str, dict] = {}
        call_spans = [s for s in spans if s[1] == "call"]
        for s in call_spans:
            g = per_gate.setdefault(s[4], {"calls": 0, "s": 0.0, "jobs": 0, "py4j_calls": 0})
            g["calls"] += 1
            g["s"] += s[6] - s[5]
            g["jobs"] += subtree_spark(s[0])["jobs"]
        for sid, rec in py4j_span.items():
            if sid is not None and sid in by_id:
                gate = by_id[sid][4]
                if gate in per_gate:
                    per_gate[gate]["py4j_calls"] += rec[0]
        for gate, g in per_gate.items():
            g["self_s_by_layer"] = {k: round(v, 4) for k, v in sorted(gate_layer[gate].items())}
        return {
            "metrics": metrics,
            "layer_self_s": {k: round(v, 4) for k, v in sorted(layer_self.items())},
            "group_shares": {k: round(v, 4) for k, v in group_shares.items()},
            "per_gate": per_gate,
            "spans": [
                {"id": s[0], "name": s[1], "parent": s[2], "call": s[3], "gate": s[4],
                 "start": round(s[5], 6), "end": round(s[6], 6), "spark": dict(span_spark.get(s[0], {})),
                 "py4j_calls": py4j_span[s[0]][0] if s[0] in py4j_span else 0}
                for s in spans
            ],
        }
