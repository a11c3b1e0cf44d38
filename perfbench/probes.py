"""Outside-in instrumentation: spans around the program's public calls,
and Spark's own job/stage counters per op.

Nothing here edits the program. ``Tracer.install`` replaces module
attributes with timing wrappers; the program picks them up because it
imports those names at call time. Spans are kept in memory and written
out once at the end of the run.
"""

from __future__ import annotations

import functools
import importlib
import itertools
import json
import threading
import time
from dataclasses import dataclass

# (module, attribute, span name). The layer is the span name's first part.
WRAPPED = (
    ("grafeo_spark.session", "get_spark", "session.get_spark"),
    ("grafeo_spark.catalog", "load_tables", "catalog.load_tables"),
    ("grafeo_spark.catalog", "tpch_graph", "catalog.tpch_graph"),
    ("grafeo_spark.catalog", "tpch_triples", "catalog.tpch_triples"),
    ("grafeo_spark.lang.cypher", "parse", "lang.cypher.parse"),
    ("grafeo_spark.lang.cypher", "translate", "lang.cypher.translate"),
    ("grafeo_spark.plans.rewrite", "optimize", "plans.rewrite.optimize"),
    ("grafeo_spark.lang.cypher.mutations", "execute", "graph.cypher_write"),
    ("grafeo_spark.lang.sparql", "sparql", "lang.sparql.build"),
    ("grafeo_spark.lang.sparql", "sparql_update", "graph.sparql_update"),
    ("grafeo_spark.lang.gremlin", "execute", "lang.gremlin.build"),
    ("grafeo_spark.lang.graphql", "execute", "lang.graphql.build"),
    ("grafeo_spark.operators.expand", "var_length_expand", "operators.expand"),
    ("grafeo_spark.operators.expand", "reachable_pairs", "operators.expand"),
    ("grafeo_spark.operators.expand", "shortest_path_lengths", "operators.expand"),
    ("grafeo_spark.operators.expand", "all_shortest_paths", "operators.expand"),
    ("grafeo_spark.algorithms", "run", "algorithms.run"),
    ("grafeo_spark.algorithms", "triangles", "algorithms.triangles"),
    ("grafeo_spark.llm", "cosine_near_pairs", "llm.cosine_near_pairs"),
    ("grafeo_spark.llm", "contaminated_ids", "llm.contaminated_ids"),
    ("grafeo_spark.llm.similarity", "ann_topk", "llm.ann_topk"),
    ("grafeo_spark.llm.similarity", "topk", "llm.topk"),
)

# GrafeoSpark methods the workloads call; each op's engine span
ENGINE_METHODS = ("cypher", "sparql", "sparql_update", "gremlin", "graphql",
                  "vector_search", "algo", "gql")


@dataclass
class Span:
    span_id: int
    parent: int | None
    op_id: str | None
    name: str
    start: float
    end: float = 0.0

    def ms(self) -> float:
        return (self.end - self.start) * 1000.0


class Tracer:
    """Spans of every thread, plus a per-thread stack giving each span
    its parent and the op it belongs to."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self._saved: list[tuple] = []

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def begin_op(self, op_id: str) -> None:
        self._local.op_id = op_id

    def op_id(self) -> str | None:
        return getattr(self._local, "op_id", None)

    def span(self, name: str):
        tracer = self

        class _Ctx:
            def __enter__(self):
                stack = tracer._stack()
                parent = stack[-1].span_id if stack else None
                self.s = Span(next(tracer._ids), parent, tracer.op_id(), name,
                              time.perf_counter())
                stack.append(self.s)
                return self.s

            def __exit__(self, *exc):
                self.s.end = time.perf_counter()
                tracer._stack().pop()
                with tracer._lock:
                    tracer.spans.append(self.s)
                return False

        return _Ctx()

    def _wrap(self, fn, name: str):
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            with tracer.span(name):
                return fn(*args, **kwargs)

        return wrapper

    def install(self) -> None:
        for mod_name, attr, name in WRAPPED:
            mod = importlib.import_module(mod_name)
            fn = getattr(mod, attr)
            self._saved.append((mod, attr, fn))
            setattr(mod, attr, self._wrap(fn, name))
        from grafeo_spark.engine import GrafeoSpark
        from grafeo_spark.plans.compiler import Compiler

        methods = [(Compiler, "compile", "plans.compile")] + [
            (GrafeoSpark, m, f"engine.{m}") for m in ENGINE_METHODS
        ]
        for owner, attr, name in methods:
            fn = getattr(owner, attr)
            self._saved.append((owner, attr, fn))
            setattr(owner, attr, self._wrap(fn, name))

    def uninstall(self) -> None:
        for owner, attr, fn in reversed(self._saved):
            setattr(owner, attr, fn)
        self._saved.clear()

    def by_op(self) -> dict[str | None, list[Span]]:
        out: dict[str | None, list[Span]] = {}
        for s in self.spans:
            out.setdefault(s.op_id, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.span_id, "parent": s.parent, "op": s.op_id, "name": s.name,
                    "start": round(s.start, 6), "end": round(s.end, 6),
                }) + "\n")


# --------------------------------------------------------- Spark counters


def drain_listener_bus(sc) -> None:
    """Stage data reaches the status store through the asynchronous
    listener bus; wait until it has caught up before reading."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() / 1000.0 if opt.isDefined() else None


def job_group_counters(sc, group: str, op_start_s: float, op_end_s: float) -> dict:
    """Jobs, stages, tasks and stage task metrics of one job group.
    ``op_*_s`` are wall-clock (``time.time``) bounds of the op, used for
    the waiting time: op wall time minus the union of the stages' active
    intervals."""
    store = sc._jsc.sc().statusStore()
    tracker = sc.statusTracker()
    jobs = list(tracker.getJobIdsForGroup(group))
    c = dict(jobs=len(jobs), stages=0, tasks=0, run_ms=0.0, cpu_ms=0.0,
             shuffle_write=0, shuffle_read=0, input=0, spill=0, gc_ms=0.0)
    intervals = []
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is None:
            continue
        for sid in info.stageIds:
            try:
                st = store.lastStageAttempt(int(sid))
            except Exception:  # noqa: BLE001 - a skipped stage has no attempt
                continue
            if st.status().toString() == "SKIPPED":
                continue
            c["stages"] += 1
            c["tasks"] += int(st.numTasks())
            c["run_ms"] += float(st.executorRunTime())
            c["cpu_ms"] += float(st.executorCpuTime()) / 1e6
            c["shuffle_write"] += int(st.shuffleWriteBytes())
            c["shuffle_read"] += int(st.shuffleReadBytes())
            c["input"] += int(st.inputBytes())
            c["spill"] += int(st.memoryBytesSpilled()) + int(st.diskBytesSpilled())
            c["gc_ms"] += float(st.jvmGcTime())
            a, b = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if a is not None and b is not None:
                intervals.append((max(a, op_start_s), min(b, op_end_s)))
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    c["driver_ms"] = max(0.0, (op_end_s - op_start_s) - covered) * 1000.0
    return c


def plan_nodes(df) -> int:
    """Operators in a DataFrame's analyzed logical plan."""
    tree = df._jdf.queryExecution().analyzed().numberedTreeString()
    return sum(1 for line in tree.splitlines() if line[:1].isdigit())
