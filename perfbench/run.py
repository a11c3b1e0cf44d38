"""Benchmark of grafeo_spark: interactive serving and batch analytics.

    python3 perfbench/run.py --workload interactive_mixed --seed 1 --seconds 15 --trace 0

Run it from the root of a checkout of the repository. BENCHMARK.json
describes the workloads and metrics. The last line of standard output is
one JSON object with the keys ``correct``, ``attempted``, ``failed`` and
``metrics``; the line before it is a summary with sample counts and the
first errors. ``--trace 0`` reports the end-to-end metrics; ``--trace 1``
reports the per-layer metrics instead and writes the spans to
``.perfbench/spans-<workload>-<seed>.jsonl``.

Everything a run writes (generated tables, oracle answers, Spark scratch
and temporary files) stays under ``.perfbench/`` in the checkout.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402
import threading  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench")
sys.path.insert(0, HERE)

import workloads as W  # noqa: E402

CLIENTS = 2
OP_TIMEOUT_S = 60.0
RUN_DEADLINE_S = 150.0
INDEX_DDL = "CREATE VECTOR INDEX emb_idx ON Embedding(embedding) DIMENSIONS 64 METRIC cosine"
EMBEDDING_TAG = 8 << 44  # catalog's node-id namespace of Embedding
WORKLOADS = ("interactive_mixed", "analytics")

MIN_PASSES = 4  # analytics: timed whole passes per run, for per-entry medians

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    _BENCH = json.load(_f)
# per-layer metrics of a --trace 1 run, as BENCHMARK.json lists them; a
# layer the workload does not exercise reads 0
PER_LAYER = {m["name"]: m["unit"] for m in _BENCH["per_layer"]}
# per-op counters reported as means (they add up over a run), not medians
_MEAN = {
    "spark.jobs_per_op": "jobs", "spark.stages_per_op": "stages",
    "spark.tasks_per_op": "tasks", "spark.executor_run_ms": "run_ms",
    "spark.executor_cpu_ms": "cpu_ms", "spark.gc_ms": "gc_ms",
    "spark.shuffle_write_bytes": "shuffle_write", "spark.shuffle_read_bytes": "shuffle_read",
    "spark.input_bytes": "input", "spark.spill_bytes": "spill",
}


def pin_environment() -> None:
    """Spark settings of this launcher: every core the process may use,
    driver memory well below physical RAM, and all scratch space inside
    the checkout (Spark puts spark-warehouse/ in the working directory)."""
    cpus = len(os.sched_getaffinity(0))
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") / 2**30
    for d in ("spark-local", "tmp", "cwd"):
        os.makedirs(os.path.join(WORK, d), exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(ram_gb / 3)))}g"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = os.path.join(WORK, "tmp")
    # no hsperfdata file: the JVM writes it under /tmp whatever the tmpdir
    os.environ["JAVA_TOOL_OPTIONS"] = (
        "-XX:-UsePerfData -Djava.io.tmpdir=" + os.path.join(WORK, "tmp")
    )
    os.environ["PYSPARK_PYTHON"] = sys.executable
    os.chdir(os.path.join(WORK, "cwd"))


def pct(values, q: float) -> float:
    """Linearly interpolated percentile, q in [0, 100]; 0 when empty."""
    v = sorted(values)
    if not v:
        return 0.0
    k = (len(v) - 1) * q / 100.0
    lo = int(k)
    hi = min(lo + 1, len(v) - 1)
    return v[lo] + (v[hi] - v[lo]) * (k - lo)


def mean(values) -> float:
    values = list(values)
    return statistics.fmean(values) if values else 0.0


def vm_hwm_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class Record:
    """One op: what ran, how long it took, what it returned."""

    def __init__(self, op: W.Op, client: int, seq: int) -> None:
        self.op, self.client = op, client
        self.op_id = f"c{client}-{seq}"
        self.error: str | None = None
        self.rows = self.cols = self.df = None
        self.start = 0.0
        self.lat_ms = self.plan_ms = self.exec_ms = 0.0
        self.counters: dict = {}
        self.plan_nodes = 0


class Bench:
    def __init__(self, workload: str, seed: int, seconds: float, trace: bool,
                 data_dir: str) -> None:
        self.workload, self.seed, self.seconds, self.trace = workload, seed, seconds, trace
        self.data_dir = data_dir
        self.batch = workload == "analytics"
        self.spark = self.tracer = None
        self.layer: dict[str, list[float]] = {}
        self.records: list[Record] = []
        self.lock = threading.Lock()
        self.dbs: dict = {}
        self.logs: dict[int, list] = {c: [] for c in range(CLIENTS)}
        self.current: dict[int, tuple | None] = {c: None for c in range(CLIENTS)}
        self.passes: list[float] = []
        self.recall: list[float] = []
        self.collect_s = 0.0

    # ------------------------------------------------------------ set-up

    def setup(self) -> None:
        """The program's own set-up, each layer timed from outside."""
        from grafeo_spark import catalog
        from grafeo_spark.session import get_spark

        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        t1 = time.perf_counter()
        spark.sparkContext.setLogLevel("ERROR")
        catalog.load_tables(spark, self.data_dir)
        t2 = time.perf_counter()
        graph = catalog.tpch_graph(spark, self.data_dir)
        t3 = time.perf_counter()
        triples = catalog.tpch_triples(spark, self.data_dir)
        t4 = time.perf_counter()
        self.spark, self.sc, self.base = spark, spark.sparkContext, (graph, triples)
        self.layer.update({
            "session.start_s": [t1 - t0], "catalog.load_tables_s": [t2 - t1],
            "catalog.tpch_graph_s": [t3 - t2], "catalog.tpch_triples_s": [t4 - t3],
        })
        if self.batch:
            import __spark_entry__

            qs = __spark_entry__.queries()
            self.entries = {name: qs[name] for name in W.ANALYTICS}
        else:
            import numpy as np
            import pyarrow.parquet as pq

            col = pq.read_table(os.path.join(self.data_dir, "embeddings.parquet"))["embedding"]
            self.emb = np.stack(col.to_numpy(zero_copy_only=False)).astype(np.float64)

    def new_db(self):
        """A fresh engine over the shared base graph, with the vector index."""
        from grafeo_spark.engine import GrafeoSpark

        db = GrafeoSpark(self.spark, *self.base)
        db.gql(INDEX_DDL)
        return db

    # --------------------------------------------------------- execution

    def build(self, db, op: W.Op):
        """Query text -> lazy DataFrame (None for SPARQL updates)."""
        if op.lang == "cypher":
            return db.cypher(op.query, op.params)
        if op.lang == "sparql":
            return db.sparql(op.query)
        if op.lang == "gremlin":
            return db.gremlin(op.query)
        if op.lang == "graphql":
            return db.graphql(op.query)
        if op.lang == "vector":
            return db.vector_search("Embedding", self.query_vec(op), k=10)
        if op.lang == "sparql_update":
            db.sparql_update(op.query)
            return None
        if op.lang == "entry":
            return self.entries[op.template](self.spark, self.data_dir)
        raise ValueError(op.lang)

    def query_vec(self, op: W.Op) -> list[float]:
        """A stored embedding plus seeded noise."""
        import numpy as np

        noise = np.random.default_rng([self.seed, op.vec_id]).normal(0, 0.05, self.emb.shape[1])
        return [float(x) for x in self.emb[op.vec_id] + noise]

    def execute(self, db, rec: Record) -> None:
        if self.trace:
            self.tracer.begin_op(rec.op_id)
            self.sc.setJobGroup(rec.op_id, rec.op.template)
            wall0 = time.time()
        t0 = time.perf_counter()
        try:
            if self.trace:
                with self.tracer.span("op." + rec.op.template):
                    df, t1, t2 = self.run_traced(db, rec)
            else:
                df = self.build(db, rec.op)
                t1 = t2 = time.perf_counter()
                if df is not None:
                    rec.rows = [tuple(r) for r in df.collect()]
                    rec.cols = list(df.columns)
            t3 = time.perf_counter()
            rec.plan_ms, rec.exec_ms = (t2 - t1) * 1000.0, (t3 - t2) * 1000.0
            rec.df = df
        except Exception as ex:  # noqa: BLE001 - a failed op is counted, not fatal
            t3 = time.perf_counter()
            rec.error = f"{type(ex).__name__}: {str(ex)[:200]}"
        rec.start, rec.lat_ms = t0, (t3 - t0) * 1000.0
        if self.trace:
            c0 = time.perf_counter()
            self.collect_counters(rec, wall0, time.time())
            self.collect_s += time.perf_counter() - c0

    def run_traced(self, db, rec: Record):
        """``execute``'s body with spans for Spark's physical planning and
        its execution; returns the frame and the times planning began and
        ended."""
        df = self.build(db, rec.op)
        t1 = t2 = time.perf_counter()
        if df is not None:
            with self.tracer.span("spark.plan"):
                df._jdf.queryExecution().executedPlan()
            t2 = time.perf_counter()
            with self.tracer.span("spark.execute"):
                rec.rows = [tuple(r) for r in df.collect()]
            rec.cols = list(df.columns)
        return df, t1, t2

    def collect_counters(self, rec: Record, wall0: float, wall1: float) -> None:
        """Spark counters and plan size of the op just finished (traced
        runs only; the time spent here is the tracing cost)."""
        import probes

        self.sc.setJobGroup(f"probe-{rec.op_id}", "benchmark probe")
        probes.drain_listener_bus(self.sc)
        rec.counters = probes.job_group_counters(self.sc, rec.op_id, wall0, wall1)
        if rec.df is not None:
            rec.plan_nodes = probes.plan_nodes(rec.df)
        rec.df = None

    # ---------------------------------------------------------- workloads

    def warm_up(self) -> None:
        """Every template once, untimed: a full pass of the analytics
        entries; for interactive_mixed, the read templates split over the
        client threads and the writes in one more, on throwaway graphs."""
        rng = random.Random(f"warm-{self.seed}")
        if self.batch:
            recs = self.batch_pass(rng, -1, self.execute)
        else:
            recs = [Record(f(rng), -1, i) for i, f in enumerate(W.READS)]
            parts = [recs[c::CLIENTS] for c in range(CLIENTS)]
            # each write kind once, in KINDS order so the delete finds the
            # insert
            wg = W.WriteGen(CLIENTS, rng)
            writes = [Record(wg.make(k), -2, i) for i, k in enumerate(W.WriteGen.KINDS)]
            parts.append(writes)
            recs += writes
            dbs = [self.new_db() for _ in parts]

            def warm(db, part):
                for rec in part:
                    self.execute(db, rec)

            threads = [threading.Thread(target=warm, args=a) for a in zip(dbs, parts)]
            for t in threads:
                t.start()
            for t in threads:
                t.join()
        for rec in recs:
            if rec.error:
                raise RuntimeError(f"warm-up {rec.op.template}: {rec.error}")

    def deck(self, cid: int, n: int, rng: random.Random, wg: W.WriteGen) -> list[W.Op]:
        """Client ``cid``'s ``n``-th deck: every read template once and
        READS/4 writes (one op in five), in seeded order. Write kinds
        rotate over clients and decks, so whole decks have the same mix in
        every run; parameters and order follow the seed."""
        ops = [f(rng) for f in W.READS]
        k = len(W.READS) // 4
        start = k * (n * CLIENTS + cid)
        kinds = W.WriteGen.KINDS
        ops += [wg.make(kinds[(start + i) % len(kinds)]) for i in range(k)]
        rng.shuffle(ops)
        return ops

    def guarded(self, db, rec: Record) -> None:
        """Execute under the watchdog's eye (see ``watchdog``)."""
        group = rec.op_id if self.trace else f"client-{rec.client}"
        self.current[rec.client] = (time.perf_counter(), group)
        self.execute(db, rec)
        self.current[rec.client] = None

    def client(self, cid: int, deadline: float) -> None:
        """Closed loop until the deadline: the next op starts when the
        previous one ends. Ops come in decks, so a run's mix varies only
        in its last, partial deck."""
        rng = random.Random(f"{self.seed}-{cid}")
        wg = W.WriteGen(cid, random.Random(f"{self.seed}-{cid}-w"))
        db = self.dbs[cid]
        if not self.trace:
            self.sc.setJobGroup(f"client-{cid}", "perfbench client")
        deck: list[W.Op] = []
        n = seq = 0
        while time.perf_counter() < deadline:
            if not deck:
                deck = self.deck(cid, n, rng, wg)
                n += 1
            op = deck.pop()
            seq += 1
            rec = Record(op, cid, seq)
            self.guarded(db, rec)
            with self.lock:
                self.records.append(rec)
            if op.is_write and rec.error is None:
                self.logs[cid].append(op.effect)

    def watchdog(self, stop: threading.Event) -> None:
        """Cancel the jobs of an op running past OP_TIMEOUT_S; the op then
        raises and counts as failed."""
        while not stop.wait(1.0):
            for cur in list(self.current.values()):
                if cur is not None and time.perf_counter() - cur[0] > OP_TIMEOUT_S:
                    self.sc.cancelJobGroup(cur[1])

    def measure(self) -> None:
        """The timed window, with the watchdog running."""
        stop = threading.Event()
        dog = threading.Thread(target=self.watchdog, args=(stop,), daemon=True)
        dog.start()
        try:
            if self.batch:
                self.run_batch()
            else:
                self.run_interactive()
        finally:
            stop.set()
            dog.join()

    def run_interactive(self) -> None:
        self.dbs = {c: self.new_db() for c in range(CLIENTS)}
        t0 = self.t_measure = time.perf_counter()
        threads = [
            threading.Thread(target=self.client, args=(c, t0 + self.seconds))
            for c in range(CLIENTS)
        ]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        self.elapsed = time.perf_counter() - t0

    def batch_pass(self, rng: random.Random, client: int, run) -> list[Record]:
        names = list(W.ANALYTICS)
        rng.shuffle(names)
        first = len(self.records)
        recs = [Record(W.Op(name, "entry"), client, first + i) for i, name in enumerate(names)]
        for rec in recs:
            run(None, rec)
        return recs

    def run_batch(self) -> None:
        """Whole passes until the run time is used, at least MIN_PASSES."""
        rng = random.Random(self.seed)
        if not self.trace:
            self.sc.setJobGroup("client-0", "perfbench client")
        t0 = self.t_measure = time.perf_counter()
        while len(self.passes) < MIN_PASSES or time.perf_counter() < t0 + self.seconds:
            p0 = time.perf_counter()
            self.records += self.batch_pass(rng, 0, self.guarded)
            self.passes.append(time.perf_counter() - p0)
            if time.perf_counter() - T_START > RUN_DEADLINE_S - 2 * self.passes[-1]:
                break
        self.elapsed = time.perf_counter() - t0

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        """Mark every wrong answer failed; runs after the timed window."""
        import oracle

        if self.batch:
            answers = oracle.ensure_battery_answers(self.data_dir, W.ANALYTICS)
            for rec in self.records:
                if rec.error is None and not oracle.same(
                    rec.cols, rec.rows, answers[rec.op.template]
                ):
                    rec.error = "wrong answer"
            return
        import numpy as np

        con = oracle.connect(self.data_dir)
        expected: dict[str, list] = {}
        unit = self.emb / np.linalg.norm(self.emb, axis=1, keepdims=True)
        for rec in self.records:
            if rec.error is not None or rec.op.is_write:
                continue
            if rec.op.lang == "vector":
                rec.error = self.check_vector(rec, unit)
                continue
            if rec.op.oracle not in expected:
                expected[rec.op.oracle] = oracle.query(con, rec.op.oracle)
            if not oracle.same(rec.cols, rec.rows, expected[rec.op.oracle]):
                rec.error = "wrong answer"
        con.close()
        bad = []

        def end_state(cid):
            try:
                ok = self.end_state_ok(self.dbs[cid], W.expected_state(self.logs[cid]))
            except Exception:  # noqa: BLE001 - an unreadable end state is a wrong one
                ok = False
            if not ok:
                bad.append(cid)

        threads = [threading.Thread(target=end_state, args=(c,)) for c in self.dbs]
        for t in threads:
            t.start()
        for t in threads:
            t.join()
        for rec in self.records:
            if rec.client in bad and rec.op.is_write and rec.error is None:
                rec.error = "end state differs from the op log"

    def check_vector(self, rec: Record, unit) -> str | None:
        """Ten distinct stored vectors, scores equal to their cosine with
        the query, best first. Recall against the exact top 10 is a
        per-layer metric, not a correctness condition."""
        import numpy as np

        q = np.asarray(self.query_vec(rec.op))
        exact = unit @ (q / np.linalg.norm(q))
        ids = [int(r[0]) - EMBEDDING_TAG for r in rec.rows]
        scores = [float(r[1]) for r in rec.rows]
        top = set(np.argsort(-exact, kind="stable")[:10].tolist())
        self.recall.append(len(top & set(ids)) / 10.0)
        if len(ids) != 10 or len(set(ids)) != 10:
            return "vector_search: wrong row count"
        if any(i < 0 or i >= len(unit) for i in ids):
            return "vector_search: unknown id"
        if any(abs(exact[i] - s) > 1e-5 for i, s in zip(ids, scores)):
            return "vector_search: score is not the cosine"
        if any(a < b - 1e-12 for a, b in zip(scores, scores[1:])):
            return "vector_search: rows not ordered by score"
        return None

    @staticmethod
    def end_state_ok(db, want: dict) -> bool:
        tags = sorted(r[0] for r in db.cypher("MATCH (t:Tag) RETURN t.name AS name").collect())
        notes = {
            int(r[0]): int(r[1])
            for r in db.cypher(
                "MATCH (c:Customer) WHERE c.bench_note IS NOT NULL "
                "RETURN c.custkey AS k, c.bench_note AS v"
            ).collect()
        }
        triples = {
            r[0] for r in db.sparql(f"SELECT ?s WHERE {{ ?s <{W.TAG_PRED}> ?o }}").collect()
        }
        return tags == want["tags"] and notes == want["notes"] and triples == want["triples"]

    # ----------------------------------------------------------- metrics

    def peak_rss_mb(self) -> float:
        """VmHWM of this process plus the JVM it launched."""
        from pyspark import SparkContext

        kb = vm_hwm_kb(os.getpid())
        proc = getattr(SparkContext._gateway, "proc", None)
        if proc is not None:
            kb += vm_hwm_kb(proc.pid)
        return kb / 1024.0

    def entry_medians_ms(self) -> list[float]:
        """Analytics: each entry's median call time over the passes."""
        calls: dict[str, list[float]] = {}
        for r in self.records:
            if r.error is None:
                calls.setdefault(r.op.template, []).append(r.lat_ms)
        return [pct(v, 50) for v in calls.values()]

    def ops_per_s(self) -> float:
        """Completed ops per second. Analytics: entries per second of a
        median pass, i.e. entries over the sum of their median call times.
        Interactive: the window is --seconds long and the op in flight at
        its end counts by the share of it inside the window, so every
        client is busy for the whole window."""
        if self.batch:
            med = self.entry_medians_ms()
            return len(med) * 1000.0 / sum(med) if med else 0.0
        done = [r for r in self.records if r.error is None]
        end = self.t_measure + self.seconds
        inside = sum(
            min(1.0, max(0.0, end - r.start) / max(r.lat_ms / 1000.0, 1e-9)) for r in done
        )
        return inside / self.seconds

    def read_mean_ms(self) -> float:
        """Interactive: arithmetic mean latency of successful reads.
        Analytics: geometric mean of the entries' median call times, so
        each entry weighs the same, where ops_per_s is led by the longest
        entry."""
        if self.batch:
            med = self.entry_medians_ms()
            return math.exp(mean(math.log(m) for m in med)) if med else 0.0
        return mean(r.lat_ms for r in self.records if r.error is None and not r.op.is_write)

    def end_to_end(self) -> dict:
        return {
            "setup_s": (self.setup_s, "s"),
            "ops_per_s": (self.ops_per_s(), "ops/s"),
            "read_mean_ms": (self.read_mean_ms(), "ms"),
            "peak_rss_mb": (self.peak_rss_mb(), "MB"),
        }

    def summary(self) -> dict:
        done = [r for r in self.records if r.error is None]
        reads = [r.lat_ms for r in done if not r.op.is_write]
        writes = [r.lat_ms for r in done if r.op.is_write]
        by_template: dict[str, list[float]] = {}
        for r in done:
            by_template.setdefault(r.op.template, []).append(r.lat_ms)
        return {
            "workload": self.workload, "seed": self.seed, "trace": int(self.trace),
            "elapsed_s": round(self.elapsed, 3), "ops": len(self.records),
            "reads": len(reads), "read_p50_ms": round(pct(reads, 50), 1),
            "read_p90_ms": round(pct(reads, 90), 1),
            "writes": len(writes), "write_p50_ms": round(pct(writes, 50), 1),
            "write_p90_ms": round(pct(writes, 90), 1),
            "pass_s": [round(p, 3) for p in self.passes],
            "setup_s": round(self.setup_s, 3), "warmup_s": round(self.warmup_s, 3),
            "peak_rss_mb": round(self.peak_rss_mb(), 1),
            "failed_ops_ratio": (len(self.records) - len(done)) / max(1, len(self.records)),
            "p50_ms_by_template": {
                k: [round(pct(v, 50), 1), len(v)] for k, v in sorted(by_template.items())
            },
            "spans": len(self.tracer.spans) if self.tracer else 0,
            "errors": sorted({f"{r.op.template}: {r.error}" for r in self.records if r.error})[:10],
        }

    def per_layer(self) -> dict:
        from grafeo_spark import engine

        spans = self.tracer.by_op()
        vals: dict[str, list[float]] = {}

        def add(name: str, v: float) -> None:
            vals.setdefault(name, []).append(v)

        def span_ms(ss, name: str) -> float:
            return sum(s.ms() for s in ss if s.name == name)

        for rec in self.records:
            if rec.error is not None:
                continue
            ss = spans.get(rec.op_id, [])
            names = {s.name for s in ss}
            for name in ("lang.sparql.build", "lang.gremlin.build", "lang.graphql.build",
                         "plans.compile"):
                if name in names:
                    add(name + "_ms", span_ms(ss, name))
            if "llm.ann_topk" in names:
                add("llm.vector_search_ms", rec.lat_ms)
            if rec.op.is_write:
                add("graph.write_ms", rec.lat_ms)
                add("graph.write_ms." + rec.op.template, rec.lat_ms)
            c = rec.counters
            if "operators.expand" in names:
                add("operators.expand_s", span_ms(ss, "operators.expand") / 1000.0)
                add("operators.jobs_per_call", c["jobs"])
            if rec.op.lang == "entry":
                layer = W.ANALYTICS[rec.op.template]
                add(f"{layer}.{rec.op.template}_s", rec.lat_ms / 1000.0)
                if layer == "algorithms":
                    add("algorithms.jobs_per_call", c["jobs"])
                    add("algorithms.shuffle_bytes_per_call",
                        c["shuffle_write"] + c["shuffle_read"])
            add("spark.plan_ms", rec.plan_ms)
            add("spark.exec_ms", rec.exec_ms)
            add("spark.driver_ms", c["driver_ms"])
            add("plans.analyzed_plan_nodes", rec.plan_nodes)
            for name, key in _MEAN.items():
                add(name, c[key])
        every = [s for ss in spans.values() for s in ss]
        # on a plan-cache miss the engine calls optimize(translate(parse(q))):
        # sibling spans, summed per op. Warm-up ops count, since the cache
        # then serves the timed ones.
        translate: dict[tuple, float] = {}
        for s in every:
            if s.name in ("lang.cypher.translate", "plans.rewrite.optimize"):
                key = (s.op_id, s.parent)
                translate[key] = translate.get(key, 0.0) + s.ms()
        info = engine._parse_and_translate.cache_info()
        done = sum(1 for r in self.records if r.error is None)
        parse = [s.ms() for s in every if s.name == "lang.cypher.parse"]
        special = {
            "engine.plan_cache_hit_ratio": info.hits / max(1, info.hits + info.misses),
            "lang.cypher.parse_ms": pct(parse, 50),
            "lang.cypher.translate_ms": pct(translate.values(), 50),
            "graph.frame_plan_nodes": self.frame_plan_nodes(),
            "llm.ann_recall_at_10": mean(self.recall),
            "analytics.pass_s": pct(self.passes, 50),
            "trace.ops_per_s": self.ops_per_s(),
            "trace.collect_ms_per_op": self.collect_s * 1000.0 / max(1, len(self.records)),
        }
        out = {}
        for name, unit in PER_LAYER.items():
            if name in special:
                v = special[name]
            elif name in self.layer:
                v = pct(self.layer[name], 50)
            elif name in _MEAN or name.endswith("_per_call"):
                v = mean(vals.get(name, []))
            else:
                v = pct(vals.get(name, []), 50)
            out[name] = (v, unit)
        return out

    def frame_plan_nodes(self) -> float:
        """Analyzed-plan size of the frames writes stack layers onto (Tag
        and Customer nodes, the triple store), largest over the clients."""
        import probes

        sizes = []
        for db in (self.dbs or {0: self.new_db()}).values():
            n = probes.plan_nodes(db.graph.nodes("Customer")) + probes.plan_nodes(db.triples.df)
            if "Tag" in db.graph.labels():
                n += probes.plan_nodes(db.graph.nodes("Tag"))
            sizes.append(n)
        return float(max(sizes))

    # ------------------------------------------------------------- drive

    def run(self, build_s: float) -> dict:
        if self.trace:
            import probes

            self.tracer = probes.Tracer()
            self.tracer.install()
        self.setup()
        w0 = time.perf_counter()
        self.warm_up()
        self.warmup_s = time.perf_counter() - w0
        # set-up: process start to the first timed op, less the one-time
        # generation of inputs and oracle answers
        self.setup_s = time.perf_counter() - T_START - build_s
        self.measure()
        if self.trace:
            self.tracer.uninstall()
        self.check()
        if self.trace:
            metrics = self.per_layer()
            self.tracer.dump(os.path.join(WORK, f"spans-{self.workload}-{self.seed}.jsonl"))
        else:
            metrics = self.end_to_end()
        print(json.dumps(self.summary()))
        failed = sum(1 for r in self.records if r.error is not None)
        return {
            "correct": failed == 0,
            "attempted": len(self.records),
            "failed": failed,
            "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
        }

    def shutdown(self) -> None:
        """Stop the session and the JVM, and wait until it has exited."""
        from pyspark import SparkContext

        if self.spark is not None:
            self.spark.stop()
        gw = SparkContext._gateway
        if gw is None:
            return
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()
            try:
                proc.wait(timeout=30)
            except Exception:  # noqa: BLE001 - kill what did not exit
                proc.kill()
                proc.wait(timeout=10)


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not (os.path.isfile(os.path.join(ROOT, "grafeo_spark", "__init__.py"))
            and os.path.isfile(os.path.join(ROOT, "__spark_entry__.py"))):
        print("perfbench: the grafeo_spark program is not beside perfbench/", file=sys.stderr)
        return 2
    pin_environment()
    sys.path.insert(0, ROOT)
    import datagen
    import oracle

    b0 = time.perf_counter()
    data_dir = datagen.ensure_data(WORK)
    oracle.ensure_battery_answers(data_dir, W.ANALYTICS)
    build_s = time.perf_counter() - b0
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), data_dir)
    try:
        result = bench.run(build_s)
    finally:
        bench.shutdown()
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
