"""Cypher write-clause executor.

The reference executes mutations as physical operators over its MVCC store
(CreateNodeOperator mutation.rs:21, CreateEdgeOperator :189, DeleteNode
:369, DeleteEdge :477, AddLabel :575, RemoveLabel :660, SetProperty :748,
MergeOperator merge.rs:1-18). The Spark-native equivalent is *batch
functional*: the read part of the statement compiles to a DataFrame of
bindings exactly like a query, and each write clause turns that frame into
append / anti-join / column-rewrite transformations of the graph's
node/edge frames — snapshot-in, snapshot-out (reads inside one statement
see the pre-write state, like a single Cypher transaction).

Writes land in each written frame's one delta (graph.py): created rows in
its inserted rows, SET/REMOVE in its per-id patch, DELETE in its deleted-key
set, so a frame keeps one plan shape however many writes it takes. A
statement with no read part (CREATE/MERGE with literal or ``$param``
properties) binds one literal row and builds its rows in Python as a JVM
local relation: CREATE runs no Spark job, MERGE only its existence probe.

Batch semantics notes (documented divergences, SURVEY.md §7):
- SET with multiple matches per entity resolves deterministically by MAX;
- edge identity for DELETE on an edge variable is its (src, dst) pair
  within its type frame (parallel edges share fate);
- new node ids come from the graph's carried id high-water mark
  (``PropertyGraph.next_node_id``): sequential, never reused, and free to
  allocate once the mark is known.
"""

from __future__ import annotations

from typing import Any

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.types import LongType, StructField, StructType

from grafeo_spark.graph import Rows, literal_row, set_flag, values_frame
from grafeo_spark.lang.cypher import parser as P
from grafeo_spark.lang.cypher import translator as T
from grafeo_spark.plans import exprs as E
from grafeo_spark.plans.compiler import Compiler, _p

WRITE_CLAUSES = (P.CreateClause, P.MergeClause, P.DeleteClause, P.SetClause, P.RemoveClause)


def is_mutation(uq: P.UnionQuery) -> bool:
    return any(
        isinstance(c, WRITE_CLAUSES) for part in uq.parts for c in part.clauses
    )


class MutationError(Exception):
    pass


def execute(db, uq: P.UnionQuery, params: dict[str, Any]) -> DataFrame:
    """Apply a mutation statement to ``db.graph`` (rebinding it) and return
    a one-row summary frame (counts, mirroring the reference's result
    summary)."""
    if len(uq.parts) > 1:
        raise MutationError("UNION is not supported in mutation statements")
    stmt = uq.parts[0]
    mx = _Mutator(db, params)
    result: DataFrame | None = None
    for clause in stmt.clauses:
        if isinstance(clause, P.WithClause) and clause.is_return:
            # CREATE ... RETURN n (query_correctness.rs mutation sections):
            # project over the binding frame against the POST-write snapshot
            result = mx.returning(clause)
        elif isinstance(clause, (P.MatchClause, P.UnwindClause, P.WithClause)):
            mx.read_clause(clause)
        elif isinstance(clause, P.CreateClause):
            mx.create(clause)
        elif isinstance(clause, P.MergeClause):
            mx.merge(clause)
        elif isinstance(clause, P.DeleteClause):
            mx.delete(clause)
        elif isinstance(clause, P.SetClause):
            mx.set_items(clause.items)
        elif isinstance(clause, P.RemoveClause):
            mx.remove_items(clause.items)
        else:
            raise MutationError(f"unsupported clause in mutation: {clause!r}")
    db.graph = mx.graph
    if result is not None:
        return result
    return values_frame(
        db.spark,
        [
            (
                mx.stats["nodes_created"],
                mx.stats["relationships_created"],
                mx.stats["nodes_deleted"],
                mx.stats["relationships_deleted"],
                mx.stats["properties_set"],
                mx.stats["labels_added"],
                mx.stats["labels_removed"],
            )
        ],
        _SUMMARY,
    )


_SUMMARY = StructType(
    [
        StructField(k, LongType(), True)
        for k in (
            "nodes_created",
            "relationships_created",
            "nodes_deleted",
            "relationships_deleted",
            "properties_set",
            "labels_added",
            "labels_removed",
        )
    ]
)
_ID = StructType([StructField("id", LongType(), True)])


class _Mutator:
    def __init__(self, db, params: dict[str, Any]) -> None:
        self.db = db
        self.spark = db.spark
        self.graph = db.graph
        self.params = params
        self.ctx = T._Ctx()
        self._df: DataFrame | None = None  # compiled binding frame
        self._scope: dict = {}
        # While the statement has no read part its binding frame is ONE
        # literal row, and this maps each node variable bound so far to its
        # id; writes then build their rows in Python (no Spark job). None
        # once the bindings come from a read or a multi-row write.
        self._lit: dict[str, int] | None = None
        self.stats = {
            k: 0
            for k in (
                "nodes_created",
                "relationships_created",
                "nodes_deleted",
                "relationships_deleted",
                "properties_set",
                "labels_added",
                "labels_removed",
            )
        }

    # -- read side -------------------------------------------------------

    def read_clause(self, clause) -> None:
        if self._df is not None:
            raise MutationError("read clauses must precede write clauses")
        if isinstance(clause, P.MatchClause):
            T._match(self.ctx, clause)
        elif isinstance(clause, P.UnwindClause):
            if self.ctx.plan is None:
                from grafeo_spark.plans import ir

                self.ctx.plan = ir.SingleRow()
            from grafeo_spark.plans import ir

            self.ctx.plan = ir.Unwind(self.ctx.plan, T._rw(self.ctx, clause.expr), clause.alias)
            self.ctx.bound[clause.alias] = ("value", None)
        else:
            T._projection(self.ctx, clause)

    def _bindings(self) -> tuple[DataFrame, dict]:
        """Compile the read part once; a no-read statement binds one row."""
        if self._df is None:
            if self.ctx.plan is None:
                # a literal row is already frozen: no checkpoint job
                self._df = values_frame(self.spark, [(1,)], "__one int")
                self._lit = {}
            else:
                compiler = Compiler(self.graph, self.spark, self.params)
                self._df, self._scope = compiler.compile_raw(self.ctx.plan)
                self._scope = dict(self._scope)
                # freeze the pre-write snapshot (reads see state before writes)
                self._df = self._df.localCheckpoint(eager=True)
        return self._df, self._scope

    def _const(self, e: E.Expr):
        """(True, value) for a literal or bound ``$param``, else (False, None)."""
        if isinstance(e, E.Lit):
            return True, e.value
        if isinstance(e, E.Param) and e.name in self.params:
            return True, self.params[e.name]
        return False, None

    def _consts(self, pairs) -> dict | None:
        """{key: value} when every expression is constant, else None."""
        out = {}
        for k, e in pairs:
            ok, v = self._const(e)
            if not ok:
                return None
            out[k] = v
        return out

    def _frame(self, rows) -> DataFrame:
        return rows.frame(self.spark) if isinstance(rows, Rows) else rows

    def _expr(self, e: E.Expr, df: DataFrame) -> F.Column:
        compiler = Compiler(self.graph, self.spark, self.params)
        return compiler._expr(T._rw(self.ctx, e), self._scope, df)

    def returning(self, clause: P.WithClause) -> DataFrame:
        """RETURN after write clauses: refresh every bound node variable's
        properties from the post-write frames (so SET results are visible),
        then project/aggregate the binding frame."""
        df, scope = self._bindings()
        # refresh node vars from the current (post-write) label frames
        for var, info in list(scope.items()):
            if getattr(info, "kind", None) != "node" or not info.label:
                continue
            frame = self.graph.node_frames.get(info.label)
            idc = _p(var, "id")
            if frame is None or idc not in df.columns:
                continue
            renamed = frame.select(*[F.col(c).alias(_p(var, c)) for c in frame.columns])
            keep = [c for c in df.columns if not (c.startswith(var + "__") and c != idc)]
            df = df.select(*keep).join(renamed, [idc], "left")
            from grafeo_spark.plans.compiler import VarInfo

            scope[var] = VarInfo("node", info.label, tuple(frame.columns))
        comp = Compiler(self.graph, self.spark, self.params)
        items = [(T._rw(self.ctx, it.expr), it.alias) for it in clause.items]
        agg_items = [(e, a) for e, a in items if E.is_aggregate(e)]
        if agg_items:
            key_items = [(e, a) for e, a in items if not E.is_aggregate(e)]
            aggs = [comp._agg_expr(e, scope, df).alias(a) for e, a in agg_items]
            if key_items:
                tmp = df
                for e, a in key_items:
                    tmp = tmp.withColumn(a, comp._expr(e, scope, df))
                out = tmp.groupBy(*[a for _, a in key_items]).agg(*aggs)
            else:
                out = df.agg(*aggs)
        else:
            out = df.select(*[comp._expr(e, scope, df).alias(a) for e, a in items])
            if clause.distinct:
                out = out.distinct()
        if clause.order:
            cols = []
            for e, asc in clause.order:
                if not (isinstance(e, E.Col) and e.name in out.columns):
                    raise MutationError("ORDER BY after writes supports projected aliases only")
                cols.append(F.col(e.name).asc() if asc else F.col(e.name).desc())
            out = out.orderBy(*cols)
        if clause.skip is not None:
            out = out.offset(clause.skip)
        if clause.limit is not None:
            out = out.limit(clause.limit)
        return out

    def _next_id(self) -> int:
        return self.graph.next_node_id()

    # -- CREATE ----------------------------------------------------------

    def create(self, clause: P.CreateClause) -> None:
        df, scope = self._bindings()
        base = self._df
        for path in clause.patterns:
            base = self._create_path(base, path)
        self._df = base

    def _create_path(self, base: DataFrame, path: P.PatternPath) -> DataFrame:
        els = path.elements
        # nodes first (so edges can reference their ids)
        for el in els[::2]:
            node: P.NodePat = el
            var = node.var or self.ctx.fresh_var()
            node.var = var
            if _p(var, "id") in base.columns:
                if node.labels or node.props:
                    raise MutationError(
                        f"variable {var!r} already bound; CREATE cannot re-specify it"
                    )
                continue
            if not node.labels:
                raise MutationError("CREATE node requires a label")
            label = node.labels[0]
            start = self._next_id()
            props = self._consts(node.props) if self._lit is not None else None
            if props is not None:
                # no read part: one row, built in Python
                new_nodes = literal_row(
                    self.spark, {"id": start, **props}, self.graph.node_frames.get(label)
                )
                n_new = 1
                base = base.withColumn(_p(var, "id"), F.lit(start).cast("long"))
                self._lit[var] = start
            else:
                self._lit = None
                w = Window.orderBy(F.monotonically_increasing_id())
                base = base.withColumn(
                    _p(var, "id"), F.lit(start - 1) + F.row_number().over(w).cast("long")
                )
                cols = [F.col(_p(var, "id")).alias("id")]
                for k, v in node.props:
                    cols.append(self._expr(v, base).alias(k))
                new_nodes, n_new = _sized(base.select(*cols))
            self.graph = self.graph.create_nodes(
                label, new_nodes, ids_disjoint=len(node.labels) == 1, next_id=start + n_new
            )
            self.stats["nodes_created"] += n_new
            # openCypher-style counters: properties written on created
            # nodes count as properties_set
            self.stats["properties_set"] += n_new * len(node.props)
            # multi-label CREATE (n:A:B): the node exists under every label
            # (lpg/node.rs label sets -> one row per label frame here)
            for extra in node.labels[1:]:
                self.graph = self.graph.create_nodes(
                    extra, new_nodes, next_id=start + n_new
                )
                self.stats["labels_added"] += n_new
            # make the new var usable by later clauses/edges
            self.ctx.bound[var] = ("node", label)
            if self._scope is not None:
                from grafeo_spark.plans.compiler import VarInfo

                self._scope[var] = VarInfo("node", label, ("id", *[k for k, _ in node.props]))
            for k, _v in node.props:
                base = base.withColumn(_p(var, k), self._expr(_v, base))
        # edges
        i = 1
        while i < len(els):
            rel: P.RelPat = els[i]
            left: P.NodePat = els[i - 1]
            right: P.NodePat = els[i + 1]
            if len(rel.types) != 1:
                raise MutationError("CREATE relationship requires exactly one type")
            if rel.direction == "both":
                raise MutationError("CREATE relationship requires a direction")
            src_var, dst_var = (left.var, right.var) if rel.direction == "out" else (right.var, left.var)
            etype = rel.types[0]
            props = self._consts(rel.props)
            if self._lit is not None and src_var in self._lit and dst_var in self._lit and props is not None:
                new_edges = literal_row(
                    self.spark,
                    {"src": self._lit[src_var], "dst": self._lit[dst_var], **props},
                    self.graph.edge_frames.get(etype),
                )
                n_new = 1
            else:
                cols = [
                    F.col(_p(src_var, "id")).alias("src"),
                    F.col(_p(dst_var, "id")).alias("dst"),
                ]
                for k, v in rel.props:
                    cols.append(self._expr(v, base).alias(k))
                new_edges, n_new = _sized(base.select(*cols))
            self.graph = self.graph.create_edges(etype, new_edges)
            self.stats["relationships_created"] += n_new
            self.stats["properties_set"] += n_new * len(rel.props)
            i += 2
        return base

    # -- MERGE -----------------------------------------------------------

    def merge(self, clause: P.MergeClause) -> None:
        path = clause.pattern
        els = path.elements
        if len(els) == 1:
            self._merge_node(els[0], clause)
        elif len(els) == 3:
            self._merge_edge(els[0], els[1], els[2], clause)
        else:
            raise MutationError("MERGE supports a single node or single relationship")

    def _merge_node(self, node: P.NodePat, clause: P.MergeClause) -> None:
        """MERGE executed per binding row (merge.rs:1-18): the property
        expressions are evaluated against the binding frame (so
        ``MATCH (c) MERGE (t:Tag {name: c.name})`` merges one node per
        distinct key value), missing keys are found with one anti-join
        against the label frame, and the merged node's id is joined back so
        later clauses (SET / CREATE / RETURN) can use the variable."""
        if not node.labels:
            raise MutationError("MERGE node requires a label")
        label = node.labels[0]
        df, _scope = self._bindings()
        frame = self.graph.node_frames.get(label)

        if not node.props:
            # MERGE (n:Label): match any node of the label, create one if none
            matched = frame is not None and not frame.isEmpty()
            if matched:
                if clause.on_match:
                    self._apply_set_to_ids(label, frame.select("id"), clause.on_match, node.var)
            else:
                start = self._next_id()
                self.graph = self.graph.create_nodes(
                    label, Rows(_ID, [(start,)]), ids_disjoint=True, next_id=start + 1
                )
                self.stats["nodes_created"] += 1
            if node.var:
                self.ctx.bound[node.var] = ("node", label)
            return

        if self._lit is not None:
            want = self._consts(node.props)
            on_create = self._consts(
                [(it.key, it.expr) for it in clause.on_create if it.kind == "prop"]
            )
            if want is not None and on_create is not None and len(on_create) == len(clause.on_create):
                self._merge_literal(node, clause, label, frame, want, on_create)
                return
        self._lit = None

        keys = [k for k, _ in node.props]
        wanted = (
            df.select(*[self._expr(v, df).alias(k) for k, v in node.props])
            .distinct()
            .localCheckpoint(eager=True)
        )
        keys_present = frame is not None and all(k in frame.columns for k in keys)
        if keys_present:
            # ONE frame scan decides both MERGE arms: inner-join the frame
            # against the broadcast wanted keys (tiny) — matches carry
            # their id for the ON MATCH arm; the misses are wanted minus
            # the matched key set (broadcast-sized anti join, no second
            # frame scan, and the frame side is never shuffled)
            hits = (
                frame.select("id", *keys)
                .join(F.broadcast(wanted), keys, "inner")
                .localCheckpoint(eager=True)
            )
            matched_ids = hits.select("id")
            missing = wanted.join(
                F.broadcast(hits.select(*keys).distinct()), keys, "left_anti"
            )
        else:
            missing = wanted
            matched_ids = None
        start = self._next_id()
        w = Window.orderBy(F.monotonically_increasing_id())
        new_nodes = missing.withColumn(
            "id", F.lit(start - 1) + F.row_number().over(w).cast("long")
        ).select("id", *keys)
        for it in clause.on_create:
            if it.kind != "prop":
                raise MutationError("ON CREATE SET supports property items only")
            new_nodes = new_nodes.withColumn(it.key, self._expr(it.expr, new_nodes))
        new_rows, n_missing = _sized(new_nodes)
        if n_missing:
            self.stats["properties_set"] += n_missing * len(clause.on_create)
            self.graph = self.graph.create_nodes(
                label, new_rows, ids_disjoint=True, next_id=start + n_missing
            )
            self.stats["nodes_created"] += n_missing
        if matched_ids is not None and clause.on_match:
            # matched_ids projects the already-materialized `hits` — the
            # emptiness probe is a metadata-cheap job, no extra checkpoint
            if not matched_ids.isEmpty():
                self._apply_set_to_ids(label, matched_ids, clause.on_match, node.var)
        if node.var:
            # join the merged node's id back onto the binding frame
            final = self.graph.node_frames[label]
            add = final.select(
                F.col("id").alias(_p(node.var, "id")),
                *[F.col(k).alias(f"__mk_{k}") for k in keys],
            )
            df2 = df
            for k, v in node.props:
                df2 = df2.withColumn(f"__mg_{k}", self._expr(v, df))
            cond = None
            for k in keys:
                c = df2[f"__mg_{k}"] == add[f"__mk_{k}"]
                cond = c if cond is None else cond & c
            self._df = df2.join(add, cond, "left").drop(
                *[f"__mg_{k}" for k in keys], *[f"__mk_{k}" for k in keys]
            )
            from grafeo_spark.plans.compiler import VarInfo

            self._scope[node.var] = VarInfo("node", label, ("id",))
            self.ctx.bound[node.var] = ("node", label)

    def _merge_literal(
        self, node: P.NodePat, clause: P.MergeClause, label: str, frame, want: dict, on_create: dict
    ) -> None:
        """MERGE with constant properties and no read part: ONE probe job
        fetches the ids of the matching nodes; a miss creates the node in
        Python under a fresh id from the mark."""
        ids: list = []
        if frame is not None and all(k in frame.columns for k in want):
            cond = None
            for k, v in want.items():
                c = F.col(k) == F.lit(v)
                cond = c if cond is None else cond & c
            ids = [r[0] for r in frame.filter(cond).select("id").collect()]
        if ids:
            if clause.on_match:
                self._apply_set_to_ids(label, Rows(_ID, [(i,) for i in ids]), clause.on_match, node.var)
        else:
            start = self._next_id()
            rows = literal_row(self.spark, {"id": start, **want, **on_create}, frame)
            self.graph = self.graph.create_nodes(label, rows, ids_disjoint=True, next_id=start + 1)
            self.stats["nodes_created"] += 1
            self.stats["properties_set"] += len(on_create)
            ids = [start]
        if node.var:
            idc = _p(node.var, "id")
            if len(ids) == 1:
                self._df = self._df.withColumn(idc, F.lit(ids[0]).cast("long"))
                self._lit[node.var] = ids[0]
            else:
                self._df = self._df.crossJoin(
                    values_frame(self.spark, [(i,) for i in ids], f"`{idc}` long")
                )
                self._lit = None
            from grafeo_spark.plans.compiler import VarInfo

            self._scope[node.var] = VarInfo("node", label, ("id",))
            self.ctx.bound[node.var] = ("node", label)

    def _merge_edge(self, left: P.NodePat, rel: P.RelPat, right: P.NodePat, clause: P.MergeClause) -> None:
        df, scope = self._bindings()
        if len(rel.types) != 1 or rel.direction == "both":
            raise MutationError("MERGE relationship requires one type and a direction")
        if not (left.var and right.var and left.var in self.ctx.bound and right.var in self.ctx.bound):
            raise MutationError("MERGE relationship endpoints must be bound by MATCH")
        src_var, dst_var = (left.var, right.var) if rel.direction == "out" else (right.var, left.var)
        etype = rel.types[0]
        pairs = df.select(
            F.col(_p(src_var, "id")).alias("src"), F.col(_p(dst_var, "id")).alias("dst")
        ).distinct()
        for k, v in rel.props:
            pairs = pairs.withColumn(k, self._expr(v, df))
        existing = self.graph.edge_frames.get(etype)
        hits_e = None
        if existing is not None:
            # one edge-frame scan serves both arms (same pattern as
            # _merge_node): matched (src, dst) pairs come from an inner
            # join against the broadcast wanted pairs; the misses are the
            # pairs minus that tiny set
            pairs = pairs.localCheckpoint(eager=True)
            hits_e = (
                existing.select("src", "dst")
                .join(F.broadcast(pairs.select("src", "dst")), ["src", "dst"], "inner")
                .distinct()
                .localCheckpoint(eager=True)
            )
            missing = pairs.join(F.broadcast(hits_e), ["src", "dst"], "left_anti")
        else:
            missing = pairs
        missing, n = _sized(missing)
        if n:
            created = self._frame(missing)
            # ON CREATE SET r.k = v applies to the rows being created
            # (merge.rs ON CREATE semantics, same as _merge_node's arm)
            for it in clause.on_create:
                if it.kind != "prop":
                    raise MutationError("ON CREATE SET supports property items only")
                if rel.var and it.var != rel.var:
                    raise MutationError(
                        f"ON CREATE SET target {it.var!r} is not the merged relationship"
                    )
                created = created.withColumn(it.key, self._expr(it.expr, created))
                self.stats["properties_set"] += n
            self.graph = self.graph.create_edges(etype, created)
            self.stats["relationships_created"] += n
        if existing is not None and clause.on_match:
            # Keys only: `pairs` may carry inline rel-prop columns (from
            # MERGE ()-[r:T {k: v}]->()) which would collide with the edge
            # frame's own property columns on the join below. hits_e is
            # already materialized by the probe above — no second scan.
            matched = hits_e
            m = matched.count()
            if m:
                hit = F.broadcast(matched.withColumn("_hit", F.lit(True)))
                e = self.graph.edge_frames[etype]
                e2 = e.join(hit, ["src", "dst"], "left")
                for it in clause.on_match:
                    if it.kind != "prop":
                        raise MutationError("ON MATCH SET supports property items only")
                    if rel.var and it.var != rel.var:
                        raise MutationError(
                            f"ON MATCH SET target {it.var!r} is not the merged relationship"
                        )
                    old = F.col(it.key) if it.key in e.columns else F.lit(None)
                    e2 = e2.withColumn(
                        it.key,
                        F.when(F.col("_hit"), self._expr(it.expr, e2)).otherwise(old),
                    )
                    self.stats["properties_set"] += m
                self.graph = self.graph.with_edges(
                    etype, e2.drop("_hit").localCheckpoint(eager=True)
                )

    # -- DELETE ----------------------------------------------------------

    def delete(self, clause: P.DeleteClause) -> None:
        df, scope = self._bindings()
        for var in clause.vars:
            info = scope.get(var) if scope else None
            if info is None:
                raise MutationError(f"DELETE of unbound variable {var!r}")
            if info.kind == "node":
                ids, n = _sized(df.select(F.col(_p(var, "id")).cast("long").alias("id")).distinct())
                labels = [info.label] if info.label else list(self.graph.node_frames)
                for lbl in labels:
                    if lbl in self.graph.node_frames:
                        self.graph = self.graph.delete_nodes(lbl, ids, detach=clause.detach)
                self.stats["nodes_deleted"] += n
            elif info.kind == "edge":
                pairs, _n = _sized(
                    df.select(
                        F.col(_p(var, "src")).alias("src"),
                        F.col(_p(var, "dst")).alias("dst"),
                    ).distinct()
                )
                keys = self._frame(pairs)
                etypes = [info.label] if info.label else list(self.graph.edge_frames)
                for t in etypes:
                    e = self.graph.edge_frames[t]
                    # one scan counts the removed rows (parallel edges too)
                    self.stats["relationships_deleted"] += e.join(
                        keys, ["src", "dst"], "left_semi"
                    ).count()
                    self.graph = self.graph.delete_edges(t, pairs)
            else:
                raise MutationError(f"cannot DELETE value variable {var!r}")

    # -- SET / REMOVE ----------------------------------------------------

    def _patch(self, labels: list[str], upd: DataFrame, values) -> None:
        """Apply one patch per label: ``upd`` is a materialized frame with
        ``id``; ``values(frame)`` gives, for that label's frame, the
        (property, value Column, written-flag Column) triples."""
        for lbl in labels:
            frame = self.graph.node_frames[lbl]
            cols = [F.col("id")]
            for k, val, flag in values(frame):
                cols += [val.alias(k), flag.alias(set_flag(k))]
            if len(cols) > 1:
                self.graph = self.graph.patch_nodes(lbl, upd.select(*cols))

    def set_items(self, items: list[P.SetItem]) -> None:
        df, scope = self._bindings()
        for it in items:
            info = scope.get(it.var) if scope else None
            if info is None or info.kind != "node":
                raise MutationError(f"SET target {it.var!r} must be a bound node")
            labels = [info.label] if info.label else list(self.graph.node_frames)
            if it.kind == "label":
                # AddLabelOperator (mutation.rs:575): copy rows into the
                # target label frame
                ids = df.select(F.col(_p(it.var, "id")).alias("id")).distinct()
                for lbl in labels:
                    rows = self.graph.node_frames[lbl].join(ids, "id", "left_semi")
                    rows = rows.localCheckpoint(eager=False)
                    cnt = rows.count()
                    if cnt:
                        self.graph = self.graph.merge_nodes(it.key, rows, keys=["id"], same_ids=True)
                        self.stats["labels_added"] += cnt
            elif it.kind in ("merge_props", "all_props"):
                # SET n += {..} (MergeProperties, ast.rs:323) and
                # SET n = {..} (AllProperties, ast.rs:316). Merge sets the
                # listed keys; replace additionally nulls every other
                # property column on the matched rows. Values may
                # reference bound vars (n += {t: n.a + 1}).
                if isinstance(it.expr, E.MapLit):
                    entries = list(it.expr.items)
                elif isinstance(it.expr, E.Param):
                    # SET n += $props with a map-valued parameter
                    val = self.params.get(it.expr.name)
                    if not isinstance(val, dict):
                        raise MutationError(
                            f"SET n = / n += parameter ${it.expr.name} must be a map"
                        )
                    entries = [(k, E.Lit(v)) for k, v in val.items()]
                else:
                    raise MutationError(
                        "SET n = / n += requires a map literal or map parameter"
                    )
                keys = [k for k, _ in entries]
                # the constant __hit agg keeps groupBy().agg() legal for the
                # degenerate empty map (SET n += {} is a no-op; SET n = {}
                # still nulls the other columns)
                upd, n = _sized(
                    df.select(
                        F.col(_p(it.var, "id")).alias("id"),
                        *[self._expr(v, df).alias(f"__new_{k}") for k, v in entries],
                    )
                    .groupBy("id")
                    .agg(
                        F.max(F.lit(True)).alias("__hit"),
                        *[F.max(f"__new_{k}").alias(f"__new_{k}") for k in keys],
                    )
                )
                upd = self._frame(upd)
                self.stats["properties_set"] += n * len(keys)
                replace_all = it.kind == "all_props"

                def values(frame, keys=keys, upd=upd, replace_all=replace_all):
                    out = []
                    for k in keys:
                        new = F.col(f"__new_{k}")
                        # a null map value keeps the old value under +=
                        # (the engine's SET-null convention, see 'prop')
                        out.append((k, new, F.lit(True) if replace_all else new.isNotNull()))
                    if replace_all:
                        # the replace form also WRITES (nulls) every other
                        # property column on matched rows — openCypher-style
                        # counters include those removals in properties_set
                        nulled = [
                            f
                            for f in frame.schema.fields
                            if f.name != "id" and not f.name.startswith("_") and f.name not in keys
                        ]
                        if nulled:
                            matched = frame.join(upd, "id", "left_semi").count()
                            self.stats["properties_set"] += matched * len(nulled)
                        out += [(f.name, F.lit(None).cast(f.dataType), F.lit(True)) for f in nulled]
                    return out

                self._patch(labels, upd, values)
            else:
                upd, n = _sized(
                    df.select(
                        F.col(_p(it.var, "id")).alias("id"),
                        self._expr(it.expr, df).alias("__new"),
                    )
                    .groupBy("id")
                    .agg(F.max("__new").alias("__new"))
                )
                self.stats["properties_set"] += n
                new = F.col("__new")
                # SET n.k = null keeps the old value (the engine's SET-null
                # convention): only non-null values are written
                self._patch(
                    labels, self._frame(upd), lambda frame, k=it.key: [(k, new, new.isNotNull())]
                )

    def remove_items(self, items: list[P.SetItem]) -> None:
        df, scope = self._bindings()
        for it in items:
            info = scope.get(it.var) if scope else None
            if info is None or info.kind != "node":
                raise MutationError(f"REMOVE target {it.var!r} must be a bound node")
            ids, _n = _sized(df.select(F.col(_p(it.var, "id")).cast("long").alias("id")).distinct())
            if it.kind == "label":
                # RemoveLabelOperator (mutation.rs:660): drop rows from the
                # label frame (nodes keep existing under other labels)
                if it.key in self.graph.node_frames:
                    frame = self.graph.node_frames[it.key]
                    self.stats["labels_removed"] += frame.join(
                        self._frame(ids), "id", "left_semi"
                    ).count()
                    self.graph = self.graph.delete_nodes(it.key, ids, detach=False)
            else:
                labels = [info.label] if info.label else list(self.graph.node_frames)

                def values(frame, k=it.key):
                    if k not in frame.columns:
                        return []
                    return [(k, F.lit(None).cast(frame.schema[k].dataType), F.lit(True))]

                self._patch(labels, self._frame(ids), values)
                self.stats["properties_set"] += 1

    def _apply_set_to_ids(self, label: str, ids, items: list[P.SetItem], var) -> None:
        """ON MATCH / ON CREATE SET of constant-valued items on ``ids`` (a
        frame or Rows of ``id``)."""
        ids = self._frame(ids)
        for it in items:
            if it.kind != "prop":
                raise MutationError("ON MATCH/CREATE SET supports property items only")
            ok, val = self._const(it.expr)
            if not ok:
                val = self.spark.range(1).select(self._expr(it.expr, self.spark.range(1))).collect()[0][0]
            frame = self.graph.node_frames[label]
            self.graph = self.graph.patch_nodes(
                label,
                ids.select(
                    "id", _typed_lit(val, frame, it.key).alias(it.key), F.lit(True).alias(set_flag(it.key))
                ),
            )
            self.stats["properties_set"] += 1


def _sized(df: DataFrame) -> tuple["Rows | DataFrame", int]:
    """The frame's rows and their count: held in Python when few (one
    job), else checkpointed (one job) and counted (one more)."""
    rows = Rows.of(df)
    if rows is not None:
        return rows, len(rows)
    df = df.localCheckpoint(eager=True)
    return df, df.count()


def _typed_lit(val, frame: DataFrame, key: str):
    """A literal for property ``key``: a null or a number takes the
    column's type when the frame has it (so patches merge without
    widening), else ``createDataFrame``'s inferred type."""
    from pyspark.sql.types import NumericType

    from grafeo_spark.graph import infer_type

    t = infer_type(val)
    have = frame.schema[key].dataType if key in frame.columns else None
    if val is None:
        return F.lit(None).cast(have or "string")
    if have is not None and isinstance(have, NumericType) and isinstance(t, NumericType):
        return F.lit(val).cast(have)
    return F.lit(val).cast(t) if t is not None else F.lit(val)
