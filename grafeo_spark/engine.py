"""GrafeoSpark — the session-level API.

The Spark-native analogue of the reference's ``GrafeoDB`` + ``Session``
(crates/grafeo-engine/src/database.rs, session.rs): holds a PropertyGraph
(and optionally a TripleStore), compiles query strings through the
language front-ends into the shared logical IR, and hands Catalyst the
resulting DataFrame plan. A small LRU plan cache mirrors the reference's
parsed-plan cache (query/cache.rs) — it caches *translated IR*, not
DataFrames, since Catalyst re-optimizes per parameter binding anyway.
"""

from __future__ import annotations

from functools import lru_cache
from typing import Any

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from grafeo_spark.graph import PropertyGraph, TripleStore
from grafeo_spark.plans.compiler import Compiler

_ID = StructType([StructField("id", LongType(), True)])


@lru_cache(maxsize=256)
def _parse_and_translate(query: str):
    from grafeo_spark.lang.cypher import parse, translate
    from grafeo_spark.plans.rewrite import optimize

    return optimize(translate(parse(query)))


def _parse_fresh(query: str):
    from grafeo_spark.lang.cypher import parse

    return parse(query)


_ASYNC_POOL = None
_ASYNC_POOL_LOCK = __import__("threading").Lock()


def _async_pool():
    """Shared executor for execute_async futures (created on first use;
    lock-guarded — execute_async exists to be called from concurrent
    contexts, so the lazy init must not race two pools into existence)."""
    global _ASYNC_POOL
    with _ASYNC_POOL_LOCK:
        if _ASYNC_POOL is None:
            from concurrent.futures import ThreadPoolExecutor

            _ASYNC_POOL = ThreadPoolExecutor(
                max_workers=8, thread_name_prefix="grafeo-async"
            )
    return _ASYNC_POOL


class GrafeoSpark:
    def __init__(
        self,
        spark: SparkSession,
        graph: PropertyGraph | None = None,
        triples: TripleStore | None = None,
    ) -> None:
        self.spark = spark
        self.graph = graph
        self.triples = triples
        # GQL DDL schema registry (gql/ast.rs:335-403), populated lazily
        self.ddl = None
        # snapshot path when saved/opened (info()'s is_persistent flag)
        self._path: str | None = None

    # -- query front-ends -------------------------------------------------

    def cypher(self, query: str, params: dict[str, Any] | None = None) -> DataFrame:
        """Execute an openCypher query (session.execute_cypher analogue).
        Write statements (CREATE/MERGE/SET/REMOVE/DELETE) mutate
        ``self.graph`` functionally and return a summary frame."""
        if self.graph is None:
            raise ValueError("no property graph attached")
        from grafeo_spark.lang.cypher import mutations

        uq = _parse_fresh(query)
        if mutations.is_mutation(uq):
            return mutations.execute(self, uq, params or {})
        plan = _parse_and_translate(query)
        return Compiler(self.graph, self.spark, params).compile(plan)

    def explain(
        self, query: str, params: dict[str, Any] | None = None, mode: str = "formatted"
    ) -> str:
        """The Catalyst plan for a Cypher/GQL read query (the engine's
        EXPLAIN surface): what the reference's plan printer shows, here
        the real physical plan — scan pushdowns, join strategies,
        whole-stage codegen spans — for plan audits without executing."""
        df = self.cypher(query, params)
        try:
            return df._jdf.queryExecution().explainString(
                self.spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode)
            )
        except AttributeError:
            # Spark Connect: no _jdf/_jvm — capture the public-API
            # df.explain(mode) output instead (same text, via stdout)
            import contextlib
            import io

            buf = io.StringIO()
            with contextlib.redirect_stdout(buf):
                df.explain(mode=mode)
            return buf.getvalue()

    def gql(self, query: str, params: dict[str, Any] | None = None) -> DataFrame:
        """GQL shares the Cypher grammar subset (the reference's two
        translators are near-twins; SURVEY.md §3.2), plus the DDL forms
        CREATE NODE TYPE / EDGE TYPE / VECTOR INDEX (gql/ast.rs:335-403)
        lowered onto the schema registry."""
        from grafeo_spark.lang.ddl import execute_ddl, is_ddl

        if is_ddl(query):
            return execute_ddl(self, query)
        return self.cypher(query, params)

    execute = gql  # reference default language is GQL (session.execute)

    def execute_async(self, query: str, params: dict[str, Any] | None = None):
        """Asynchronous execution (execute_async / AsyncQueryResult,
        bindings/python/src/database.rs:28,249): the query compiles on the
        calling thread — parse/translate errors surface immediately, as in
        the reference — and the action runs on a shared background thread.
        Returns a ``concurrent.futures.Future`` whose result is the row
        list. Spark schedules jobs submitted from different threads
        concurrently, so several in-flight futures overlap their stages.
        Mutation statements execute their writes during compilation (the
        functional-mutation model is eager) and the future resolves to
        their summary rows."""
        df = self.gql(query, params)
        return _async_pool().submit(df.collect)

    def gremlin(self, query: str) -> DataFrame:
        """Execute a Gremlin traversal string (execute_gremlin analogue,
        gremlin_translator.rs:21). Use ``.g`` for the fluent form."""
        from grafeo_spark.lang.gremlin import execute, traversal

        return execute(traversal(self.graph, self), query).toDF()

    @property
    def g(self):
        """Fluent Gremlin traversal source (GraphTraversalSource); mutation
        steps (addV/addE/property/drop) rebind ``self.graph``."""
        from grafeo_spark.lang.gremlin import traversal

        return traversal(self.graph, self)

    def graphql(self, query: str, variables: dict[str, Any] | None = None) -> DataFrame:
        """Execute a GraphQL operation (execute_graphql analogue,
        graphql_translator.rs:28): root field -> label scan, args ->
        filters (equality + operator suffixes), nested selections -> edge
        expansions, scalars -> columns; fragments and ``$variables``
        resolve before compilation; ``mutation { create/update/deleteX }``
        rebinds the graph functionally."""
        from grafeo_spark.lang.graphql import execute

        return execute(self.graph, query, variables=variables, db=self)

    def graphql_rdf(
        self,
        query: str,
        namespace: str = "http://example.org/",
        variables: dict[str, Any] | None = None,
    ) -> DataFrame:
        """GraphQL over the RDF triple store (graphql_rdf_translator.rs):
        root field -> rdf:type pattern, args -> property equality, nested
        selections -> predicate traversals; compiled through the SPARQL
        group compiler."""
        if self.triples is None:
            raise ValueError("no triple store attached")
        from grafeo_spark.lang.graphql import execute_rdf

        return execute_rdf(self.triples, query, namespace=namespace, variables=variables)

    def sparql(self, query: str) -> DataFrame:
        """Execute a SPARQL SELECT over the attached TripleStore
        (session.execute_sparql analogue, processor.rs:300-331)."""
        if self.triples is None:
            raise ValueError("no triple store attached")
        from grafeo_spark.lang.sparql import sparql as _run

        return _run(self.triples, query)

    # store re-bases (updates whose result is not the old base plus one
    # write delta — CLEAR, COPY/MOVE/ADD GRAPH) tolerated before the
    # store's lineage is folded into a flat leaf (lazy checkpoint)
    _UPDATE_CHECKPOINT_EVERY = 8

    def sparql_update(self, query: str) -> None:
        """Apply a SPARQL update (INSERT/DELETE DATA, DELETE WHERE,
        DELETE/INSERT WHERE, CLEAR/COPY/MOVE/ADD/... GRAPH) to the attached
        TripleStore, replacing it with the updated store (immutable-store
        semantics, like the Cypher write path). Inserted and deleted
        triples merge into the store's one write delta (TripleStore), so
        data updates leave the store's plan the same size; every
        _UPDATE_CHECKPOINT_EVERY re-basing updates the accumulated layers
        are folded into a flat leaf to bound plan depth."""
        if self.triples is None:
            raise ValueError("no triple store attached")
        from grafeo_spark.lang.sparql import sparql_update as _run

        new = _run(self.triples, query)
        if new.base is not self.triples.base:
            self._update_layers = getattr(self, "_update_layers", 0) + 1
            if self._update_layers >= self._UPDATE_CHECKPOINT_EVERY:
                new = TripleStore(new.df.localCheckpoint(eager=False))
                self._update_layers = 0
        self.triples = new

    # -- direct store API (database.rs:618-931 'side door') ---------------

    def nodes(self, label: str | None = None) -> DataFrame:
        return self.graph.nodes(label)

    def edges(self, etype: str | None = None) -> DataFrame:
        return self.graph.edges(etype)

    # -- vector search (database.rs:1128 vector_search analogue) ----------

    def vector_index_for(self, label: str, vec_col: str):
        """The declared vector index covering (label, column), if any —
        DDL-registered via CREATE VECTOR INDEX (database.rs:1021 index
        lookup analogue)."""
        if self.ddl is None:
            return None
        for vi in self.ddl.vector_indexes.values():
            if vi.label == label and vi.column == vec_col:
                return vi
        return None

    def vector_search(
        self,
        label: str,
        query_vec,
        k: int = 10,
        vec_col: str = "embedding",
        metric: str | None = None,
        approximate: bool | None = None,
    ) -> DataFrame:
        """Top-k nearest nodes of ``label`` by vector distance.

        When a CREATE VECTOR INDEX declaration covers (label, vec_col),
        the defaults route through it: SRP-LSH bucketing with the index's
        declared metric (the HNSW substitute, SURVEY.md §2.11) — at scale
        the default must be the bucketed path, not a full scan per query
        (database.rs:1128 routes through the declared index the same way).
        With no index, the default is the exact brute-force scan
        (scan_vector.rs brute path). Pass ``approximate`` explicitly to
        override either way."""
        from grafeo_spark.llm.similarity import ann_topk, topk

        idx = self.vector_index_for(label, vec_col)
        if metric is None:
            metric = idx.metric if idx is not None else "cosine"
        if approximate is None:
            approximate = idx is not None
        nodes = self.graph.nodes(label)
        fn = ann_topk if approximate else topk
        return fn(nodes, query_vec, k=k, id_col="id", vec_col=vec_col, metric=metric)

    def batch_vector_search(
        self,
        label: str,
        queries: DataFrame,
        k: int = 10,
        query_id: str = "id",
        query_vec: str = "embedding",
        vec_col: str = "embedding",
        metric: str | None = None,
        approximate: bool | None = None,
    ) -> DataFrame:
        """Top-k nearest nodes of ``label`` for EVERY query row
        (database.rs:1220 batch_vector_search): returns (qid, iid, score,
        rank). Routing matches :meth:`vector_search` — a declared vector
        index makes the SRP-bucketed k-NN join the default (shuffle ∝
        bucket occupancy); without one the exact n×m join runs."""
        from grafeo_spark.llm.similarity import ann_join, similarity_join

        idx = self.vector_index_for(label, vec_col)
        if metric is None:
            metric = idx.metric if idx is not None else "cosine"
        if approximate is None:
            approximate = idx is not None
        # project to exactly (id, vector) before any rename — a stray
        # pre-existing column named vec_col would otherwise become an
        # ambiguous duplicate
        from pyspark.sql import functions as F

        q = queries.select(
            F.col(query_id), F.col(query_vec).alias(vec_col)
        )
        fn = ann_join if approximate else similarity_join
        return fn(
            q,
            self.graph.nodes(label),
            k=k,
            query_id=query_id,
            item_id="id",
            vec_col=vec_col,
            metric=metric,
        )

    # -- algorithm plugin surface (plugins/traits.rs via bridges/algorithms.rs)

    # -- property indexes (database.rs:785, 10-20x direct-API lookups in
    # the reference; here a declaration only — equality lookups are served
    # by Parquet row-group stats / partition pruning, SURVEY §4) ---------

    def _registry(self):
        from grafeo_spark.lang.ddl import SchemaRegistry

        if self.ddl is None:
            self.ddl = SchemaRegistry()
        return self.ddl

    def create_property_index(self, prop: str) -> None:
        """Declare a property index (create_property_index analogue).
        No runtime structure is built: the Spark-native equivalents —
        pushed predicates against Parquet row-group min/max, partition
        and bucket pruning — activate from the declarative plan alone.
        The declaration is recorded so ``schema()``/``stats()`` report
        it, mirroring the reference CLI's index listing."""
        self._registry().property_indexes.add(prop)

    def drop_property_index(self, prop: str) -> None:
        self._registry().property_indexes.discard(prop)

    def has_property_index(self, prop: str) -> bool:
        return self.ddl is not None and prop in self.ddl.property_indexes

    def get_node(self, node_id, label: str | None = None):
        """Single-node point lookup — the reference binding's get_node
        (database.rs:618; tests/python/bases/test_filters.py:92-107):
        returns the node Row, or None when the id doesn't exist. A
        deliberate driver-side single-row fetch (the side-door contract);
        use graph.node()/nodes() for set-at-a-time access."""
        rows = self.graph.node(node_id, label).limit(1).collect()
        return rows[0] if rows else None

    def get_edge(self, edge_id, etype: str | None = None):
        """Single-edge point lookup by id — get_edge analogue
        (test_filters.py:109-126): the edge Row, or None. Edge frames
        without an ``id`` column contribute no rows."""
        rows = self.graph.edge(edge_id, etype).limit(1).collect()
        return rows[0] if rows else None

    def find_nodes_by_property(self, prop: str, value, label: str | None = None) -> DataFrame:
        """Nodes whose ``prop`` equals ``value`` (find_nodes_by_property
        analogue, database.rs:969 — which returns bare ids; this returns
        the full node rows, a DataFrame being the natural result shape).
        Labels without the property are skipped, and a property no label
        carries (or an unknown label / a label lacking the property)
        yields an EMPTY result, matching the reference's empty-vec
        behavior for lookup misses rather than raising."""
        from pyspark.sql import functions as F

        def _empty(lbl: str | None) -> DataFrame:
            base = (
                self.graph.nodes(lbl)
                if lbl in self.graph.node_frames
                else self.graph.nodes(None)
            )
            if prop not in base.columns:
                # hit and miss paths must share a schema: downstream code
                # selecting the looked-up prop works either way
                base = base.withColumn(prop, F.lit(None))
            return base.filter(F.lit(False))

        if label is not None:
            if (
                label not in self.graph.node_frames
                or prop not in self.graph.node_frames[label].columns
            ):
                return _empty(label)
            return self.graph.nodes(label).filter(F.col(prop) == F.lit(value))
        out = None
        for lbl in self.graph.labels():
            f = self.graph.node_frames[lbl]
            if prop not in f.columns:
                continue
            cur = self.graph.nodes(lbl).filter(F.col(prop) == F.lit(value))
            out = cur if out is None else out.unionByName(cur, allowMissingColumns=True)
        if out is None:
            return _empty(None)
        return out

    # -- direct point mutations (database.rs:618-931 'side door';
    # reference surface: tests/python/lpg/gql/test_property_apis.py) -----

    @staticmethod
    def _value_column(value):
        """A typed Column literal for a Python value. Dicts become typed
        STRUCTS (the typed-model shape of the reference's heterogeneous
        maps — field access `m.x` keeps each field's own type);
        homogeneous lists become arrays; heterogeneous lists degrade to
        array<string> (a typed column must have one element type)."""
        from pyspark.sql import functions as F

        if isinstance(value, dict):
            return F.struct(
                *[GrafeoSpark._value_column(v).alias(str(k)) for k, v in value.items()]
            )
        if isinstance(value, (list, tuple)):
            vals = list(value)
            if not vals:
                return F.lit([]).cast("array<string>")
            if any(type(v) is not type(vals[0]) for v in vals):
                return F.array(*[F.lit(str(v)) for v in vals])
            return F.array(*[GrafeoSpark._value_column(v) for v in vals])
        return F.lit(value)

    def _node_labels_of(self, node_id) -> list[str]:
        """Labels whose frame contains the id — ONE union-of-point-lookups
        job (Parquet row-group stats make each branch a data-skipping
        scan at rest)."""
        from pyspark.sql import functions as F

        out = None
        for lbl, f in self.graph.node_frames.items():
            cur = f.filter(F.col("id") == F.lit(node_id)).select(F.lit(lbl).alias("l"))
            out = cur if out is None else out.unionAll(cur)
        if out is None:
            return []
        return sorted(r.l for r in out.collect())

    def _edge_type_of(self, edge_id) -> str | None:
        """The edge type whose frame contains the id (frames without an
        ``id`` column cannot match — reference ids are store-assigned,
        ours are whatever the user loaded)."""
        from pyspark.sql import functions as F

        out = None
        for t, f in self.graph.edge_frames.items():
            if "id" not in f.columns:
                continue
            cur = f.filter(F.col("id") == F.lit(edge_id)).select(F.lit(t).alias("t"))
            out = cur if out is None else out.unionAll(cur)
        if out is None:
            return None
        rows = out.limit(1).collect()
        return rows[0].t if rows else None

    @staticmethod
    def _with_prop(frame: DataFrame, row_id, key: str, value_col) -> DataFrame:
        """One-frame conditional rewrite: set ``key`` to ``value_col`` on
        the row with this id, preserving every other row (the same shape
        the Cypher SET path builds; lineage truncated lazily so repeated
        point mutations don't stack an unbounded plan)."""
        from pyspark.sql import functions as F

        cond = F.col("id") == F.lit(row_id)
        if key in frame.columns:
            from pyspark.sql.types import NullType, NumericType

            cur_t = frame.schema[key].dataType
            try:
                new_t = frame.select(value_col.alias("_v")).schema[0].dataType
            except Exception:
                new_t = None
            compatible = (
                new_t is None
                or isinstance(new_t, NullType)
                or new_t == cur_t
                or (isinstance(new_t, NumericType) and isinstance(cur_t, NumericType))
            )
            if compatible:
                new = F.when(cond, value_col).otherwise(F.col(key))
            else:
                # permissive retyping (the reference store is schemaless per
                # node, database.rs:618-660 — setting a string over a long
                # property just works): a typed column can't host both, so
                # rewrite the WHOLE column through string, the common type
                # every value casts to. Plan-time analysis can't catch this
                # (ANSI implicitly coerces string->bigint and only fails at
                # RUNTIME on non-numeric text), hence the dtype comparison.
                new = F.when(cond, value_col.cast("string")).otherwise(
                    F.col(key).cast("string")
                )
        else:
            new = F.when(cond, value_col)
        return frame.withColumn(key, new).localCheckpoint(eager=False)

    def set_node_property(self, node_id, key: str, value) -> None:
        """Set one property on one node (set_node_property,
        database.rs:618-660). Silent no-op when the id doesn't exist,
        matching the reference binding (test_property_apis.py:472)."""
        col = self._value_column(value)
        for lbl in self._node_labels_of(node_id):
            self.graph = self.graph.with_nodes(
                lbl,
                self._with_prop(self.graph.node_frames[lbl], node_id, key, col),
                ids_disjoint=True,
                same_ids=True,
            )

    def remove_node_property(self, node_id, key: str) -> bool:
        """Remove one property from one node; True iff the node existed
        AND carried a non-null value for ``key`` (database.rs:662-700;
        test_property_apis.py:109-122). In the typed model removal sets
        the column to null on that row (absent == null, lpg/node.rs)."""
        from pyspark.sql import functions as F

        labels = self._node_labels_of(node_id)
        had = False
        for lbl in labels:
            f = self.graph.node_frames[lbl]
            if key not in f.columns:
                continue
            cur = f.filter(
                (F.col("id") == F.lit(node_id)) & F.col(key).isNotNull()
            ).limit(1)
            if cur.count() > 0:
                had = True
            self.graph = self.graph.with_nodes(
                lbl,
                self._with_prop(f, node_id, key, F.lit(None)),
                ids_disjoint=True,
                same_ids=True,
            )
        return had

    def set_edge_property(self, edge_id, key: str, value) -> None:
        """Set one property on one edge (database.rs:702-740). Silent
        no-op when the id doesn't exist (test_property_apis.py:476)."""
        t = self._edge_type_of(edge_id)
        if t is None:
            return
        self.graph = self.graph.with_edges(
            t, self._with_prop(self.graph.edge_frames[t], edge_id, key, self._value_column(value))
        )

    def remove_edge_property(self, edge_id, key: str) -> bool:
        """Remove one property from one edge; True iff the edge existed
        and carried a non-null value (database.rs:742-780)."""
        from pyspark.sql import functions as F

        t = self._edge_type_of(edge_id)
        if t is None:
            return False
        f = self.graph.edge_frames[t]
        if key not in f.columns:
            return False
        had = (
            f.filter((F.col("id") == F.lit(edge_id)) & F.col(key).isNotNull())
            .limit(1)
            .count()
            > 0
        )
        self.graph = self.graph.with_edges(
            t, self._with_prop(f, edge_id, key, F.lit(None))
        )
        return had

    def add_node_label(self, node_id, label: str) -> bool:
        """Add a label to an existing node; False when the node doesn't
        exist or already carries the label (database.rs:782-830;
        test_property_apis.py:168-182). Label partitioning makes this a
        one-row append to the target label frame — the node's merged
        property row flows in as a DataFrame, no driver materialization."""
        from pyspark.sql import functions as F

        labels = self._node_labels_of(node_id)
        if not labels or label in labels:
            return False
        row = (
            self.graph.nodes(None)
            .filter(F.col("id") == F.lit(node_id))
            .drop("_label", "_labels")
        )
        self.graph = self.graph.create_nodes(
            label, row.localCheckpoint(eager=False), ids_disjoint=False
        )
        return True

    def remove_node_label(self, node_id, label: str) -> bool:
        """Remove a label from a node; False when the node doesn't carry
        it (database.rs:832-880). Removing the row from that label's
        frame IS the label removal — the node lives on under its other
        labels (and disappears entirely when this was the last one,
        matching the reference's empty-label-set node)."""
        from pyspark.sql import functions as F

        if label not in self.graph.node_frames:
            return False
        f = self.graph.node_frames[label]
        if f.filter(F.col("id") == F.lit(node_id)).limit(1).count() == 0:
            return False
        from grafeo_spark.graph import Rows

        ids = Rows(_ID, [(node_id,)])
        self.graph = self.graph.delete_nodes(label, ids, detach=False)
        return True

    def get_node_labels(self, node_id) -> list[str] | None:
        """The node's label set, or None when the id doesn't exist
        (database.rs:882-931; test_property_apis.py:200-210)."""
        labels = self._node_labels_of(node_id)
        return labels or None

    def create_node(self, labels, properties: dict | None = None):
        """Create one node with the given label(s) and properties; returns
        a Row with the assigned ``id`` (create_node binding,
        database.rs:618 family). The id comes from the graph's carried id
        mark, shared with the query-language mutation paths; the row is a
        JVM local relation, so the create runs no Spark job."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from grafeo_spark.graph import Rows

        if isinstance(labels, str):
            labels = [labels]
        g = self.graph
        nid = g.next_node_id()
        props = properties or {}
        rows = Rows.of_dicts([{"id": nid, **props}])
        if rows is None:
            # dict / mixed-list values: typed struct and array columns
            rows = self.spark.range(1).select(
                F.lit(nid).cast("long").alias("id"),
                *[self._value_column(v).alias(k) for k, v in props.items()],
            )
        for lbl in labels:
            g = g.create_nodes(lbl, rows, ids_disjoint=(len(labels) == 1), next_id=nid + 1)
        self.graph = g
        return Row(id=nid, labels=tuple(labels))

    def create_edge(self, src_id, dst_id, etype: str, properties: dict | None = None):
        """Create one edge; returns a Row with the assigned ``id``
        (create_edge binding). Edge ids come from the graph's carried
        edge-id mark over the typed frames that carry an ``id`` column."""
        from pyspark.sql import Row
        from pyspark.sql import functions as F

        from grafeo_spark.graph import Rows

        eid = self.graph.next_edge_id()
        props = properties or {}
        like = self.graph.edge_frames.get(etype)
        rows = Rows.of_dicts(
            [{"id": eid, "src": src_id, "dst": dst_id, **props}],
            like.schema if like is not None else None,
        )
        if rows is None:
            rows = self.spark.range(1).select(
                F.lit(eid).cast("long").alias("id"),
                F.lit(src_id).cast("long").alias("src"),
                F.lit(dst_id).cast("long").alias("dst"),
                *[self._value_column(v).alias(k) for k, v in props.items()],
            )
        self.graph = self.graph.create_edges(etype, rows, next_edge_id=eid + 1)
        return Row(id=eid, src=src_id, dst=dst_id, edge_type=etype)

    def delete_node(self, node_id) -> bool:
        """Delete one node (detaching its edges); False when the id
        doesn't exist (delete_node binding; test_property_apis.py:354)."""
        labels = self._node_labels_of(node_id)
        if not labels:
            return False
        from grafeo_spark.graph import Rows

        ids = Rows(_ID, [(node_id,)])
        for lbl in labels:
            self.graph = self.graph.delete_nodes(lbl, ids, detach=True)
        return True

    def delete_edge(self, edge_id) -> bool:
        """Delete one edge by id; False when the id doesn't exist
        (delete_edge binding; test_property_apis.py:342-352)."""
        from pyspark.sql import functions as F

        t = self._edge_type_of(edge_id)
        if t is None:
            return False
        f = self.graph.edge_frames[t]
        self.graph = self.graph.with_edges(
            t, f.filter(F.col("id") != F.lit(edge_id)).localCheckpoint(eager=False)
        )
        return True

    def create_vector_index(
        self,
        label: str,
        column: str,
        metric: str = "cosine",
        dimensions: int | None = None,
        m: int | None = None,
        ef_construction: int | None = None,
        name: str | None = None,
    ) -> None:
        """Programmatic vector-index declaration (create_vector_index
        binding, database.rs:1021; reference surface
        tests/python/lpg/gql/test_vectors.py:222-289) — same registry the
        GQL ``CREATE VECTOR INDEX`` DDL populates, so vector_search's
        approximate default routing applies either way. Validates like
        the reference: unknown metric, vector-less label/column, and a
        declared-dimension mismatch all raise RuntimeError. HNSW tuning
        knobs (m, ef_construction) are ACCEPTED for surface parity and
        ignored: the Spark substitute — multi-table SRP probing over a
        broadcast plane tensor — has no graph to tune (SURVEY §2.11)."""
        from pyspark.sql import functions as F
        from pyspark.sql.types import ArrayType

        from grafeo_spark.lang.ddl import VectorIndexDef
        from grafeo_spark.llm.similarity import METRICS

        if metric not in METRICS:
            raise RuntimeError(
                f"Unknown distance metric {metric!r}: expected one of {sorted(METRICS)}"
            )
        nodes = self.graph.nodes(label) if label in self.graph.node_frames else None
        field = (
            next((f for f in nodes.schema.fields if f.name == column), None)
            if nodes is not None
            else None
        )
        if field is None or not isinstance(field.dataType, ArrayType):
            raise RuntimeError(f"No vector properties at {label}.{column}")
        sample = (
            nodes.filter(F.col(column).isNotNull())
            .select(F.size(column).alias("d"))
            .limit(1)
            .collect()
        )
        if not sample:
            raise RuntimeError(f"No vector properties at {label}.{column}")
        actual = sample[0].d
        if dimensions is not None and dimensions != actual:
            raise RuntimeError(
                f"dimension mismatch: declared {dimensions}, stored vectors have {actual}"
            )
        name = name or f"{label}_{column}_idx"
        self._registry().vector_indexes[name] = VectorIndexDef(
            name, label, column, dimensions or actual, metric
        )

    def batch_create_nodes(self, label: str, column: str, vectors) -> list[int]:
        """Create one node per vector under the given label; returns the
        assigned ids in input order (batch_create_nodes binding,
        test_vectors.py:356-380). ONE frame append — the set-at-a-time
        shape, not a per-vector loop."""
        if not vectors:
            return []
        from grafeo_spark.graph import DELTA_ROWS, Rows

        base = self.graph.next_node_id()
        ids = list(range(base, base + len(vectors)))
        schema = StructType(
            [StructField("id", LongType(), True), StructField(column, ArrayType(DoubleType()), True)]
        )
        data = [(i, [float(x) for x in v]) for i, v in zip(ids, vectors)]
        rows = Rows(schema, data) if len(data) <= DELTA_ROWS else self.spark.createDataFrame(data, schema)
        self.graph = self.graph.create_nodes(label, rows, ids_disjoint=True, next_id=ids[-1] + 1)
        return ids

    def get_nodes_by_label(self, label: str, limit: int | None = None, offset: int = 0):
        """Node rows of one label with deterministic id-ordered pagination
        (get_nodes_by_label binding, test_property_apis.py:264-291).
        offset/limit run inside Spark (Catalyst GlobalLimit) — only the
        requested page is collected."""
        df = self.graph.nodes(label).orderBy("id")
        if offset:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)
        return df.collect()

    def get_property_batch(self, node_ids, key: str) -> list:
        """One property for many nodes, aligned with the input order —
        nulls for missing nodes/properties (get_property_batch binding,
        test_property_apis.py:294-320). One semi-join job, not a per-id
        loop."""
        from pyspark.sql import functions as F

        if not node_ids:
            return []
        merged = self.graph.nodes(None)
        if key not in merged.columns:
            return [None] * len(node_ids)
        from grafeo_spark.graph import local_frame

        ids_df = local_frame(self.spark, [(int(i),) for i in node_ids], "id long")
        got = {
            r.id: r.v
            for r in merged.join(ids_df, "id", "left_semi")
            .select("id", F.col(key).alias("v"))
            .collect()
        }
        return [got.get(i) for i in node_ids]

    def schema(self) -> dict:
        """Schema description (grafeo-cli/src/commands/schema.rs analogue):
        per-label and per-edge-type column->Spark-type maps, the property
        key universe, and declared vector indexes. Metadata-only — reads
        DataFrame schemas, runs no job."""
        out: dict[str, Any] = {"labels": {}, "edge_types": {}, "indexes": []}
        keys: set[str] = set()
        if self.graph is not None:
            for label, f in sorted(self.graph.node_frames.items()):
                out["labels"][label] = {fd.name: fd.dataType.simpleString() for fd in f.schema}
                keys.update(c for c in f.columns if c != "id")
            for etype, f in sorted(self.graph.edge_frames.items()):
                out["edge_types"][etype] = {
                    fd.name: fd.dataType.simpleString() for fd in f.schema
                }
                keys.update(c for c in f.columns if c not in ("src", "dst"))
        if self.triples is not None:
            out["rdf"] = {fd.name: fd.dataType.simpleString() for fd in self.triples.df.schema}
        out["property_keys"] = sorted(keys)
        if self.ddl is not None:
            # one self-describing shape for every entry: absent facets are
            # None, so consumers can iterate without per-kind key checks
            out["indexes"] = [
                {
                    "name": name,
                    "kind": "vector",
                    "label": vi.label,
                    "column": vi.column,
                    "metric": vi.metric,
                }
                for name, vi in sorted(self.ddl.vector_indexes.items())
            ] + [
                {"name": p, "kind": "property", "label": None, "column": p, "metric": None}
                for p in sorted(self.ddl.property_indexes)
            ]
        return out

    def stats(self) -> dict:
        """Database statistics (grafeo-cli/src/commands/{info,stats}.rs
        analogue): node/edge/label/type counts, per-label and per-type row
        counts, property key count, declared index count, triple count.
        All frame counts run as ONE Spark job (a union of per-frame count
        aggregates — the branches scan in parallel and count(*) pushes to
        parquet row-group metadata on unfiltered scans), not one sequential
        job per frame. The WAL/backup/compact CLI surface is
        storage-specific and out of scope (SURVEY.md §2)."""
        from pyspark.sql import functions as F

        per_label: dict[str, int] = {}
        per_type: dict[str, int] = {}
        if self.graph is not None:
            branches = [
                f.agg(
                    F.lit("label").alias("kind"),
                    F.lit(name).alias("name"),
                    F.count("*").alias("n"),
                )
                for name, f in sorted(self.graph.node_frames.items())
            ] + [
                f.agg(
                    F.lit("edge_type").alias("kind"),
                    F.lit(name).alias("name"),
                    F.count("*").alias("n"),
                )
                for name, f in sorted(self.graph.edge_frames.items())
            ]
            if branches:
                u = branches[0]
                for b in branches[1:]:
                    u = u.unionByName(b)
                for kind, name, n in u.collect():
                    (per_label if kind == "label" else per_type)[name] = n
        sc = self.schema()
        return {
            "node_count": sum(per_label.values()),
            "edge_count": sum(per_type.values()),
            "label_count": len(per_label),
            "edge_type_count": len(per_type),
            "per_label": per_label,
            "per_edge_type": per_type,
            "property_key_count": len(sc["property_keys"]),
            "index_count": len(sc["indexes"]),
            "triple_count": self.triples.df.count() if self.triples is not None else 0,
        }

    def info(self) -> dict:
        """Session summary — the reference binding's ``db.info()``
        (grafeo-cli info.rs; python suite test_admin.py:42-77): mode,
        counts, persistence flags, version. ``wal_enabled`` is always
        False: durability here is the versioned-parquet snapshot
        (save/open), the documented WAL substitution (SURVEY §2)."""
        from grafeo_spark import __version__

        s = self.stats()
        return {
            "mode": "lpg" if self.graph is not None else "rdf",
            "node_count": s["node_count"],
            "edge_count": s["edge_count"],
            "is_persistent": self._path is not None,
            "path": self._path,
            "wal_enabled": False,
            "version": __version__,
        }

    def detailed_stats(self) -> dict:
        """:meth:`stats` plus ``memory_bytes`` — the reference's
        detailed_stats (test_admin.py:78-113). ``memory_bytes`` reports
        the Spark block manager's persisted bytes for this session (the
        buffer-manager allocation analogue); 0 when nothing is
        materialized."""
        out = dict(self.stats())
        mem = 0
        try:
            for inf in self.spark.sparkContext._jsc.sc().getRDDStorageInfo():
                mem += inf.memSize()
        except Exception:
            mem = 0
        out["memory_bytes"] = int(mem)
        return out

    def validate(self, sample: int = 5) -> dict:
        """Graph integrity validation (grafeo-cli/src/commands/validate.rs,
        database.rs:1432): dangling edge endpoints are errors, a node-only
        graph is a warning — plus checks the reference doesn't have for
        the DECLARED metadata this engine's compiler exploits: duplicate
        ids within a label frame, a violated ``disjoint_labels``
        assertion, and edges outside their declared endpoint labels.
        Everything is anti-joins and counts (scale-safe); ``sample``
        offending ids are collected per finding for context."""
        from pyspark.sql import functions as F

        errors: list[dict] = []
        warnings: list[dict] = []

        def finding(code: str, message: str, bad, col: str) -> dict:
            ids = [r[0] for r in bad.select(col).limit(sample).collect()]
            return {"code": code, "message": message, "context": ids}

        g = self.graph
        if g is not None and g.node_frames:
            ids = None
            for f in g.node_frames.values():
                cur = f.select("id")
                ids = cur if ids is None else ids.unionByName(cur)
            for t, e in sorted(g.edge_frames.items()):
                for side, code in (("src", "DANGLING_SRC"), ("dst", "DANGLING_DST")):
                    bad = e.select(F.col(side).alias("id")).join(ids, "id", "left_anti")
                    n = bad.count()
                    if n:
                        errors.append(
                            finding(
                                code,
                                f"{n} {t} edge(s) reference a non-existent {side} node",
                                bad, "id",
                            )
                        )
            for label, f in sorted(g.node_frames.items()):
                dup = f.groupBy("id").count().filter(F.col("count") > 1)
                n = dup.count()
                if n:
                    errors.append(
                        finding(
                            "DUPLICATE_ID",
                            f"{n} duplicate id(s) within label {label}",
                            dup, "id",
                        )
                    )
            if g.disjoint_labels and len(g.node_frames) > 1:
                tagged = None
                for label, f in g.node_frames.items():
                    cur = f.select("id", F.lit(label).alias("_l")).distinct()
                    tagged = cur if tagged is None else tagged.unionByName(cur)
                shared = tagged.groupBy("id").count().filter(F.col("count") > 1)
                n = shared.count()
                if n:
                    errors.append(
                        finding(
                            "DISJOINT_LABELS_VIOLATED",
                            f"disjoint_labels is declared but {n} id(s) appear "
                            "under multiple labels (endpoint-label path pruning "
                            "would be unsound)",
                            shared, "id",
                        )
                    )
            for t, (sl, dl) in sorted(g.endpoints.items()):
                if t not in g.edge_frames:
                    continue
                e = g.edge_frames[t]
                for side, idx, code in (
                    ("src", 0, "ENDPOINT_SRC_LABEL"),
                    ("dst", 1, "ENDPOINT_DST_LABEL"),
                ):
                    from grafeo_spark.graph import endpoint_side

                    labels = endpoint_side((sl, dl), idx)
                    if labels is None:
                        continue
                    known = sorted(l for l in labels if l in g.node_frames)
                    if not known:
                        continue
                    ids = g.node_frames[known[0]].select("id")
                    for l in known[1:]:
                        ids = ids.unionByName(g.node_frames[l].select("id"))
                    bad = e.select(F.col(side).alias("id")).join(
                        ids, "id", "left_anti"
                    )
                    n = bad.count()
                    if n:
                        errors.append(
                            finding(
                                code,
                                f"{n} {t} edge(s) have a {side} outside the "
                                f"declared label(s) {'|'.join(known)}",
                                bad, "id",
                            )
                        )
            if g.node_frames and not g.edge_frames:
                warnings.append(
                    {
                        "code": "NO_EDGES",
                        "message": "graph has nodes but no edges",
                        "context": None,
                    }
                )
        return {
            "valid": not errors,
            "error_count": len(errors),
            "warning_count": len(warnings),
            "errors": errors,
            "warnings": warnings,
        }

    def as_solvor(self):
        """solvOR-style OR adapter over the current graph (reference
        bindings/python/src/bridges/solvor.rs surface): shortest paths with
        paths, flows with edge assignments, MST, components, centrality."""
        from grafeo_spark.bridges import SolvORAdapter

        return SolvORAdapter(self.graph)

    def algo(self, name: str, etypes: list[str] | str | None = None, **params):
        """Run a registered graph algorithm over the graph's edge set
        (optionally restricted to edge types). Mirrors the reference's
        Python algorithm bridge (bindings/python/src/bridges/algorithms.rs:50)."""
        from grafeo_spark import algorithms as A

        if etypes is None:
            e = self.graph.edges(None)
        elif isinstance(etypes, str):
            e = self.graph.edges(etypes)
        else:
            e = None
            for t in etypes:
                cur = self.graph.edges(t)
                e = cur if e is None else e.unionByName(cur, allowMissingColumns=True)
        return A.run(name, e, **params)

    # -- session persistence (database.rs:1198 save / GrafeoDB(path) open;
    # snapshot-at-a-path, the versioned-parquet MVCC analogue) -----------

    @property
    def is_persistent(self) -> bool:
        """True when the session is bound to an on-disk snapshot path
        (db.is_persistent binding, test_admin.py surface)."""
        return self._path is not None

    @property
    def path(self) -> str | None:
        """The bound snapshot directory, or None for in-memory sessions."""
        return self._path

    def to_memory(self) -> None:
        """Detach the session from its snapshot path (db.to_memory):
        frames keep working — Spark lineage re-reads lazily until
        materialized — and subsequent ``info()`` reports in-memory. The
        reference copies pages out of the mmap'd store; the functional-
        snapshot equivalent is simply dropping the path binding."""
        self._path = None

    def wal_status(self) -> dict:
        """WAL introspection surface (db.wal_status). This engine has no
        WAL BY DESIGN: durability is the versioned-parquet snapshot
        (save/open) and atomicity is the functional frame swap — the
        documented substitution for the reference's MVCC/WAL stack
        (SURVEY §2/§7). Reports that honestly instead of raising."""
        return {
            "enabled": False,
            "pending_entries": 0,
            "substitute": "versioned-parquet snapshots (save/open)",
        }

    def wal_checkpoint(self) -> int:
        """WAL checkpoint (db.wal_checkpoint): nothing to flush in the
        snapshot model — returns 0 entries checkpointed. Use ``save`` to
        produce a durable snapshot."""
        return 0

    def save(
        self, path: str, mode: str = "overwrite", partitions: int | None = None
    ) -> None:
        """Persist the whole session — graph (with compiler metadata
        manifest), triple store, and DDL registry — under one directory.
        The reference's ``db.save(path)``: the live session is unchanged;
        what lands on disk is a consistent snapshot (immutable frames
        make it consistent by construction). ``mode`` accepts
        ``overwrite`` or ``error``/``errorifexists`` only — appending to
        a snapshot would duplicate frame rows and manifest entries.
        ``partitions`` caps each frame's output file count — for small
        sessions ``partitions=1`` collapses every write to a single-task
        job (per-frame job overhead, not data volume, dominates a small
        save); leave None for large sessions so writes stay parallel."""
        from grafeo_spark.sources import save_graph, save_triples, write_manifest

        if mode not in ("overwrite", "error", "errorifexists"):
            raise ValueError(
                "session save supports mode='overwrite' or 'error' only"
            )
        # graph and triples snapshots are independent write jobs — overlap
        # them (guide §2.6) so the triple store's write back-fills the
        # tail of the graph frames' pooled writes instead of waiting for
        # it; the session manifest stays LAST, as the snapshot-complete
        # marker.
        from concurrent.futures import ThreadPoolExecutor

        writers = []
        if self.graph is not None:
            writers.append(
                lambda: save_graph(
                    self.graph, f"{path}/graph", mode=mode, partitions=partitions
                )
            )
        if self.triples is not None:
            writers.append(
                lambda: save_triples(
                    self.triples, f"{path}/triples", mode=mode, partitions=partitions
                )
            )
        if writers:
            with ThreadPoolExecutor(max_workers=len(writers)) as pool:
                for fut in [pool.submit(w) for w in writers]:
                    fut.result()
        reg = {}
        if self.ddl is not None:
            import dataclasses as _dc

            reg = {
                "node_types": {n: _dc.asdict(t) for n, t in self.ddl.node_types.items()},
                "edge_types": {n: _dc.asdict(t) for n, t in self.ddl.edge_types.items()},
                "vector_indexes": {
                    n: _dc.asdict(v) for n, v in self.ddl.vector_indexes.items()
                },
                "property_indexes": sorted(self.ddl.property_indexes),
            }
        write_manifest(
            self.spark,
            {
                "has_graph": self.graph is not None,
                "has_triples": self.triples is not None,
                "ddl": reg,
            },
            f"{path}/_session",
            mode,
        )
        self._path = path

    @classmethod
    def open(cls, spark: SparkSession, path: str) -> "GrafeoSpark":
        """Rebuild a session saved by :meth:`save` (GrafeoDB(path) analogue)."""
        from grafeo_spark.lang.ddl import (
            EdgeTypeDef,
            NodeTypeDef,
            SchemaRegistry,
            VectorIndexDef,
        )
        from grafeo_spark.sources import load_graph, load_triples, read_manifest

        meta = read_manifest(spark, f"{path}/_session")
        graph = load_graph(spark, f"{path}/graph") if meta["has_graph"] else None
        triples = load_triples(spark, f"{path}/triples") if meta["has_triples"] else None
        db = cls(spark, graph, triples)
        reg = meta.get("ddl") or {}
        if reg:
            db.ddl = SchemaRegistry(
                node_types={n: NodeTypeDef(**t) for n, t in reg["node_types"].items()},
                edge_types={n: EdgeTypeDef(**t) for n, t in reg["edge_types"].items()},
                vector_indexes={
                    n: VectorIndexDef(**v) for n, v in reg["vector_indexes"].items()
                },
                property_indexes=set(reg.get("property_indexes", ())),
            )
        db._path = path
        return db

    def begin_transaction(self, isolation_level: str | None = None) -> "Transaction":
        """Start a snapshot transaction (reference: database.rs:988
        ``begin_transaction`` / PyTransaction, transaction/mod.rs —
        SnapshotIsolation is the default there too). Immutable DataFrames
        give snapshot semantics for free: the transaction's queries and
        mutations run against its own working engine whose frames start as
        this session's; ``commit()`` publishes the working frames back
        atomically (a reference swap), ``rollback()`` discards them. The
        parent session never sees uncommitted writes. Concurrent
        transactions are last-commit-wins — per-row OLTP conflict
        detection is a non-goal of the functional-mutation model
        (SURVEY §1.5), so ``serializable`` is accepted but behaves as
        snapshot; this is the documented divergence."""
        return Transaction(self, isolation_level)


class Transaction:
    """Context-manager transaction mirroring the reference PyTransaction
    (database.rs:1340-1470): auto-commit on clean ``with`` exit, rollback
    on exception, ``is_active`` / ``isolation_level`` accessors, and
    "Transaction already completed" errors on double completion."""

    _LEVELS = ("read_committed", "snapshot", "serializable")

    def __init__(self, db: GrafeoSpark, isolation_level: str | None = None) -> None:
        if isolation_level is not None and isolation_level not in self._LEVELS:
            raise ValueError(
                f"Unknown isolation level '{isolation_level}'. "
                "Use 'read_committed', 'snapshot', or 'serializable'"
            )
        self._parent = db
        # The working engine must not SHARE mutable state with the parent:
        # frames are immutable (safe to share), but the graph's metadata
        # dicts (endpoints — mutated in place by CREATE EDGE TYPE,
        # ddl.py) and the schema registry (mutated in place by every DDL
        # statement and create_property_index) are not. Copy both so DDL
        # inside the transaction stays invisible until commit and truly
        # disappears on rollback.
        work_graph = db.graph.copy() if db.graph is not None else None
        self._work = GrafeoSpark(db.spark, work_graph, db.triples)
        if db.ddl is not None:
            import copy

            self._work.ddl = copy.deepcopy(db.ddl)
        self._committed = False
        self._rolled_back = False
        self.isolation_level = isolation_level or "snapshot"

    # -- lifecycle --------------------------------------------------------

    @property
    def is_active(self) -> bool:
        return not (self._committed or self._rolled_back)

    def _check_active(self) -> None:
        if not self.is_active:
            raise RuntimeError("Transaction already completed")

    def commit(self) -> None:
        self._check_active()
        self._parent.graph = self._work.graph
        self._parent.triples = self._work.triples
        self._parent.ddl = self._work.ddl
        self._committed = True

    def rollback(self) -> None:
        self._check_active()
        self._rolled_back = True

    def __enter__(self) -> "Transaction":
        return self

    def __exit__(self, exc_type, exc_val, exc_tb) -> bool:
        if self.is_active:
            if exc_type is not None:
                self.rollback()
            else:
                self.commit()
        return False

    # -- query surface (delegates to the working engine) ------------------

    def execute(self, query: str, params: dict[str, Any] | None = None) -> DataFrame:
        """GQL, like the reference's ``tx.execute``."""
        self._check_active()
        return self._work.gql(query, params)

    def cypher(self, query: str, params: dict[str, Any] | None = None) -> DataFrame:
        self._check_active()
        return self._work.cypher(query, params)

    def gql(self, query: str, params: dict[str, Any] | None = None) -> DataFrame:
        self._check_active()
        return self._work.gql(query, params)

    def gremlin(self, query: str) -> DataFrame:
        self._check_active()
        return self._work.gremlin(query)

    @property
    def g(self):
        self._check_active()
        return self._work.g

    def graphql(self, query: str, variables: dict[str, Any] | None = None) -> DataFrame:
        self._check_active()
        return self._work.graphql(query, variables)

    def sparql(self, query: str) -> DataFrame:
        self._check_active()
        return self._work.sparql(query)

    def sparql_update(self, query: str) -> None:
        self._check_active()
        self._work.sparql_update(query)
