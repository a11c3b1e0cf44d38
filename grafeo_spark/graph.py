"""Property-graph data model on DataFrames.

The reference stores one LPG graph as columnar node/edge stores with label
and edge-type secondary indexes (``crates/grafeo-core/src/graph/lpg/store.rs``).
The Spark-native equivalent is *label partitioning*: one DataFrame per node
label and one per edge type. A ``MATCH (c:Customer)`` then scans exactly one
parquet source (label "index" == partition pruning at the source), and an
edge expansion by type touches only that edge table. Unlabeled scans are the
slow path: a ``unionByName`` across labels, which Catalyst still prunes
column-wise.

Conventions (GraphFrames-compatible):
- every node frame has a unique ``id: long`` column; remaining columns are
  properties;
- every edge frame has ``src: long, dst: long``; remaining columns are
  properties;
- node ids are globally unique across labels (the loader namespaces them).
"""

from __future__ import annotations

import datetime
import decimal
import math
from dataclasses import dataclass, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DataType,
    DateType,
    DecimalType,
    DoubleType,
    LongType,
    NullType,
    NumericType,
    StringType,
    StructField,
    StructType,
    TimestampNTZType,
    TimestampType,
)

ID = "id"
SRC = "src"
DST = "dst"


def local_frame(spark: SparkSession, rows, schema, max_literal_rows: int = 64):
    """Tiny local relation built JVM-SIDE (see :func:`values_frame`).

    ``spark.createDataFrame(small_python_list)`` plans a Python-RDD scan:
    every job over it round-trips a Python worker (~0.7-0.9s per action,
    ~6s when the action is a WRITE, measured r13 on local[32]) — and a
    mutation that unions such a frame into a graph embeds that cost in
    EVERY later query's lineage. Falls back to ``createDataFrame`` above
    ``max_literal_rows`` (the SQL text grows with the row count).

    ``schema`` is a DDL string or StructType; values are cast to the
    declared field types (so None is typed, like createDataFrame)."""
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    rows = list(rows)
    if len(rows) > max_literal_rows:
        return spark.createDataFrame(rows, schema)
    for i, r in enumerate(rows):
        # zip() would silently truncate/omit on arity mismatch where
        # createDataFrame raised — keep the loud contract (ADVICE r13)
        if len(r) != len(schema.fields):
            raise ValueError(
                f"local_frame: row {i} has {len(r)} values for "
                f"{len(schema.fields)} schema fields"
            )
    return values_frame(spark, rows, schema)


def local_row(spark: SparkSession, row: dict):
    """One-row JVM local relation from a dict, reproducing
    ``createDataFrame``'s scalar inference (bool->boolean, int->long,
    float->double, str->string) so frames union cleanly with
    inference-built ones. Values outside those types fall back to the
    Python-RDD path (see local_frame for why the JVM path matters)."""
    _T = {bool: "boolean", int: "long", float: "double", str: "string"}
    cols = []
    for k, v in row.items():
        t = _T.get(type(v))
        if t is None:
            return spark.createDataFrame([tuple(row.values())], list(row.keys()))
        cols.append(F.lit(v).cast(t).alias(k))
    return spark.range(1).select(*cols)


def literal_row(spark: SparkSession, row: dict, like: DataFrame | None = None) -> DataFrame:
    """One literal row typed like ``like`` (the frame it will join) as a
    JVM LocalRelation — no job to build or collect it — falling back to
    ``local_row``'s inference for values ``values_frame`` can't type."""
    rows = Rows.of_dicts([row], like.schema if like is not None else None)
    return rows.frame(spark) if rows is not None else local_row(spark, row)


def endpoint_side(ep, i: int):
    """Normalize one side of an endpoint declaration to a frozenset of
    labels, or None for unknown. A side may be a single label, None, or a
    tuple/list of labels (an edge type whose sources span several labels,
    e.g. FROM_NATION: customer|supplier -> nation)."""
    if ep is None:
        return None
    side = ep[i]
    if side is None:
        return None
    if isinstance(side, str):
        return frozenset((side,))
    return frozenset(side) or None


def endpoint_scalar(ep, i: int):
    """The side's single label, or None when unknown OR multi-label —
    for consumers whose fast path needs exactly one label (they fall
    back to the safe plan, the same behavior a None side gets)."""
    s = endpoint_side(ep, i)
    return next(iter(s)) if s is not None and len(s) == 1 else None


# -- write deltas --------------------------------------------------------
#
# A written label or edge-type frame is its unchanged base plus ONE delta:
# the inserted rows, one per-id property patch and one set of deleted keys,
# all held in Python. Each write replaces the delta rather than stacking a
# join onto the frame, so the frame keeps the same plan shape however many
# writes it takes:
#
#     Union(Project[patch](Filter[not deleted](base)), LocalRelation[inserted])
#
# The patch is one map literal per written property and the deleted keys an
# IN list, so neither adds a relation to scan, join or broadcast; writes to
# inserted rows edit those rows directly. A write that would grow the delta
# past DELTA_ROWS keys, or that carries values a literal can't hold, folds
# the delta and the write into a new base instead.

DELTA_ROWS = 128

_SCALARS = (NumericType, StringType, BooleanType, DateType, TimestampType, TimestampNTZType)
_SET = "__set__"  # patch flag column prefix: the property was written


def set_flag(prop: str) -> str:
    """Name of the patch column that marks ``prop`` as written on a row
    (a write may set a property to null, so the value alone can't say)."""
    return _SET + prop


def _quote(name: str) -> str:
    return "`" + name.replace("`", "``") + "`"


def _renderable(dt: DataType) -> bool:
    """Types whose values round-trip through SQL text or a literal."""
    if isinstance(dt, ArrayType):
        return isinstance(dt.elementType, _SCALARS)
    return isinstance(dt, _SCALARS)


def infer_type(v) -> DataType | None:
    """``createDataFrame``'s type for a query literal or parameter value;
    NullType for None, None when the value has no renderable type."""
    if v is None:
        return NullType()
    if isinstance(v, bool):
        return BooleanType()
    if isinstance(v, int):
        return LongType()
    if isinstance(v, float):
        return DoubleType()
    if isinstance(v, str):
        return StringType()
    if isinstance(v, decimal.Decimal):
        return DecimalType(38, 18)
    if isinstance(v, datetime.datetime):
        return TimestampType()
    if isinstance(v, datetime.date):
        return DateType()
    if isinstance(v, (list, tuple)):
        kinds = {infer_type(x) for x in v if x is not None}
        if len(kinds) == 1:
            (t,) = kinds
            if t is not None and isinstance(t, _SCALARS):
                return ArrayType(t)
    return None


def _sql_text(v, dt: DataType) -> str | None:
    """SQL text for one value of type ``dt``; None when it must travel as a
    parameter literal (arrays, and timestamps, which ``lit`` converts with
    the same time zone rules as ``collect``)."""
    name = dt.simpleString()
    if v is None:
        return f"CAST(NULL AS {name})"
    if isinstance(dt, (ArrayType, TimestampType)):
        return None
    if isinstance(v, bool):
        s = "true" if v else "false"
    elif isinstance(v, float):
        if math.isnan(v):
            s = "NaN"
        elif math.isinf(v):
            s = "Infinity" if v > 0 else "-Infinity"
        else:
            s = repr(v)
    elif isinstance(v, datetime.date):
        s = v.isoformat()
    else:
        s = str(v)
    return "CAST('" + s.replace("\\", "\\\\").replace("'", "\\'") + f"' AS {name})"


def _loose(schema: StructType) -> StructType:
    return StructType([StructField(f.name, f.dataType, True) for f in schema.fields])


def values_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A JVM LocalRelation of ``rows`` (tuples aligned to ``schema``, a
    StructType or DDL string): no Python worker, no job to build, read or
    broadcast it, and one plan node whatever the row count. The rows are
    evaluated from SQL ``VALUES`` text, cast to the declared types."""
    if isinstance(schema, str):
        from pyspark.sql.types import _parse_datatype_string

        schema = _parse_datatype_string(schema)
    jss = spark._jsparkSession
    if rows:
        args, tuples = [], []
        for r in rows:
            cells = []
            for v, f in zip(r, schema.fields):
                txt = _sql_text(v, f.dataType)
                if txt is None:
                    args.append(F.lit(v))
                    txt = f"CAST(? AS {f.dataType.simpleString()})"
                cells.append(txt)
            tuples.append("(" + ", ".join(cells) + ")")
        query = f"SELECT * FROM VALUES {', '.join(tuples)}"
        jrows = spark.sql(query, args=args or None)._jdf.collectAsList()
    else:
        jrows = spark._jvm.java.util.ArrayList()
    return DataFrame(jss.createDataFrame(jrows, jss.parseDataType(_loose(schema).json())), spark)


class Rows:
    """Rows held in Python: tuples aligned to ``schema``."""

    __slots__ = ("schema", "rows")

    def __init__(self, schema: StructType, rows=()) -> None:
        self.schema = schema
        self.rows = tuple(rows)

    @classmethod
    def of_dicts(cls, records: list[dict], like: StructType | None = None) -> "Rows | None":
        """Literal rows from dicts; a column's type comes from ``like``
        (the frame the rows join) when it has the column. None when a value
        has no renderable type or doesn't match its column's type."""
        known = {f.name: f.dataType for f in like.fields} if like is not None else {}
        types: dict[str, DataType | None] = {}
        for rec in records:
            for k, v in rec.items():
                t = infer_type(v)
                if t is None:
                    return None
                if isinstance(t, NullType):
                    types.setdefault(k, None)
                    continue
                want = known.get(k) or types.get(k)
                if want is not None:
                    t = _adopt(want, t)
                    if t is None:
                        return None
                types[k] = t
        fields = [
            StructField(k, t or known.get(k) or StringType(), True) for k, t in types.items()
        ]
        return cls(
            StructType(fields), [tuple(rec.get(f.name) for f in fields) for rec in records]
        )

    @classmethod
    def of(cls, df: DataFrame, limit: int = DELTA_ROWS) -> "Rows | None":
        """A frame's rows when at most ``limit`` and renderable (one job;
        none for a frame over local relations), else None."""
        if not all(_renderable(f.dataType) for f in df.schema.fields):
            return None
        got = df.limit(limit + 1).collect()
        return cls(df.schema, [tuple(r) for r in got]) if len(got) <= limit else None

    @property
    def names(self) -> list[str]:
        return [f.name for f in self.schema.fields]

    def frame(self, spark: SparkSession) -> DataFrame:
        return values_frame(spark, self.rows, self.schema)

    def __len__(self) -> int:
        return len(self.rows)


def _adopt(want: DataType, t: DataType) -> DataType | None:
    """The column type ``want`` for a value of type ``t`` when it holds the
    value exactly (an integer literal written to a long or double
    property), else None."""
    if want == t:
        return want
    wide = ("long", "float", "double")
    if t.typeName() in ("byte", "short", "integer", "long") and want.typeName() in wide:
        return want
    return None


def _fit(schema: StructType, other: StructType) -> StructType:
    """``other`` with each field's type adopted from ``schema`` where
    :func:`_adopt` allows."""
    have = {f.name: f.dataType for f in schema.fields}
    return StructType(
        [
            StructField(f.name, _adopt(have[f.name], f.dataType) or f.dataType, True)
            if f.name in have
            else f
            for f in other.fields
        ]
    )


def _widen(schema: StructType, other: StructType) -> StructType | None:
    """``schema``'s fields then ``other``'s new ones; None when a shared
    field changes type."""
    have = {f.name: f for f in schema.fields}
    fields = list(schema.fields)
    for f in other.fields:
        if f.name not in have:
            fields.append(StructField(f.name, f.dataType, True))
        elif have[f.name].dataType != f.dataType:
            return None
    return StructType(fields)


def _aligned(rows: Rows, schema: StructType) -> list[tuple]:
    idx = {n: i for i, n in enumerate(rows.names)}
    return [tuple(r[idx[f.name]] if f.name in idx else None for f in schema.fields) for r in rows.rows]


def _in_list(cols: list[str], keys, types: list[DataType]) -> F.Column:
    """True where the tuple of ``cols`` (SQL expressions) is NOT one of
    ``keys`` (an IN list Spark turns into a hash set); True for every row
    when ``keys`` is empty. A null never matches, as in an equi-join."""
    if not keys:
        return F.lit(True)
    lhs = ", ".join(cols)
    items = []
    for k in keys:
        cells = [_sql_text(v, t) for v, t in zip(k, types)]
        items.append(cells[0] if len(cells) == 1 else "(" + ", ".join(cells) + ")")
    lhs = lhs if len(cols) == 1 else f"({lhs})"
    return F.expr(f"coalesce(NOT ({lhs} IN ({', '.join(items)})), true)")


def _patch_column(c: str, old: F.Column | None, entries: dict, key_t: DataType, t: DataType) -> F.Column:
    """Property ``c`` with the patch applied: one map literal id ->
    struct(value), looked up per row; a written null stays null."""
    texts = [(_sql_text(k, key_t), _sql_text(v, t)) for k, v in entries.items()]
    if all(v is not None for _k, v in texts):
        m = F.expr("map(" + ", ".join(f"{k}, named_struct('v', {v})" for k, v in texts) + ")")
    else:
        m = F.create_map(
            *[
                x
                for k, v in entries.items()
                for x in (F.lit(k).cast(key_t), F.struct(F.lit(v).cast(t).alias("v")))
            ]
        )
    hit = F.try_element_at(m, F.col(ID))
    if old is None:
        return hit.getField("v")
    return F.coalesce(hit, F.struct(old.alias("v"))).getField("v")


@dataclass(frozen=True)
class _Delta:
    """One frame's writes since its base, all in Python: ``ins`` rows,
    ``patch`` (base id -> {property: value}, node frames) with the value
    ``types``, ``dead`` keys deleted from the base (node ids, or edge
    (src, dst) pairs) and, for edge frames, ``cut`` node ids whose edges
    were detached. Writes to inserted rows edit ``ins`` itself, so a
    deleted edge pair can be created again."""

    base: DataFrame | None
    key: tuple[str, ...]
    ins: Rows
    patch: dict
    types: dict
    dead: frozenset
    cut: frozenset = frozenset()

    @classmethod
    def start(cls, base: DataFrame | None, key: tuple[str, ...]) -> "_Delta":
        schema = StructType([_key_field(k, base) for k in key])
        return cls(base, key, Rows(schema), {}, {}, frozenset())

    def columns(self) -> StructType:
        """The view's schema: base columns, then new patched and inserted
        ones."""
        st = self.base.schema if self.base is not None else StructType([])
        st = _widen(st, StructType([StructField(c, t, True) for c, t in self.types.items()])) or st
        return _widen(st, self.ins.schema) or st

    def view(self, spark: SparkSession) -> DataFrame:
        cols = self.columns()
        ins = Rows(cols, _aligned(self.ins, cols)).frame(spark)
        if self.base is None:
            return ins
        have = set(self.base.columns)
        key_t = [self.base.schema[k].dataType for k in self.key]
        alive = _in_list([_quote(k) for k in self.key], sorted(self.dead, key=repr), key_t)
        for end in (SRC, DST) if self.cut else ():
            alive = alive & _in_list([end], sorted((i,) for i in self.cut), key_t[:1])
        out = []
        for f in cols.fields:
            old = F.col(_quote(f.name)) if f.name in have else None
            entries = {i: p[f.name] for i, p in self.patch.items() if f.name in p}
            if entries:
                out.append(_patch_column(f.name, old, entries, key_t[0], self.types[f.name]).alias(f.name))
            else:
                out.append(old if old is not None else F.lit(None).cast(f.dataType).alias(f.name))
        return self.base.filter(alive).select(*out).union(ins)

    def id_frames(self, spark: SparkSession) -> list[DataFrame]:
        """Frames holding every id this frame ever had (deleted ones too)."""
        ins = self.ins.frame(spark)
        return [ins] if self.base is None else [self.base, ins]


def _key_field(name: str, frame: DataFrame | None) -> StructField:
    t = frame.schema[name].dataType if frame is not None and name in frame.columns else LongType()
    return StructField(name, t, True)


class PropertyGraph:
    """A labeled property graph as a set of DataFrames.

    Parameters
    ----------
    node_frames : dict[str, DataFrame]
        label -> frame with column ``id`` plus typed property columns.
    edge_frames : dict[str, DataFrame]
        edge type -> frame with ``src``/``dst`` plus property columns.
    """

    def __init__(
        self,
        node_frames: dict[str, DataFrame],
        edge_frames: dict[str, DataFrame],
        endpoints: dict[str, tuple[str | None, str | None]] | None = None,
        disjoint_labels: bool = False,
        distinct_pairs: frozenset[str] | set[str] | None = None,
        edge_keys: dict[str, tuple[str, ...]] | None = None,
    ) -> None:
        self.node_frames = dict(node_frames)
        self.edge_frames = dict(edge_frames)
        # Property columns that together with (src, dst) uniquely identify
        # an edge row (e.g. CONTAINS: linenumber — the lineitem PK). Lets
        # the compiler stamp a deterministic edge id as a 3-4 column hash
        # instead of hashing every property column per hop, and gives
        # byte-identical parallel edges distinct ids only where the schema
        # can't (see Compiler._edge_identity fallback).
        self.edge_keys = dict(edge_keys or {})
        # Edge types whose (src, dst) pairs are known distinct (no parallel
        # edges). Reachability operators skip their global edge-set dedup
        # shuffle for these — per-frame metadata, so one multi-edge type
        # (e.g. CONTAINS) doesn't force a full-|E| distinct on an untyped
        # traversal at 100 TB.
        self.distinct_pairs = frozenset(distinct_pairs or ())
        # Declared metadata: ids unique ACROSS label frames. When False
        # (the safe default), a node id present in several frames is ONE
        # node with a label set (lpg/node.rs), so unlabeled scans merge
        # rows per id. When True (e.g. namespaced TPC-H ids), unlabeled
        # scans are a plain union — no shuffle.
        self.disjoint_labels = disjoint_labels
        # Declared (src_label, dst_label) per edge type — referential
        # integrity metadata. When present, the compiler can skip the
        # destination-node join for id-only expansions (the edge's dst IS
        # the node id and is guaranteed to exist with that label), removing
        # one join+shuffle per hop in counting/reachability queries.
        self.endpoints = dict(endpoints or {})
        # Write deltas of the frames written since they were installed
        # (label / edge type -> base plus one delta; node_frames and
        # edge_frames hold their composed views).
        self._nd: dict[str, _Delta] = {}
        self._ed: dict[str, _Delta] = {}
        # Id high-water marks: every node id (edge id) this graph lineage
        # ever held is below them. None = unknown; the first allocation
        # scans once, creates raise the mark, SET/REMOVE/DELETE keep it,
        # and installing a frame the graph can't vouch for resets it.
        self._next_id: int | None = None
        self._next_edge_id: int | None = None

    # -- scans -----------------------------------------------------------

    def nodes(self, label: str | None = None) -> DataFrame:
        """Node scan. With a label: a single pruned source (fast path,
        mirrors the reference's label-index scan, scan.rs:10). Without:
        union of all labels with a ``_label`` discriminator column."""
        if label is not None:
            if label not in self.node_frames:
                # unknown label -> EMPTY relation, not an error: openCypher
                # and TinkerPop treat labels dynamically (MATCH (:Ghost)
                # yields no rows), and the reference's label-index scan
                # returns an empty iterator for an unindexed label. The
                # empty frame carries the all-labels union schema so
                # downstream property references still resolve.
                return self._empty_nodes()
            return self.node_frames[label].withColumn("_label", F.lit(label))
        out = None
        for lbl, df in self.node_frames.items():
            cur = df.withColumn("_label", F.lit(lbl))
            out = cur if out is None else out.unionByName(cur, allowMissingColumns=True)
        if out is None:
            raise ValueError("graph has no node frames")
        if not self.disjoint_labels and len(self.node_frames) > 1:
            # A node id found in several label frames is one node carrying
            # a label set: merge per id (first non-null per property,
            # sorted label array in ``_labels``, min label as ``_label``).
            props = [c for c in out.columns if c not in ("id", "_label")]
            out = out.groupBy("id").agg(
                *[F.first(F.col(c), ignorenulls=True).alias(c) for c in props],
                F.min("_label").alias("_label"),
                F.array_sort(F.collect_set("_label")).alias("_labels"),
            )
        return out

    def edges(self, etype: str | None = None) -> DataFrame:
        """Edge scan by type (single source) or across all types. An
        unknown type yields an EMPTY relation (same dynamic-label
        rationale as ``nodes``)."""
        if etype is not None:
            if etype not in self.edge_frames:
                return self._empty_edges()
            return self.edge_frames[etype].withColumn("_type", F.lit(etype))
        out = None
        for t, df in self.edge_frames.items():
            cur = df.withColumn("_type", F.lit(t))
            out = cur if out is None else out.unionByName(cur, allowMissingColumns=True)
        if out is None:
            raise ValueError("graph has no edge frames")
        return out

    def _empty_nodes(self) -> DataFrame:
        """Zero-row frame with the all-labels union schema + _label."""
        out = None
        for lbl, df in self.node_frames.items():
            cur = df.withColumn("_label", F.lit(lbl))
            out = cur if out is None else out.unionByName(cur, allowMissingColumns=True)
        if out is None:
            raise ValueError("graph has no node frames")
        return out.filter(F.lit(False))

    def _empty_edges(self) -> DataFrame:
        """Zero-row frame with the all-types union schema + _type."""
        out = None
        for t, df in self.edge_frames.items():
            cur = df.withColumn("_type", F.lit(t))
            out = cur if out is None else out.unionByName(cur, allowMissingColumns=True)
        if out is None:
            raise ValueError("graph has no edge frames")
        return out.filter(F.lit(False))

    def labels(self) -> list[str]:
        return sorted(self.node_frames)

    def edge_types(self) -> list[str]:
        return sorted(self.edge_frames)

    # -- degree helpers (used by algorithms and the Gremlin-ish API) ------

    def degrees(self, direction: str = "both", etype: str | None = None) -> DataFrame:
        """(id, degree) across the chosen edge set. groupBy count — a single
        partial-aggregated shuffle, no join."""
        e = self.edges(etype)
        if direction == "out":
            key = e.select(F.col(SRC).alias(ID))
        elif direction == "in":
            key = e.select(F.col(DST).alias(ID))
        else:
            key = e.select(F.col(SRC).alias(ID)).unionAll(e.select(F.col(DST).alias(ID)))
        return key.groupBy(ID).agg(F.count("*").alias("degree"))

    # -- direct store API (database.rs:618-931 'side door': get_node /
    # get_neighbors_* without the query stack, SURVEY §3.4) --------------

    def node(self, node_id, label: str | None = None) -> DataFrame:
        """Point lookup (get_node analogue, database.rs:618). A label
        narrows the scan to one pruned frame — the fast path; Parquet
        row-group stats make the id filter a data-skipping scan at rest."""
        return self.nodes(label).filter(F.col(ID) == F.lit(node_id))

    def edge(self, edge_id, etype: str | None = None) -> DataFrame:
        """Point lookup by edge id (get_edge analogue, the edge side of
        the database.rs side door; reference binding returns the edge or
        None — tests/python/bases/test_filters.py:109-121). Requires an
        ``id`` column on the edge frame(s); frames without one simply
        contribute no rows (the reference's ids are store-assigned, ours
        are whatever the user loaded)."""
        e = self.edges(etype)
        if ID not in e.columns:
            return e.limit(0)
        return e.filter(F.col(ID) == F.lit(edge_id))

    def neighbors(
        self,
        node_ids,
        direction: str = "out",
        etype: str | None = None,
        label: str | None = None,
    ) -> DataFrame:
        """Neighbor node rows of the given id(s) — the get_neighbors_*
        side door (database.rs:700-931). ``node_ids`` is a scalar id or a
        DataFrame with an ``id`` column: the DataFrame form is the
        distributed set-at-a-time shape (one semi-join + one node join, no
        per-id loop), so batch lookups scale like any other join."""
        e = self.edges(etype)
        if direction == "out":
            pairs = e.select(F.col(SRC).alias("_q"), F.col(DST).alias("_n"))
        elif direction == "in":
            pairs = e.select(F.col(DST).alias("_q"), F.col(SRC).alias("_n"))
        elif direction == "both":
            pairs = e.select(F.col(SRC).alias("_q"), F.col(DST).alias("_n")).unionAll(
                e.select(F.col(DST).alias("_q"), F.col(SRC).alias("_n"))
            )
        else:
            raise ValueError("direction must be 'out', 'in', or 'both'")
        if isinstance(node_ids, DataFrame):
            ids = node_ids.select(F.col(ID).alias("_q"))
            # no broadcast hint: AQE picks broadcast when the id set is
            # small and falls back to a shuffled semi-join when it isn't
            pairs = pairs.join(ids, "_q", "left_semi")
        else:
            pairs = pairs.filter(F.col("_q") == F.lit(node_ids))
        nbr_ids = pairs.select(F.col("_n").alias(ID)).distinct()
        return self.nodes(label).join(nbr_ids, ID, "left_semi")

    # -- id allocation -----------------------------------------------------

    def _spark(self) -> SparkSession:
        for f in (*self.node_frames.values(), *self.edge_frames.values()):
            return f.sparkSession
        return SparkSession.getActiveSession()

    def next_node_id(self) -> int:
        """The next free node id: the id high-water mark this graph carries
        through its functional updates, shared by the Cypher, Gremlin,
        GraphQL and direct-API create paths. The first allocation in a
        graph lineage runs one Spark job (a union of per-frame max
        aggregates over every base and inserted-rows frame, so deleted ids
        count too); creates then hand the raised mark on, SET/REMOVE/DELETE
        keep it, and a frame the graph can't vouch for resets it."""
        if self._next_id is None:
            self._next_id = (_max_of(self._id_frames(self.node_frames, self._nd)) or 0) + 1
        return self._next_id

    def next_edge_id(self) -> int:
        """The next free edge id over the edge frames with an ``id``
        column, carried like :meth:`next_node_id`; the first scan leaves a
        gap of 100 above the loaded ids."""
        if self._next_edge_id is None:
            self._next_edge_id = (_max_of(self._id_frames(self.edge_frames, self._ed)) or 0) + 100
        return self._next_edge_id

    def _id_frames(self, frames: dict, deltas: dict) -> list[DataFrame]:
        spark = self._spark()
        out = []
        for name, f in frames.items():
            d = deltas.get(name)
            out += d.id_frames(spark) if d is not None else [f]
        return out

    # -- mutation (functional: returns a new graph) ------------------------

    def _derive(self, **changes) -> "PropertyGraph":
        """A copy sharing frames, deltas and id marks, with its own
        metadata dicts (DDL mutates ``endpoints`` in place)."""
        g = object.__new__(PropertyGraph)
        g.__dict__.update(self.__dict__)
        g.node_frames = dict(self.node_frames)
        g.edge_frames = dict(self.edge_frames)
        g.endpoints = dict(self.endpoints)
        g.edge_keys = dict(self.edge_keys)
        g._nd = dict(self._nd)
        g._ed = dict(self._ed)
        g.__dict__.update(changes)
        return g

    copy = _derive

    def _disjoint_after(self, label: str, ids_disjoint: bool) -> bool:
        others = any(l != label for l in self.node_frames)
        return self.disjoint_labels and (ids_disjoint or not others)

    def _node_delta(self, label: str) -> _Delta:
        return self._nd.get(label) or _Delta.start(self.node_frames.get(label), (ID,))

    def _edge_delta(self, etype: str) -> _Delta:
        return self._ed.get(etype) or _Delta.start(self.edge_frames.get(etype), (SRC, DST))

    def _put_nodes(self, label: str, d: _Delta, ids_disjoint: bool, **changes) -> "PropertyGraph":
        g = self._derive(disjoint_labels=self._disjoint_after(label, ids_disjoint), **changes)
        g._nd[label] = d
        g.node_frames[label] = d.view(self._spark())
        return g

    def _put_edges(self, etype: str, d: _Delta, **changes) -> "PropertyGraph":
        g = self._derive(**changes)
        g._ed[etype] = d
        g.edge_frames[etype] = d.view(self._spark())
        return g

    def with_nodes(
        self, label: str, df: DataFrame, ids_disjoint: bool = False, same_ids: bool = False
    ) -> "PropertyGraph":
        """Replace (or add) a label frame. ``df`` becomes the label's new
        base, so it must already hold the label's delta (a rewrite built
        from ``node_frames[label]`` does).

        ``ids_disjoint`` is the caller's assertion that the frame cannot
        introduce an id already present under ANOTHER label — internal
        mutation paths qualify (property rewrites keep ids; creates take
        fresh ids from the mark). A user-supplied frame defaults to
        False, which demotes ``disjoint_labels`` — the invariant gates
        endpoint-label path pruning (plans/compiler.py:229) and an
        unverifiable frame must not keep it alive (mirrors how
        ``with_edges`` demotes ``distinct_pairs``/``edge_keys``).
        ``same_ids`` asserts the frame holds only ids the graph already
        had (a property or label rewrite), so the id mark still holds;
        otherwise it resets to unknown.
        """
        g = self._derive(
            disjoint_labels=self._disjoint_after(label, ids_disjoint),
            _next_id=self._next_id if same_ids else None,
        )
        g.node_frames[label] = df
        g._nd.pop(label, None)
        return g

    def with_edges(self, etype: str, df: DataFrame) -> "PropertyGraph":
        g = self._derive(
            # the replaced frame's distinctness / key uniqueness is no longer known
            distinct_pairs=self.distinct_pairs - {etype},
            edge_keys={t: k for t, k in self.edge_keys.items() if t != etype},
            _next_edge_id=None,
        )
        g.edge_frames[etype] = df
        g._ed.pop(etype, None)
        return g

    def create_nodes(
        self,
        label: str,
        df: DataFrame | Rows,
        ids_disjoint: bool = False,
        next_id: int | None = None,
    ) -> "PropertyGraph":
        """Append nodes (CreateNodeOperator analogue, mutation.rs:21) —
        functional snapshot semantics replace the reference's MVCC.

        ``next_id`` says the caller took every id in ``df`` from
        :meth:`next_node_id` and is the first id it left free: the rows
        join the label's inserted rows and the mark rises to ``next_id``.
        Without it the ids are unvouched, so the label is re-based on the
        union and the mark resets. ``ids_disjoint``: see :meth:`with_nodes`."""
        if next_id is None:
            return self.with_nodes(label, self._appended(label, df), ids_disjoint=ids_disjoint)
        mark = None if self._next_id is None else max(self._next_id, next_id)
        d = self._node_delta(label)
        rows = df if isinstance(df, Rows) else Rows.of(df)
        ins = _grown(d, rows)
        if ins is None:
            return self.with_nodes(
                label, self._appended(label, df), ids_disjoint=ids_disjoint, same_ids=True
            )._derive(_next_id=mark)
        return self._put_nodes(label, replace(d, ins=ins), ids_disjoint, _next_id=mark)

    def _appended(self, label: str, df: DataFrame | Rows) -> DataFrame:
        if isinstance(df, Rows):
            df = df.frame(self._spark())
        if label in self.node_frames:
            df = self.node_frames[label].unionByName(df, allowMissingColumns=True)
        return df

    def patch_nodes(self, label: str, patch: DataFrame | Rows) -> "PropertyGraph":
        """Write properties of existing nodes (SetProperty, mutation.rs:748).
        ``patch`` holds ``id`` and, per written property, its value column
        and its :func:`set_flag` column (True where that row writes it; a
        written null clears the property). Inserted rows are edited in
        place and base rows go into the label's one patch, newest write
        winning; ids and the id mark are unchanged."""
        rows = patch if isinstance(patch, Rows) else Rows.of(patch)
        d = self._node_delta(label)
        if rows is not None:
            d2 = _patched(d, rows)
            if d2 is not None:
                return self._put_nodes(label, d2, True)
        if isinstance(patch, Rows):
            patch = patch.frame(self._spark())
        return self.with_nodes(label, _apply_patch(self.node_frames[label], patch), True, True)

    def delete_nodes(self, label: str, ids: DataFrame | Rows, detach: bool = True) -> "PropertyGraph":
        """DELETE (DETACH) (DeleteNodeOperator, mutation.rs:369). The ids
        leave the label's inserted rows and join its deleted set; DETACH
        drops their edges from every edge type whose declared endpoints
        can touch the label. The id mark is kept, so a deleted id is never
        handed out again."""
        if isinstance(ids, DataFrame):
            ids = ids.select(F.col(ids.columns[0]).alias(ID))
            rows = Rows.of(ids)
        else:
            rows = ids
        gone = None if rows is None else frozenset(r[0] for r in rows.rows)
        if gone is not None and not gone:
            return self
        d = self._node_delta(label)
        dead = d.dead | {(i,) for i in gone} if gone is not None and d.base is not None else d.dead
        if gone is not None and len(dead) <= DELTA_ROWS:
            d = replace(
                d,
                ins=Rows(d.ins.schema, [r for r in d.ins.rows if r[0] not in gone]),
                patch={i: p for i, p in d.patch.items() if i not in gone},
                dead=dead,
            )
            g = self._put_nodes(label, d, True)
        else:
            idf = ids if isinstance(ids, DataFrame) else ids.frame(self._spark())
            g = self.with_nodes(
                label, self.node_frames[label].join(idf, ID, "left_anti"), True, True
            )
        if not detach:
            return g
        for t in self.edge_frames:
            ep = self.endpoints.get(t)
            sides = (endpoint_side(ep, 0), endpoint_side(ep, 1))
            if None not in sides and label not in sides[0] | sides[1]:
                continue
            # a subset of each frame: distinctness and keys are preserved
            g = g._detach(t, gone, ids)
        return g

    def _detach(self, etype: str, gone: frozenset | None, ids) -> "PropertyGraph":
        e = self._edge_delta(etype)
        if gone is not None and len(e.cut | gone) <= DELTA_ROWS:
            i_src, i_dst = e.ins.names.index(SRC), e.ins.names.index(DST)
            kept = [r for r in e.ins.rows if r[i_src] not in gone and r[i_dst] not in gone]
            cut = e.cut | gone if e.base is not None else e.cut
            return self._put_edges(etype, replace(e, ins=Rows(e.ins.schema, kept), cut=cut))
        idf = ids if isinstance(ids, DataFrame) else ids.frame(self._spark())
        f = self.edge_frames[etype]
        f = f.join(idf.withColumnRenamed(ID, SRC), SRC, "left_anti")
        f = f.join(idf.withColumnRenamed(ID, DST), DST, "left_anti")
        g = self._derive()
        g.edge_frames[etype] = f
        g._ed.pop(etype, None)
        return g

    def create_edges(
        self, etype: str, df: DataFrame | Rows, next_edge_id: int | None = None
    ) -> "PropertyGraph":
        """Append edges (CreateEdgeOperator, mutation.rs:189) to the type's
        inserted rows. Rows with an ``id`` column raise the edge-id mark to
        ``next_edge_id`` (ids from :meth:`next_edge_id`) or, without it,
        reset the mark."""
        rows = df if isinstance(df, Rows) else Rows.of(df)
        names = rows.names if rows is not None else df.columns
        mark = self._next_edge_id
        if ID in names:
            mark = None if mark is None or next_edge_id is None else max(mark, next_edge_id)
        meta = dict(
            distinct_pairs=self.distinct_pairs - {etype},
            edge_keys={t: k for t, k in self.edge_keys.items() if t != etype},
            _next_edge_id=mark,
        )
        e = self._edge_delta(etype)
        ins = _grown(e, rows)
        if ins is not None:
            return self._put_edges(etype, replace(e, ins=ins), **meta)
        if isinstance(df, Rows):
            df = df.frame(self._spark())
        if etype in self.edge_frames:
            df = self.edge_frames[etype].unionByName(df, allowMissingColumns=True)
        g = self._derive(**meta)
        g.edge_frames[etype] = df
        g._ed.pop(etype, None)
        return g

    def delete_edges(self, etype: str, pairs: DataFrame | Rows) -> "PropertyGraph":
        """Delete the type's edges with these (src, dst) pairs (DeleteEdge,
        mutation.rs:477; parallel edges share fate)."""
        if isinstance(pairs, DataFrame):
            pairs = pairs.select(SRC, DST)
            rows = Rows.of(pairs)
        else:
            rows = pairs
        gone = None if rows is None else frozenset(tuple(r[:2]) for r in rows.rows)
        if gone is not None and not gone:
            return self
        e = self._edge_delta(etype)
        if gone is not None and len(e.dead | gone) <= DELTA_ROWS:
            i_src, i_dst = e.ins.names.index(SRC), e.ins.names.index(DST)
            kept = [r for r in e.ins.rows if (r[i_src], r[i_dst]) not in gone]
            dead = e.dead | gone if e.base is not None else e.dead
            return self._put_edges(etype, replace(e, ins=Rows(e.ins.schema, kept), dead=dead))
        pdf = pairs if isinstance(pairs, DataFrame) else pairs.frame(self._spark())
        g = self._derive()
        g.edge_frames[etype] = self.edge_frames[etype].join(pdf, [SRC, DST], "left_anti")
        g._ed.pop(etype, None)
        return g

    def merge_nodes(
        self, label: str, df: DataFrame, keys: list[str], same_ids: bool = False
    ) -> "PropertyGraph":
        """MERGE: keep existing rows, append the anti-joined remainder
        (merge.rs:1-18 re-expressed as a batch left-anti + union).
        ``same_ids``: see :meth:`with_nodes`."""
        if label not in self.node_frames:
            return self.with_nodes(label, df, same_ids=same_ids)
        existing = self.node_frames[label]
        missing = df.join(existing.select(*keys), on=keys, how="left_anti")
        return self.with_nodes(
            label, existing.unionByName(missing, allowMissingColumns=True), same_ids=same_ids
        )


def _grown(d: _Delta, rows: Rows | None) -> Rows | None:
    """``d``'s inserted rows plus ``rows``; None when they don't fit the
    delta (too many, or a column changes type)."""
    if rows is None or len(d.ins) + len(rows) > DELTA_ROWS:
        return None
    st = _widen(d.ins.schema, _fit(d.columns(), rows.schema))
    if st is None or _widen(d.columns(), st) is None:
        return None
    return Rows(st, _aligned(d.ins, st) + _aligned(rows, st))


def _patched(d: _Delta, rows: Rows) -> _Delta | None:
    """``d`` with a patch (id, then value and set_flag columns) applied;
    None when it doesn't fit the delta."""
    idx = {n: i for i, n in enumerate(rows.names)}
    props = [n for n in rows.names[1:] if not n.startswith(_SET)]
    cols = d.columns()
    vals = _fit(cols, StructType([rows.schema[c] for c in props]))
    if _widen(cols, vals) is None:
        return None
    types = {**d.types, **{f.name: f.dataType for f in vals.fields}}
    ins_ids = {r[0]: k for k, r in enumerate(d.ins.rows)}
    st = _widen(d.ins.schema, vals)
    if st is None:
        return None
    ins = [list(r) for r in _aligned(d.ins, st)]
    patch = {i: dict(p) for i, p in d.patch.items()}
    for r in rows.rows:
        for c in props:
            if not r[idx[set_flag(c)]]:
                continue
            if r[0] in ins_ids:
                ins[ins_ids[r[0]]][st.names.index(c)] = r[idx[c]]
            elif d.base is not None:
                patch.setdefault(r[0], {})[c] = r[idx[c]]
    if len(patch) > DELTA_ROWS:
        return None
    used = {c for p in patch.values() for c in p}
    return replace(
        d,
        ins=Rows(st, [tuple(r) for r in ins]),
        patch=patch,
        types={c: t for c, t in types.items() if c in used},
    )


def _apply_patch(frame: DataFrame, patch: DataFrame) -> DataFrame:
    """``frame`` with a patch frame joined in (the path for patches too
    large for a delta)."""
    props = [c for c in patch.columns[1:] if not c.startswith(_SET)]
    p = patch.select(
        ID,
        *[F.col(_quote(c)).alias("__pv" + c) for c in props],
        *[F.col(_quote(set_flag(c))) for c in props],
    )
    j = frame.join(p, ID, "left")

    def patched(c, old):
        return F.when(F.col(_quote(set_flag(c))), F.col(_quote("__pv" + c))).otherwise(old)

    out = [
        patched(c, F.col(_quote(c))).alias(c) if c in props else F.col(_quote(c))
        for c in frame.columns
    ]
    out += [patched(c, F.lit(None)).alias(c) for c in props if c not in frame.columns]
    return j.select(*out)


def _max_of(frames: list[DataFrame], col: str = ID) -> int | None:
    """Largest ``col`` value over the frames that have it: one job."""
    u = None
    for f in frames:
        if col in f.columns:
            cur = f.agg(F.max(F.col(col).cast("long")).alias("m"))
            u = cur if u is None else u.unionByName(cur)
    return None if u is None else u.agg(F.max("m")).first()[0]


class TripleStore:
    """RDF triples as a single DataFrame (s, p, o_iri, o_lit, o_dt, g).

    The reference keeps SPO/POS/OSP permutation indexes
    (graph/rdf/store.rs:50-68); in Spark those become predicate-partitioned
    parquet + min/max pruning — the scan API is just filters.
    """

    COLS = ("s", "p", "o_iri", "o_lit", "o_dt", "g")
    SCHEMA = StructType([StructField(c, StringType(), True) for c in COLS])

    def __init__(
        self, triples: DataFrame, ins: Rows | None = None, dead: frozenset = frozenset()
    ) -> None:
        """``triples`` is the store's base; ``ins`` and ``dead`` its one
        write delta, held in Python: inserted triples, and the match keys
        (see :func:`minus_triples`) of triples deleted from the base. Every
        update replaces the delta, so ``df`` keeps one plan shape."""
        self.base = triples
        self.ins = ins
        self.dead = dead
        if ins is None:
            self.df = triples
        else:
            spark = triples.sparkSession
            alive = F.lit(True)
            for n in (3, 4):
                keys = sorted((k for k in dead if len(k) == n), key=repr)
                if keys:
                    alive = alive & _in_list(
                        ["s", "p", "coalesce(o_iri, o_lit)", "g"][:n], keys, [StringType()] * n
                    )
            self.df = triples.filter(alive).union(ins.frame(spark))
        # frames persist()ed during EXISTS-expression decomposition
        # (sparql/compiler._hoist_exists_expr); drained (unpersisted) at
        # the start of the next query so cached blocks never accumulate
        # across a session's query stream.
        self._exists_cache: list[DataFrame] = []

    def drain_exists_cache(self) -> None:
        """Unpersist frames cached by a prior query's EXISTS decomposition
        (non-blocking — safe even if the frames were never materialized)."""
        for f in self._exists_cache:
            try:
                f.unpersist(blocking=False)
            except Exception:
                pass
        self._exists_cache.clear()

    @classmethod
    def empty(cls, spark: SparkSession) -> "TripleStore":
        schema = "s string, p string, o_iri string, o_lit string, o_dt string, g string"
        return cls(spark.createDataFrame([], schema))

    def pattern(
        self,
        s: str | None = None,
        p: str | None = None,
        o_iri: str | None = None,
        o_lit: str | None = None,
        g: str | None = None,
    ) -> DataFrame:
        """Triple-pattern scan: constants become pushed-down filters
        (TripleScanSource analogue, execution/source.rs:262)."""
        df = self.df
        for col, val in (("s", s), ("p", p), ("o_iri", o_iri), ("o_lit", o_lit), ("g", g)):
            if val is not None:
                df = df.filter(F.col(col) == F.lit(val))
        return df

    def insert(self, rows: "DataFrame | list[tuple]") -> "TripleStore":
        """Add triples (a frame, or ground tuples in COLS order) to the
        store's inserted rows; past DELTA_ROWS they fold into the base."""
        got = self._rows(rows)
        ins = self.ins or Rows(self.SCHEMA)
        if got is not None and len(ins) + len(got) <= DELTA_ROWS:
            return TripleStore(self.base, Rows(self.SCHEMA, ins.rows + got.rows), self.dead)
        if got is not None:
            rows = got.frame(self.base.sparkSession)
        return TripleStore(self.df.unionByName(rows.select(*self.COLS)))

    def delete(self, rows: "DataFrame | list[tuple]") -> "TripleStore":
        """Remove every triple matching one of ``rows`` (see
        :func:`minus_triples`): matching inserted rows go, and the rows'
        match keys join the base's deleted set."""
        got = self._rows(rows)
        if got is not None and not got.rows:
            return self
        keys = None if got is None else self.dead | {_triple_key(d) for d in got.rows}
        if keys is None or len(keys) > DELTA_ROWS:
            if got is not None:
                rows = got.frame(self.base.sparkSession)
            return TripleStore(minus_triples(self.df, rows))
        ins = self.ins or Rows(self.SCHEMA)
        kept = [t for t in ins.rows if not any(_triple_hit(t, d) for d in got.rows)]
        return TripleStore(self.base, Rows(self.SCHEMA, kept), frozenset(keys))

    def _rows(self, rows) -> Rows | None:
        """Distinct rows held in Python, or None for a frame too large."""
        if isinstance(rows, DataFrame):
            got = Rows.of(rows.select(*self.COLS))
            return None if got is None else Rows(self.SCHEMA, dict.fromkeys(got.rows))
        return Rows(self.SCHEMA, dict.fromkeys(tuple(r) for r in rows))


# Delta frames (delete/insert sets) are broadcast into their anti-joins
# when they fit — the store side is then scanned, never shuffled. Above
# the cap (a mass rewrite) the join falls back to the planner's choice.
DELTA_BROADCAST_MAX = 1_000_000


def minus_triples(store: DataFrame, rows: DataFrame, n_rows: int | None = None) -> DataFrame:
    """Anti-join the store against instantiated rows, matching the object by
    bound value (o_iri or o_lit) so variable bindings erase either kind.
    Rows carrying a graph (DELETE DATA { GRAPH <g> { ... } }) match only
    that graph; graph-less rows match across graphs (this store exposes a
    union-default-graph view to plain patterns). ``n_rows``, when known
    (a materialized delete set), gates a broadcast hint so the store is
    never shuffled for a small delete."""
    r = rows.select(
        F.col("s").alias("_ds"),
        F.col("p").alias("_dp"),
        F.coalesce("o_iri", "o_lit").alias("_dv"),
        F.col("g").alias("_dg"),
    ).distinct()
    if n_rows is not None and n_rows <= DELTA_BROADCAST_MAX:
        r = F.broadcast(r)
    cond = (
        (F.col("s") == F.col("_ds"))
        & (F.col("p") == F.col("_dp"))
        & (F.coalesce("o_iri", "o_lit") == F.col("_dv"))
        & (F.col("_dg").isNull() | F.col("g").eqNullSafe(F.col("_dg")))
    )
    return store.join(r, cond, "left_anti")


def _triple_key(d: tuple) -> tuple:
    """A deleted row's match key: (s, p, object value), plus the graph
    when the row names one."""
    k = (d[0], d[1], d[2] if d[2] is not None else d[3])
    return k if d[5] is None else k + (d[5],)


def _triple_hit(t: tuple, d: tuple) -> bool:
    """:func:`minus_triples`'s match of one stored triple against one
    deleted row, in Python (SQL equality: a null never matches)."""
    tv = t[2] if t[2] is not None else t[3]
    dv = d[2] if d[2] is not None else d[3]
    return (
        None not in (t[0], t[1], tv)
        and (t[0], t[1], tv) == (d[0], d[1], dv)
        and (d[5] is None or t[5] == d[5])
    )
