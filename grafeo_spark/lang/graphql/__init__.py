"""GraphQL front-end.

Reference mapping (crates/grafeo-engine/src/query/graphql_translator.rs:28,
module docs :1-11): root field → NodeScan by label, field arguments →
Filters (equality, plus the operator suffixes ``_gt _gte _lt _lte _ne
_contains _starts_with _ends_with _in``, graphql_translator.rs:675-737,
and ``first``/``offset`` pagination), nested selection set → Expand along
the edge type named by the field, scalar fields → Project. Aliases rename
output columns; nested scalars are flattened as ``<fieldAlias>_<prop>``
(the reference likewise returns flat rows).

Round-5 additions (parser.rs:57-138, graphql_translator.rs:58-137):
- named fragments (``fragment F on Type { ... }`` + ``...F`` spreads) and
  inline fragments (``... on Type { ... }``). Type conditions are
  informational — label frames are single-typed, so fragment selections
  splice directly;
- operation variables ``query($seg: String = "BUILDING") { ... }`` with
  values supplied via ``execute(..., variables={...})``;
- mutations ``mutation { createX(...) / updateX(...) / deleteX(...) }``
  with the reference's filter convention (prefer ``id``, else the first
  argument) — functional graph rebinding through the ``db`` handle.

Example::

    query {
      Customer(mktsegment: "BUILDING", acctbal_gt: 100.0, first: 5) {
        name
        acctbal
        orders: PLACED { totalprice orderpriority }
      }
    }
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Any, Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from grafeo_spark.graph import PropertyGraph


class GraphQLError(Exception):
    pass


@dataclass
class Field:
    name: str
    alias: Optional[str] = None
    args: list[tuple[str, Any]] = field(default_factory=list)
    selections: list["Field"] = field(default_factory=list)
    directives: list[tuple[str, list[tuple[str, Any]]]] = field(default_factory=list)

    @property
    def out_name(self) -> str:
        return self.alias or self.name


@dataclass(frozen=True)
class _Spread:
    """``...Name`` fragment spread placeholder, resolved post-parse."""

    name: str
    directives: tuple = ()


@dataclass(frozen=True)
class _VarRef:
    """``$name`` variable reference, substituted post-parse."""

    name: str


_REQUIRED = object()  # sentinel: variable declared without a default


_TOKEN = re.compile(
    r"""
    (?P<ws>\s+|\#[^\n]*|,)
  | (?P<str>"(?:[^"\\]|\\.)*")
  | (?P<num>-?\d+(?:\.\d+)?)
  | (?P<var>\$[A-Za-z_][A-Za-z0-9_]*)
  | (?P<name>[A-Za-z_][A-Za-z0-9_]*)
  | (?P<op>\.\.\.|[{}():!=\[\]@])
    """,
    re.VERBOSE,
)


def _tokenize(src: str) -> list[tuple[str, str]]:
    out, i = [], 0
    while i < len(src):
        m = _TOKEN.match(src, i)
        if not m:
            raise GraphQLError(f"unexpected character {src[i]!r} at {i}")
        i = m.end()
        if m.lastgroup != "ws":
            out.append((m.lastgroup, m.group()))
    out.append(("eof", ""))
    return out


class _Parser:
    def __init__(self, src: str) -> None:
        self.toks = _tokenize(src)
        self.i = 0
        self.fragments: dict[str, list] = {}
        self.vardefs: dict[str, Any] = {}  # name -> default or _REQUIRED

    def peek(self):
        return self.toks[self.i]

    def next(self):
        t = self.toks[self.i]
        self.i += 1
        return t

    def at(self, kind, text=None):
        k, v = self.peek()
        return k == kind and (text is None or v == text)

    def eat(self, kind, text=None):
        if not self.at(kind, text):
            raise GraphQLError(f"expected {text or kind}, got {self.peek()!r}")
        return self.next()

    def parse_document(self) -> tuple[str, list[Field]]:
        """One operation (query/mutation/bare set) + any fragment
        definitions, in any order (parser.rs:57-73)."""
        op: Optional[str] = None
        roots: list = []
        while not self.at("eof"):
            if self.at("name", "fragment"):
                self.next()
                fname = self.eat("name")[1]
                self.eat("name", "on")
                self.eat("name")  # type condition — informational
                if self.directives():
                    # @skip/@include are executable-location directives
                    # (fields/spreads/inline fragments), and no other
                    # directive is supported — reject loudly, don't drop
                    raise GraphQLError(
                        "directives on fragment definitions are not supported"
                    )
                self.fragments[fname] = self.selection_set()
            elif self.at("name", "subscription"):
                # parsed but rejected, exactly like the reference
                # (graphql_translator.rs:107 Subscription -> Err)
                raise GraphQLError("subscription operations are not supported")
            elif self.at("name", "query") or self.at("name", "mutation"):
                if op is not None:
                    raise GraphQLError("exactly one operation per document")
                op = self.next()[1]
                if self.at("name"):
                    self.next()  # operation name
                if self.at("op", "("):
                    self._variable_defs()
                if self.directives():
                    raise GraphQLError(
                        "directives on operations are not supported"
                    )
                roots = self.selection_set()
            elif self.at("op", "{"):
                if op is not None:
                    raise GraphQLError("exactly one operation per document")
                op = "query"
                roots = self.selection_set()
            else:
                raise GraphQLError(
                    f"expected operation or fragment definition, got {self.peek()!r}"
                )
        if op is None:
            raise GraphQLError("document has no operation")
        return op, roots

    def _variable_defs(self) -> None:
        self.eat("op", "(")
        while not self.at("op", ")"):
            name = self.eat("var")[1][1:]
            self.eat("op", ":")
            # type reference: Name | [Type] — with optional ! at any level
            if self.at("op", "["):
                self.next()
                self.eat("name")
                if self.at("op", "!"):
                    self.next()
                self.eat("op", "]")
            else:
                self.eat("name")
            if self.at("op", "!"):
                self.next()
            default: Any = _REQUIRED
            if self.at("op", "="):
                self.next()
                default = self.value()
            self.vardefs[name] = default
        self.eat("op", ")")

    def selection_set(self) -> list:
        self.eat("op", "{")
        fields: list = []
        while not self.at("op", "}"):
            if self.at("op", "..."):
                self.next()
                if self.at("name", "on"):
                    # inline fragment: splice its selections (single-label
                    # frames make the type condition informational). Its
                    # directives distribute over the spliced members —
                    # @skip/@include are per-member filters, so this is
                    # semantically identical to gating the whole group.
                    self.next()
                    self.eat("name")
                    dirs = self.directives()
                    for m in self.selection_set():
                        if dirs:
                            if isinstance(m, _Spread):
                                m = _Spread(m.name, tuple(dirs) + m.directives)
                            else:
                                m.directives = list(dirs) + m.directives
                        fields.append(m)
                else:
                    sname = self.eat("name")[1]
                    fields.append(_Spread(sname, tuple(self.directives())))
            else:
                fields.append(self.field())
        self.eat("op", "}")
        return fields

    def directives(self) -> list[tuple[str, list[tuple[str, Any]]]]:
        """``@name(arg: value, ...)*`` — parsed at every executable
        location (reference graphql/parser.rs:111; ast.rs:32-110 carries
        them on operations, fields, and fragments)."""
        out: list[tuple[str, list[tuple[str, Any]]]] = []
        while self.at("op", "@"):
            self.next()
            name = self.eat("name")[1]
            args: list[tuple[str, Any]] = []
            if self.at("op", "("):
                self.next()
                while not self.at("op", ")"):
                    k = self.eat("name")[1]
                    self.eat("op", ":")
                    args.append((k, self.value()))
                self.eat("op", ")")
            out.append((name, args))
        return out

    def field(self) -> Field:
        name = self.eat("name")[1]
        alias = None
        if self.at("op", ":"):
            self.next()
            alias, name = name, self.eat("name")[1]
        f = Field(name, alias)
        if self.at("op", "("):
            self.next()
            while not self.at("op", ")"):
                k = self.eat("name")[1]
                self.eat("op", ":")
                f.args.append((k, self.value()))
            self.eat("op", ")")
        f.directives = self.directives()
        if self.at("op", "{"):
            f.selections = self.selection_set()
        return f

    def value(self):
        k, v = self.peek()
        if k == "str":
            self.next()
            # GraphQL spec escapes incl. \uXXXX code points
            return re.sub(
                r"\\u([0-9a-fA-F]{4})|\\(.)",
                lambda m: (
                    chr(int(m.group(1), 16))
                    if m.group(1)
                    else {"n": "\n", "t": "\t", "r": "\r", "b": "\b", "f": "\f"}.get(
                        m.group(2), m.group(2)
                    )
                ),
                v[1:-1],
            )
        if k == "num":
            self.next()
            return float(v) if "." in v else int(v)
        if k == "var":
            self.next()
            return _VarRef(v[1:])
        if k == "op" and v == "[":
            self.next()
            items = []
            while not self.at("op", "]"):
                items.append(self.value())
            self.next()
            return items
        if k == "op" and v == "{":
            # input object, e.g. orderBy: {age: DESC} — ordered pairs
            # (graphql_translator.rs:449 InputValue::Object)
            self.next()
            pairs = []
            while not self.at("op", "}"):
                name = self.eat("name")[1]
                self.eat("op", ":")
                pairs.append((name, self.value()))
                if self.at("op", ","):
                    self.next()
            self.next()
            return pairs
        if k == "name":
            self.next()
            if v in ("true", "false", "null"):
                return {"true": True, "false": False, "null": None}[v]
            return v  # enum value -> its name as a string
        raise GraphQLError(f"expected value, got {self.peek()!r}")


def _directive_keep(
    dirs, values: dict[str, Any]
) -> bool:
    """Evaluate the two standard executable directives against operation
    variables: include the selection iff no @skip(if:) is true and no
    @include(if:) is false (GraphQL spec §5.7.3; the reference parses
    directives, ast.rs:32-110, but never evaluates them — executing the
    standard pair is a documented superset, like LIKE). Unknown directives
    and malformed arguments are rejected loudly, never dropped."""
    keep = True
    for name, args in dirs:
        if name not in ("skip", "include"):
            raise GraphQLError(f"unknown directive @{name}")
        amap = dict(args)
        if set(amap) != {"if"}:
            raise GraphQLError(f"@{name} takes exactly one argument: if")
        cond = amap["if"]
        if isinstance(cond, _VarRef):
            if cond.name not in values:
                raise GraphQLError(f"missing variable ${cond.name}")
            cond = values[cond.name]
        if not isinstance(cond, bool):
            raise GraphQLError(
                f"@{name}(if:) must be a Boolean, got {cond!r}"
            )
        if (name == "skip" and cond) or (name == "include" and not cond):
            keep = False
    return keep


def _resolve(
    fields: list, fragments: dict[str, list], values: dict[str, Any], seen=()
) -> list[Field]:
    """Splice fragment spreads, substitute variable references, and apply
    @skip/@include."""
    out: list[Field] = []
    for f in fields:
        if not _directive_keep(f.directives, values):
            continue
        if isinstance(f, _Spread):
            if f.name in seen:
                raise GraphQLError(f"fragment cycle through {f.name!r}")
            if f.name not in fragments:
                raise GraphQLError(f"unknown fragment {f.name!r}")
            out.extend(
                _resolve(fragments[f.name], fragments, values, seen + (f.name,))
            )
            continue
        args = []
        for k, v in f.args:
            if isinstance(v, _VarRef):
                if v.name not in values:
                    raise GraphQLError(f"missing variable ${v.name}")
                v = values[v.name]
            elif isinstance(v, list):
                for x in v:
                    if isinstance(x, _VarRef) and x.name not in values:
                        raise GraphQLError(f"missing variable ${x.name}")
                v = [values[x.name] if isinstance(x, _VarRef) else x for x in v]
            args.append((k, v))
        out.append(
            Field(
                f.name,
                f.alias,
                args,
                _resolve(f.selections, fragments, values, seen),
            )
        )
    return out


def _parse_resolved(
    src: str, variables: Optional[dict[str, Any]] = None
) -> tuple[str, list[Field]]:
    p = _Parser(src)
    op, roots = p.parse_document()
    values: dict[str, Any] = {}
    for name, default in p.vardefs.items():
        if variables is not None and name in variables:
            values[name] = variables[name]
        elif default is not _REQUIRED:
            values[name] = default
        else:
            raise GraphQLError(f"missing required variable ${name}")
    if variables:
        values.update({k: v for k, v in variables.items() if k not in values})
    return op, _resolve(roots, p.fragments, values)


def parse(src: str, variables: Optional[dict[str, Any]] = None) -> list[Field]:
    op, roots = _parse_resolved(src, variables)
    if op != "query":
        raise GraphQLError("parse() handles query operations; use execute()")
    return roots


# --------------------------------------------------------------------- #
# compiler
# --------------------------------------------------------------------- #

_PAGINATION = ("first", "limit", "offset")

# operator suffixes on argument names (graphql_translator.rs:675-737);
# longest-first so _gte wins over _gt
_SUFFIX_OPS: tuple[tuple[str, Any], ...] = (
    ("_starts_with", lambda c, v: c.startswith(v)),
    ("_ends_with", lambda c, v: c.endswith(v)),
    ("_contains", lambda c, v: c.contains(F.lit(v))),
    ("_gte", lambda c, v: c >= F.lit(v)),
    ("_lte", lambda c, v: c <= F.lit(v)),
    ("_gt", lambda c, v: c > F.lit(v)),
    ("_lt", lambda c, v: c < F.lit(v)),
    ("_ne", lambda c, v: c != F.lit(v)),
    ("_in", lambda c, v: c.isin(list(v))),
)


def _base_key(k: str) -> str:
    """Argument name with any _SUFFIX_OPS operator suffix stripped."""
    for suf, _ in _SUFFIX_OPS:
        if k.endswith(suf) and len(k) > len(suf):
            return k[: -len(suf)]
    return k


def _filter_cond(k: str, v: Any):
    for suf, fn in _SUFFIX_OPS:
        if k.endswith(suf) and len(k) > len(suf):
            return fn(F.col(k[: -len(suf)]), v)
    return F.col(k) == F.lit(v)


def _split_args(args: list[tuple[str, Any]]):
    """(filters, label, limit, offset, order) from a field's argument
    list. Special args mirror graphql_translator.rs:430-481: first/limit,
    skip/offset, and orderBy as an input object {field: ASC|DESC} (a bare
    string value orders ascending by that field)."""
    filters: list[tuple[str, Any]] = []
    label = limit = offset = None
    order: list[tuple[str, bool]] = []
    for k, v in args:
        if k in ("first", "limit"):
            limit = int(v)
        elif k in ("offset", "skip"):
            offset = int(v)
        elif k == "label":
            label = v
        elif k == "orderBy":
            # accepted shapes: a bare field name, or the input object
            # {field: ASC|DESC} (parsed as (name, value) pairs). A GraphQL
            # LIST value would silently iterate strings as char pairs —
            # reject anything else loudly (translator.rs:449 InputValue).
            if isinstance(v, str):
                order.append((v, True))
            elif isinstance(v, list) and all(
                isinstance(p, tuple) and len(p) == 2 and isinstance(p[0], str)
                for p in v
            ):
                for fld, direction in v:
                    order.append((fld, str(direction).upper() != "DESC"))
            else:
                raise GraphQLError(
                    "orderBy expects a field name or an input object "
                    "{field: ASC|DESC}, got " + repr(v)
                )
        else:
            filters.append((k, v))
    return filters, label, limit, offset, order


def _join_nested(
    graph: PropertyGraph,
    frame: DataFrame,
    parent_id_col: str,
    parent_label: Optional[str],
    sel: Field,
    prefix: str,
) -> tuple[DataFrame, list[str]]:
    """Expand one nested selection (recursively, any depth): join the edge
    type named by the field, then the destination label frame.

    The destination label is resolved from the field's ``label:`` arg, else
    the graph's declared edge endpoints (graphql_translator.rs:28 walks the
    schema the same way) — only unknown endpoints fall back to the
    all-labels union. Argument filters COMPOSE (each restricts the running
    frame), and ``first``/``offset`` paginate PER PARENT (row_number over
    the parent id, ordered by destination id for determinism).
    """
    if sel.name not in graph.edge_frames:
        raise GraphQLError(
            f"unknown edge type {sel.name!r}; known: {graph.edge_types()}"
        )
    filters, label, limit, offset, order = _split_args(sel.args)
    if label is None:
        from grafeo_spark.graph import endpoint_scalar

        # multi-label destinations fall back to the all-labels union
        label = endpoint_scalar(graph.endpoints.get(sel.name), 1)
    base = graph.nodes(label) if label else graph.nodes(None)
    efull = graph.edges(sel.name)
    # argument filters resolve against the DESTINATION NODE first, then the
    # EDGE's own properties (KNOWS(since: 2015) filters the relationship —
    # r14 probe batch: an edge-prop arg previously escaped as a raw
    # AnalysisException); anything in neither is a loud schema error
    edge_filters = []
    for k, v in filters:
        base_k = _base_key(k)
        if base_k in base.columns:
            base = base.filter(_filter_cond(k, v))
        elif base_k in efull.columns:
            edge_filters.append((k, v))
        else:
            raise GraphQLError(
                f"unknown argument {base_k!r} on {sel.name}: neither a "
                f"{label or 'destination'} property nor a {sel.name} "
                "edge property"
            )

    child_prefix = prefix + sel.out_name + "_"
    child_id = f"__id_{child_prefix}"
    scalars = [s for s in sel.selections if not s.selections]
    nested = [s for s in sel.selections if s.selections]
    # orderBy fields ride along as hidden columns (they need not be
    # selected); they order the per-parent pagination window and, without
    # pagination, the flattened output rows within each parent
    ord_cols = [f"{child_prefix}__ord{i}" for i in range(len(order))]
    # __typename resolves to the destination label when known, else the
    # scanned frame's _label discriminator (all-labels union)
    tname = F.lit(label) if label else F.col("_label")
    child = base.select(
        F.col("id").alias(child_id),
        *[
            _scalar_col(s, tname, child_prefix)
            for s in scalars
        ],
        *[F.col(f).alias(c) for c, (f, _) in zip(ord_cols, order)],
    )
    esrc, edst = f"__src_{child_prefix}", f"__dst_{child_prefix}"
    e = efull
    for k, v in edge_filters:
        e = e.filter(_filter_cond(k, v))
    e = e.select(F.col("src").alias(esrc), F.col("dst").alias(edst))
    out = (
        frame.join(e, F.col(parent_id_col) == F.col(esrc), "inner")
        .join(child, F.col(edst) == F.col(child_id), "inner")
        .drop(esrc, edst)
    )
    okeys = [
        (F.col(c).asc() if asc else F.col(c).desc())
        for c, (_, asc) in zip(ord_cols, order)
    ]
    if limit is not None or offset is not None:
        from pyspark.sql import Window

        w = Window.partitionBy(parent_id_col).orderBy(*okeys, F.col(child_id))
        rn = f"__rn_{child_prefix}"
        out = out.withColumn(rn, F.row_number().over(w))
        lo = offset or 0
        cond = F.col(rn) > lo
        if limit is not None:
            cond = cond & (F.col(rn) <= lo + limit)
        out = out.filter(cond).drop(rn)
    elif okeys:
        out = out.orderBy(F.col(parent_id_col), *okeys, F.col(child_id))
    if ord_cols:
        out = out.drop(*ord_cols)
    out_cols = [child_prefix + s.out_name for s in scalars]
    for sub in nested:
        out, sub_cols = _join_nested(graph, out, child_id, label, sub, child_prefix)
        out_cols += sub_cols
    return out.drop(child_id), out_cols


def _scalar_col(s: Field, type_name, prefix: str = ""):
    """One scalar selection as a Column. ``__typename`` is the GraphQL
    meta-field every object type must serve (spec §4.5.1) — the
    reference never evaluates it (documented superset, like directives);
    it resolves to the resolved label here."""
    src = type_name if s.name == "__typename" else F.col(s.name)
    return src.alias(prefix + s.out_name)


def _compile_field(graph: PropertyGraph, root: Field) -> DataFrame:
    if root.name not in graph.node_frames:
        raise GraphQLError(
            f"unknown root type {root.name!r}; known: {graph.labels()}"
        )
    df = graph.nodes(root.name)
    filters, _, limit, offset, order = _split_args(root.args)
    for k, v in filters:
        # loud unknown-argument errors on ROOT fields too (the r14 fix
        # covered nested/edge fields): an unrecognized filter would
        # otherwise surface as an opaque unresolved-column
        # AnalysisException at execution
        base_k = _base_key(k)
        if base_k not in df.columns:
            raise GraphQLError(
                f"unknown argument {k!r} on {root.name}: neither a "
                f"property of {sorted(c for c in df.columns if c != '_label')} "
                "nor a special argument (first/limit/offset/skip/label/orderBy)"
            )
        df = df.filter(_filter_cond(k, v))
    # orderBy sorts root objects before pagination (translator.rs:404);
    # id is always the final tiebreak so pagination stays deterministic
    if order or offset is not None or limit is not None:
        keys = [
            (F.col(f).asc() if asc else F.col(f).desc()) for f, asc in order
        ] + [F.col("id").asc()]
        df = df.orderBy(*keys)
        if offset is not None:
            df = df.offset(offset)
        if limit is not None:
            df = df.limit(limit)

    cols = [
        _scalar_col(s, F.lit(root.name))
        for s in root.selections
        if not s.selections
    ]
    out = df
    for sel in root.selections:
        if not sel.selections:
            continue
        out, nested_cols = _join_nested(graph, out, "id", root.name, sel, "")
        cols.extend(F.col(c) for c in nested_cols)
    return out.select(*cols) if cols else out


# --------------------------------------------------------------------- #
# mutations (graphql_translator.rs:106-343)
# --------------------------------------------------------------------- #


def _mutation_parts(name: str) -> tuple[str, str]:
    for kind in ("create", "update", "delete"):
        if name.startswith(kind) and len(name) > len(kind):
            t = name[len(kind):]
            return kind, t[0].upper() + t[1:]
    raise GraphQLError(
        f"mutation field {name!r} must start with create/update/delete"
    )


def _execute_mutation(db, root: Field) -> DataFrame:
    """create/update/delete<Type> (graphql_translator.rs:137-343): the
    filter prefers an ``id`` argument, else the FIRST argument; remaining
    arguments are the properties to create/set. The graph rebinds
    functionally on the db handle; the result projects the selection set
    (or a deleted-count row)."""
    kind, label = _mutation_parts(root.name)
    graph = db.graph
    spark = next(
        iter(list(graph.node_frames.values()) + list(graph.edge_frames.values()))
    ).sparkSession
    scalars = [s.name for s in root.selections if not s.selections]

    if kind == "create":
        if not root.args:
            raise GraphQLError("create mutation requires at least one property")
        if any(k == "id" for k, _ in root.args):
            raise GraphQLError(
                "create mutation: id is engine-assigned (a caller-supplied id "
                "could collide across labels and break pruning invariants)"
            )
        nid = graph.next_node_id()
        from grafeo_spark.graph import literal_row

        df = literal_row(spark, {"id": nid, **dict(root.args)}, graph.node_frames.get(label))
        db.graph = graph.create_nodes(label, df, ids_disjoint=True, next_id=nid + 1)
        return df.select(*(scalars or ["id"]))

    if label not in graph.node_frames:
        raise GraphQLError(f"unknown type {label!r}; known: {graph.labels()}")
    frame = graph.node_frames[label]
    args = dict(root.args)
    if "id" in args:
        fkey, fval = "id", args.pop("id")
    else:
        fkey, (fval) = root.args[0][0], root.args[0][1]
        args.pop(fkey, None)
    cond = F.col(fkey) == F.lit(fval)

    if kind == "update":
        if not args:
            raise GraphQLError(
                "update mutation requires a filter argument and at least one "
                "property to update"
            )
        updated = frame
        for k, v in args.items():
            old = F.col(k) if k in frame.columns else F.lit(None)
            updated = updated.withColumn(k, F.when(cond, F.lit(v)).otherwise(old))
        db.graph = graph.with_nodes(label, updated, ids_disjoint=True, same_ids=True)
        return db.graph.node_frames[label].filter(cond).select(*(scalars or ["id"]))

    # delete (detach): anti-join via delete_nodes
    ids = frame.filter(cond).select("id")
    n = ids.count()
    db.graph = graph.delete_nodes(label, ids, detach=True)
    from grafeo_spark.graph import local_frame

    return local_frame(spark, [(n,)], "deleted long")


# --------------------------------------------------------------------- #
# GraphQL over RDF (graphql_rdf_translator.rs:1-483)
# --------------------------------------------------------------------- #


def execute_rdf(
    ts,
    query: str,
    namespace: str = "http://example.org/",
    variables: Optional[dict[str, Any]] = None,
) -> DataFrame:
    """GraphQL over an RDF TripleStore (graphql_rdf_translator.rs mapping):
    root field -> ``?s rdf:type <ns>Type`` pattern, field arguments ->
    property patterns with equality filters, scalar fields -> property
    patterns projected out, nested selections -> predicate traversals to a
    fresh subject. Compiles to a SPARQL GroupPattern and reuses the SPARQL
    compiler, so shared-variable joins, fragments and $variables all work.
    Nested scalars flatten as ``<fieldAlias>_<prop>`` (the LPG side's
    convention; the reference leaves nested aliases unprefixed, which can
    collide)."""
    from grafeo_spark.lang.sparql import parser as SP
    from grafeo_spark.lang.sparql.compiler import _compile_group

    op, roots = _parse_resolved(query, variables)
    if op != "query":
        raise GraphQLError("RDF GraphQL supports query operations only")
    if len(roots) != 1:
        raise GraphQLError("exactly one root field per query is supported")

    g = SP.GroupPattern()
    proj: list[tuple[str, str]] = []  # (sparql var, output alias)
    counter = [0]

    def nv() -> str:
        counter[0] += 1
        return f"__gq{counter[0]}"

    def walk(fld: Field, subj: str, prefix: str) -> None:
        for k, v in fld.args:
            g.triples.append(
                SP.TriplePattern(SP.Var(subj), SP.Iri(namespace + k), SP.Lit(v))
            )
        for s in fld.selections:
            var = nv()
            g.triples.append(
                SP.TriplePattern(SP.Var(subj), SP.Iri(namespace + s.name), SP.Var(var))
            )
            if s.selections:
                walk(s, var, prefix + s.out_name + "_")
            else:
                proj.append((var, prefix + s.out_name))

    root = roots[0]
    subj = nv()
    g.triples.append(
        SP.TriplePattern(SP.Var(subj), SP.Iri(SP.RDF_TYPE), SP.Iri(namespace + root.name))
    )
    walk(root, subj, "")
    if not proj:
        raise GraphQLError("selection set has no scalar fields to project")
    out = _compile_group(ts, g)
    return out.select(*[F.col(v).alias(a) for v, a in proj])


def execute(
    graph: PropertyGraph,
    query: str,
    variables: Optional[dict[str, Any]] = None,
    db=None,
) -> DataFrame:
    op, roots = _parse_resolved(query, variables)
    if len(roots) != 1:
        raise GraphQLError("exactly one root field per operation is supported")
    if op == "mutation":
        if db is None:
            raise GraphQLError(
                "mutations require the engine handle (use GrafeoSpark.graphql)"
            )
        return _execute_mutation(db, roots[0])
    return _compile_field(graph, roots[0])


__all__ = ["parse", "execute", "execute_rdf", "GraphQLError", "Field"]
