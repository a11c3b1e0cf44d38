"""Gremlin front-end: fluent traversal API compiling to DataFrames.

Covers the step surface of the reference's Gremlin AST
(crates/grafeo-adapters/src/query/gremlin/ast.rs:31-157): V/E, out/in/both
(+E/V variants), has/hasLabel/hasNot/hasId, where/and/or/not with
anonymous (``__``) sub-traversals, values/valueMap/elementMap, dedup,
order/by, limit/skip/range, count/sum/mean/min/max, fold/unfold, group/
groupCount, path, select/as, project/by, coalesce/optional/union/choose,
aggregate/store/cap/sideEffect, and the mutation steps addV/addE/property/
drop (lowered onto the functional PropertyGraph mutations, mutation.rs
operator analogues). Everything compiles onto the same column-namespaced
DataFrame model as the Cypher compiler (var__prop columns), so Catalyst
sees one joined plan — not per-step materialization; where()-style
existence checks are id semi-joins, never row explosions.

Predicates (P.gt etc.) mirror TinkerPop's ``P`` class; ``__`` is the
anonymous-traversal builder.
"""

from __future__ import annotations

import re
from dataclasses import dataclass
from typing import Any, Callable, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grafeo_spark.graph import PropertyGraph, endpoint_side


class GremlinError(Exception):
    pass


class Anon:
    """Recorded anonymous traversal (TinkerPop ``__``): step calls append
    to an immutable list, replayed against a live Traversal later."""

    def __init__(self, steps: tuple = ()) -> None:
        self._steps = tuple(steps)

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)

        def record(*args, **kwargs):
            return Anon(self._steps + ((name, args, kwargs),))

        return record


__ = Anon()  # the anonymous traversal source, TinkerPop-style


def _loops_predicate(cond):
    """Detect ``until(__.loops().is(P-or-literal))`` and return the
    predicate, else None (the EXISTS path handles everything else)."""
    if not isinstance(cond, Anon):
        return None
    steps = cond._steps
    if (
        len(steps) == 2
        and steps[0][0] == "loops"
        and not steps[0][1]
        and steps[1][0] in ("is_", "is")
        and len(steps[1][1]) == 1
    ):
        v = steps[1][1][0]
        return v if isinstance(v, P) else P("eq", v)
    return None


def _eval_loops(p: "P", k: int) -> bool:
    """Evaluate a loops() predicate against the shared iteration counter."""
    try:
        return {
            "eq": lambda: k == p.value,
            "neq": lambda: k != p.value,
            "gt": lambda: k > p.value,
            "gte": lambda: k >= p.value,
            "lt": lambda: k < p.value,
            "lte": lambda: k <= p.value,
            "between": lambda: p.value <= k < p.value2,
            "within": lambda: k in p.value,
            "without": lambda: k not in p.value,
        }[p.op]()
    except KeyError:
        raise GremlinError(f"loops() predicate does not support P.{p.op}")

# anonymous-traversal terminal aggregations (per-traverser scoping in
# project/group/where contexts)
_ANON_AGGS = ("count", "sum_", "mean", "min_", "max_", "fold", "values")


@dataclass(frozen=True)
class P:
    """TinkerPop predicate (ast.rs has* steps carry these)."""

    op: str
    value: Any
    value2: Any = None

    @staticmethod
    def eq(v):
        return P("eq", v)

    @staticmethod
    def neq(v):
        return P("neq", v)

    @staticmethod
    def gt(v):
        return P("gt", v)

    @staticmethod
    def gte(v):
        return P("gte", v)

    @staticmethod
    def lt(v):
        return P("lt", v)

    @staticmethod
    def lte(v):
        return P("lte", v)

    @staticmethod
    def between(lo, hi):
        return P("between", lo, hi)

    @staticmethod
    def within(*vs):
        return P("within", list(vs[0]) if len(vs) == 1 and isinstance(vs[0], (list, tuple)) else list(vs))

    @staticmethod
    def without(*vs):
        return P("without", list(vs[0]) if len(vs) == 1 and isinstance(vs[0], (list, tuple)) else list(vs))

    @staticmethod
    def inside(lo, hi):
        return P("inside", lo, hi)  # exclusive both ends, per TinkerPop

    @staticmethod
    def outside(lo, hi):
        return P("outside", lo, hi)

    def col(self, c: Column) -> Column:
        if self.op == "eq":
            return c == F.lit(self.value)
        if self.op == "neq":
            return c != F.lit(self.value)
        if self.op == "gt":
            return c > F.lit(self.value)
        if self.op == "gte":
            return c >= F.lit(self.value)
        if self.op == "lt":
            return c < F.lit(self.value)
        if self.op == "lte":
            return c <= F.lit(self.value)
        if self.op == "between":
            return (c >= F.lit(self.value)) & (c < F.lit(self.value2))
        if self.op == "within":
            return c.isin(self.value)
        if self.op == "without":
            return ~c.isin(self.value)
        if self.op == "inside":
            return (c > F.lit(self.value)) & (c < F.lit(self.value2))
        if self.op == "outside":
            return (c < F.lit(self.value)) | (c > F.lit(self.value2))
        if self.op == "containing":
            return c.contains(F.lit(self.value))
        if self.op == "notContaining":
            return ~c.contains(F.lit(self.value))
        if self.op == "startingWith":
            return c.startswith(self.value)
        if self.op == "notStartingWith":
            return ~c.startswith(self.value)
        if self.op == "endingWith":
            return c.endswith(self.value)
        if self.op == "notEndingWith":
            return ~c.endswith(self.value)
        if self.op == "regex":
            # fail fast with a clean error (TinkerPop throws
            # PatternSyntaxException at construction) instead of a
            # mid-job executor crash
            import re as _re

            try:
                _re.compile(self.value)
            except _re.error as exc:
                raise GremlinError(f"invalid regex pattern {self.value!r}: {exc}")
            return c.rlike(self.value)
        raise GremlinError(f"unknown predicate {self.op}")


class TextP:
    """TinkerPop text predicates (ast.rs Containing/StartingWith/
    EndingWith/Regex) — factories returning :class:`P` instances."""

    @staticmethod
    def containing(v):
        return P("containing", v)

    @staticmethod
    def notContaining(v):
        return P("notContaining", v)

    @staticmethod
    def startingWith(v):
        return P("startingWith", v)

    @staticmethod
    def notStartingWith(v):
        return P("notStartingWith", v)

    @staticmethod
    def endingWith(v):
        return P("endingWith", v)

    @staticmethod
    def notEndingWith(v):
        return P("notEndingWith", v)

    @staticmethod
    def regex(v):
        return P("regex", v)


# TinkerPop MathStep's exp4j function set, mapped onto Catalyst built-ins
# (every call stays inside whole-stage codegen — no Python evaluation).
_MATH_FNS = {
    "abs": F.abs, "ceil": F.ceil, "floor": F.floor, "sqrt": F.sqrt,
    "cbrt": F.cbrt, "exp": F.exp, "log": F.log, "log10": F.log10,
    "log2": F.log2, "signum": F.signum, "sin": F.sin, "cos": F.cos,
    "tan": F.tan, "asin": F.asin, "acos": F.acos, "atan": F.atan,
    "sinh": F.sinh, "cosh": F.cosh, "tanh": F.tanh,
}

_MATH_TOKEN = re.compile(r"\s*(\d+\.\d+|\d+|[A-Za-z_][A-Za-z0-9_]*|[()+\-*/%^])")


def _compile_math(expr: str, resolve: Callable[[str], Column]) -> Column:
    """Compile a TinkerPop ``math()`` expression (the sack-free exp4j
    grammar: ``+ - * / %``, right-associative ``^``, unary minus, one-arg
    functions) into a single Catalyst Column. Operands evaluate as double
    (MathStep contract); ``resolve`` maps a variable token (``_`` or a
    map key) to its source Column."""
    toks: list[str] = []
    pos = 0
    while pos < len(expr):
        m = _MATH_TOKEN.match(expr, pos)
        if not m:
            if expr[pos:].strip():
                raise GremlinError(f"unsupported math() expression: {expr!r}")
            break
        toks.append(m.group(1))
        pos = m.end()
    i = 0

    def peek() -> Optional[str]:
        return toks[i] if i < len(toks) else None

    def take() -> str:
        nonlocal i
        i += 1
        return toks[i - 1]

    def atom() -> Column:
        t = peek()
        if t is None:
            raise GremlinError(f"math() expression ended early: {expr!r}")
        if t == "(":
            take()
            c = add_sub()
            if peek() != ")":
                raise GremlinError(f"unbalanced parens in math(): {expr!r}")
            take()
            return c
        if t == "-":
            take()
            return -atom()
        take()
        if re.fullmatch(r"\d+(\.\d+)?", t):
            return F.lit(float(t))
        if peek() == "(":  # function call
            fn = _MATH_FNS.get(t)
            if fn is None:
                raise GremlinError(f"unknown math() function {t!r}")
            take()
            arg = add_sub()
            if peek() != ")":
                raise GremlinError(f"unbalanced parens in math(): {expr!r}")
            take()
            return fn(arg.cast("double")).cast("double")
        return resolve(t).cast("double")

    def power() -> Column:  # right-associative ^
        base = atom()
        if peek() == "^":
            take()
            return F.pow(base, power())
        return base

    def mul_div() -> Column:
        c = power()
        while peek() in ("*", "/", "%"):
            op = take()
            r = power()
            c = c * r if op == "*" else (c / r if op == "/" else c % r)
        return c

    def add_sub() -> Column:
        c = mul_div()
        while peek() in ("+", "-"):
            op = take()
            r = mul_div()
            c = c + r if op == "+" else c - r
        return c

    out = add_sub()
    if i != len(toks):
        raise GremlinError(f"trailing tokens in math() expression: {expr!r}")
    return out


def _p(var: str, prop: str) -> str:
    return f"{var}__{prop}"


class Traversal:
    """Lazy traversal: each step transforms (df, element-var stack).

    ``self._cur`` is the current element variable; node/edge properties
    live in ``var__prop`` columns exactly like the Cypher compiler, so
    mixed-language pipelines compose."""

    def __init__(self, g: "GremlinSource", df: DataFrame, cur: str, kind: str, n: int = 0) -> None:
        self.g = g
        self.df = df
        self.cur = cur
        self.kind = kind  # 'node' | 'edge' | 'value'
        self.n = n
        self.labels: dict[str, str] = {}
        self.trail: list[str] = [cur] if kind in ("node", "edge") else []
        # element kind per trail entry — TinkerPop compares ELEMENTS, so a
        # vertex and an edge sharing an id are distinct (simplePath must
        # not conflate their id spaces)
        self.trail_kinds: list[str] = [kind] if kind in ("node", "edge") else []

    def _fresh(self) -> str:
        self.n += 1
        return f"g{self.n}"

    @staticmethod
    def _frontier_renamed(df: DataFrame, cur: str, tvar: str) -> DataFrame:
        """Project a loop frontier's `cur__*` columns onto the output
        variable `tvar` (shared by the until/times-emit iteration loops)."""
        return df.select(
            *[
                F.col(c).alias(_p(tvar, c[len(cur) + 2:]))
                for c in df.columns
                if c.startswith(cur + "__")
            ]
        )

    def _derive(self, df: DataFrame, cur: str, kind: str, extend_trail: bool = False) -> "Traversal":
        t = Traversal(self.g, df, cur, kind, self.n)
        t.labels = dict(self.labels)
        t.trail = list(self.trail) + ([cur] if extend_trail else [])
        t.trail_kinds = list(self.trail_kinds) + ([kind] if extend_trail else [])
        if kind == "edge" and hasattr(self, "_edge_types"):
            # keep endpoint-pruning metadata across edge-frame filters
            t._edge_types = self._edge_types
        return t

    _UNSUPPORTED_ANON = {
        "addV": "mid-traversal addV() (the fold/coalesce get-or-create idiom) "
        "has no set-at-a-time lowering here: a branch executes relationally "
        "for ALL non-matching traversers at once, not one effect per "
        "traverser — use g.addV() at the source, or MERGE via the Cypher "
        "front-end",
        "addE": "mid-traversal addE() inside a branch has no set-at-a-time "
        "lowering here — use g.addE().from_()/to() at the source, or MERGE "
        "via the Cypher front-end",
        # "sack" is context-dependent: branch replays (union/coalesce/
        # choose/local) thread the register (allow_sack=True below);
        # existence contexts (where/not/until conditions) still reject.
        "withSack": "withSack() belongs on the traversal source — "
        "g.withSack(v).V()...; anonymous bodies do not thread the sack "
        "register",
    }

    def _apply_anon(self, anon: Anon) -> "Traversal":
        # sack() in anon bodies follows TinkerPop scoping naturally:
        # branch replays (union/coalesce/choose/local) keep the updated
        # __sack column (threaded by _replay_renamed), while existence
        # probes (where/not/until) join back ids only, so their sack
        # mutations are discarded — exactly filter-body semantics.
        t = self
        for name, args, kwargs in anon._steps:
            if name in self._UNSUPPORTED_ANON:
                raise GremlinError(self._UNSUPPORTED_ANON[name])
            method = getattr(t, name, None)
            if method is None:
                raise GremlinError(f"unknown anonymous step .{name}()")
            t = method(*args, **kwargs)
        if isinstance(t, _GroupCountStep):
            # bare groupCount() is complete without a .by() modulator
            t = t._t._group_count(t._key)
        if isinstance(t, (_OrderStep, _SelectStep, _PathStep, _WhereStep)):
            t = t._finalize()
        if not isinstance(t, Traversal):
            raise GremlinError("anonymous traversal ended mid-modulator")
        return t

    def _exists_ids(self, anon: Anon) -> DataFrame:
        """Distinct current-element ids for which the anonymous traversal
        yields at least one result — the EXISTS semi-join key set. The anon
        is replayed on the DEDUPED current elements (not the full row bag),
        so cost tracks distinct elements.

        Terminal steps that cannot change existence are normalized away:
        ``values(k)`` ≡ ``has(k)`` (exists iff the property is non-null),
        and count/fold/sum/… always yield one row, so they are stripped."""
        steps = list(anon._steps)
        if len(steps) >= 2 and steps[-1][0] == "is_" and steps[-2][0] == "count":
            # where(__...count().is(P)) — per-element count compared by
            # the predicate; elements with NO sub-results count 0, so the
            # counts left-join back onto the seed before filtering
            pred = steps[-1][1][0]
            body = Anon(tuple(steps[:-2]))
            idc = _p(self.cur, "id")
            seed_cols = [c for c in self.df.columns if c.startswith(self.cur + "__")]
            if "__sack" in self.df.columns:
                seed_cols.append("__sack")
            seed = self.df.select(*seed_cols).dropDuplicates([idc])
            res = self._derive(seed, self.cur, self.kind)._apply_anon(body)
            if idc not in res.df.columns:
                raise GremlinError(
                    "where/not/and/or sub-traversals must not project away "
                    "the current element (avoid select inside them)"
                )
            counts = res.df.groupBy(idc).agg(F.count(F.lit(1)).alias("_n"))
            counts = seed.select(idc).join(counts, idc, "left").fillna({"_n": 0})
            cond = (
                pred.col(F.col("_n"))
                if isinstance(pred, P)
                else (F.col("_n") == F.lit(pred))
            )
            return counts.filter(cond).select(idc).distinct()
        while steps:
            name, args, _kw = steps[-1]
            if (
                name == "is_"
                and len(steps) >= 2
                and steps[-2][0] == "values"
                and len(steps[-2][1]) == 1
            ):
                # ``values(k).is_(P)`` ≡ ``has(k, P)`` for existence —
                # the choose()/where() predicate idiom (r11 batch)
                steps[-2:] = [("has", (steps[-2][1][0], args[0]), {})]
                break
            if name == "values" and len(args) == 1:
                steps[-1] = ("has", (args[0],), {})
                break
            if name in (
                "count", "fold", "sum_", "mean", "min_", "max_",
                "valueMap", "elementMap", "id_", "label", "constant",
                "math",
            ):
                # terminal steps that map every incoming traverser to
                # exactly one result cannot change existence (constant/
                # math included — coalesce branches like
                # ``__...constant(x)`` exist wherever their prefix does)
                steps.pop()
                continue
            break
        idc = _p(self.cur, "id")
        seed_cols = [c for c in self.df.columns if c.startswith(self.cur + "__")]
        if "__sack" in self.df.columns:
            # keep the register so probe bodies containing sack steps run;
            # sack steps never filter, so the arbitrary per-id
            # representative cannot change existence, and only ids join
            # back (mutations discarded — filter-body scoping)
            seed_cols.append("__sack")
        seed = self.df.select(*seed_cols).dropDuplicates([idc])
        res = self._derive(seed, self.cur, self.kind)._apply_anon(Anon(tuple(steps)))
        if idc not in res.df.columns:
            raise GremlinError(
                "where/not/and/or sub-traversals must not project away the "
                "current element (avoid select inside them)"
            )
        return res.df.select(idc).distinct()

    def barrier(self, *args) -> "Traversal":
        """TinkerPop ``barrier([n])`` — a lazy/bulk execution hint that
        collects all traversers before continuing. Set-at-a-time DataFrame
        execution already evaluates whole frontiers at once, so this is
        the identity (the optional max-barrier-size arg is a streaming
        knob with no analogue here)."""
        return self

    def _sack_pred_cond(self, anon: Anon):
        """``__.sack().is(P)`` as a direct Column predicate over the sack
        register — where()/not() apply it PER TRAVERSER (per row), which
        an id-level EXISTS semi-join cannot express once the same element
        carries different sack values on different paths. None when the
        anon isn't exactly that shape."""
        steps = list(anon._steps)
        if (
            len(steps) == 2
            and steps[0][0] == "sack"
            and not steps[0][1]
            and steps[1][0] == "is_"
            and len(steps[1][1]) == 1
            and "__sack" in self.df.columns
        ):
            pred = steps[1][1][0]
            if isinstance(pred, P):
                return pred.col(F.col("__sack"))
            return F.col("__sack") == F.lit(pred)
        return None

    # -- filters with anonymous traversals (ast.rs Where/And/Or/Not) ------

    def where(self, cond, pred=None) -> "Traversal":
        if pred is not None:
            # where('a', P.eq('b'))[.by(key)] — label-vs-label comparison
            # (ast.rs WhereClause::Predicate(String, Predicate))
            if not isinstance(cond, str) or not isinstance(pred, P):
                raise GremlinError(
                    "where(startKey, predicate) expects a step label and a P"
                )
            return _WhereStep(self, cond, pred)
        if isinstance(cond, P):
            # where(P.eq('a')) — current element vs label 'a'
            return _WhereStep(self, None, cond)
        if isinstance(cond, Anon):
            sack_cond = self._sack_pred_cond(cond)
            if sack_cond is not None:
                return self._derive(self.df.filter(sack_cond), self.cur, self.kind)
            ok = self._exists_ids(cond)
            return self._derive(
                self.df.join(ok, _p(self.cur, "id"), "left_semi"), self.cur, self.kind
            )
        raise GremlinError("where() expects an anonymous traversal (__. ...)")

    def not_(self, cond) -> "Traversal":
        if isinstance(cond, Anon):
            sack_cond = self._sack_pred_cond(cond)
            if sack_cond is not None:
                # null-safe negation: a null sack (never assigned) fails
                # the predicate, so NOT keeps it — TinkerPop's two-valued
                # filter over an absent register
                return self._derive(
                    self.df.filter(~F.coalesce(sack_cond, F.lit(False))),
                    self.cur,
                    self.kind,
                )
            ok = self._exists_ids(cond)
            return self._derive(
                self.df.join(ok, _p(self.cur, "id"), "left_anti"), self.cur, self.kind
            )
        raise GremlinError("not() expects an anonymous traversal (__. ...)")

    def and_(self, *conds) -> "Traversal":
        t = self
        for c in conds:
            t = t.where(c)
        return t

    def or_(self, *conds) -> "Traversal":
        if not conds:
            return self
        ok = None
        for c in conds:
            ids = self._exists_ids(c)
            ok = ids if ok is None else ok.unionByName(ids).distinct()
        return self._derive(
            self.df.join(ok, _p(self.cur, "id"), "left_semi"), self.cur, self.kind
        )

    # -- filters ---------------------------------------------------------

    def hasLabel(self, *labels: str) -> "Traversal":
        # an edge's label is its type (TinkerPop edge label == relation
        # type); node frames carry _label, edge frames _type
        col = F.col(_p(self.cur, "_type" if self.kind == "edge" else "_label"))
        return self._derive(self.df.filter(col.isin(list(labels))), self.cur, self.kind)

    def has(self, key: str, value: Any = ...) -> "Traversal":
        # a property no element carries (not even a schema column) means
        # has() matches nothing / hasNot() matches everything — TinkerPop
        # treats properties dynamically, like labels
        if _p(self.cur, key) not in self.df.columns:
            return self._derive(self.df.filter(F.lit(False)), self.cur, self.kind)
        c = F.col(_p(self.cur, key))
        if value is ...:
            pred = c.isNotNull()
        elif isinstance(value, P):
            pred = value.col(c)
        else:
            pred = c == F.lit(value)
        return self._derive(self.df.filter(pred), self.cur, self.kind)

    def hasNot(self, key: str) -> "Traversal":
        if _p(self.cur, key) not in self.df.columns:
            return self._derive(self.df, self.cur, self.kind)
        return self._derive(
            self.df.filter(F.col(_p(self.cur, key)).isNull()), self.cur, self.kind
        )

    def hasId(self, *ids) -> "Traversal":
        c = F.col(_p(self.cur, "id"))
        if len(ids) == 1 and isinstance(ids[0], P):
            # hasId(P.within(...)) / hasId(P.gt(...)) — predicate form
            return self._derive(self.df.filter(ids[0].col(c)), self.cur, self.kind)
        return self._derive(self.df.filter(c.isin(list(ids))), self.cur, self.kind)

    # -- traversal -------------------------------------------------------

    def _expand(self, direction: str, etypes: tuple[str, ...], to_vertex: bool) -> "Traversal":
        if self.kind != "node":
            raise GremlinError("out/in/both require a vertex traversal")
        e = None
        for t in etypes or [None]:
            cur = self.g.graph.edges(t) if t else self.g.graph.edges(None)
            e = cur if e is None else e.unionByName(cur, allowMissingColumns=True)
        evar = self._fresh()
        if not to_vertex:
            # Edge steps keep the STORED orientation: TinkerPop's outV/inV
            # are the edge's own source/target regardless of how the edge
            # was reached, and the mutation steps (drop/property) match
            # (src, dst) against the stored frames. ``_near`` records the
            # endpoint we arrived from, for otherV().
            base = e.select(*[F.col(c).alias(_p(evar, c)) for c in e.columns])
            near_src = F.col(_p(self.cur, "id")) == F.col(_p(evar, "src"))
            near_dst = F.col(_p(self.cur, "id")) == F.col(_p(evar, "dst"))
            near_col = _p(evar, "_near")
            if direction == "out":
                joined = self.df.join(base, near_src).withColumn(near_col, F.lit("src"))
            elif direction == "in":
                joined = self.df.join(base, near_dst).withColumn(near_col, F.lit("dst"))
            else:
                joined = self.df.join(base, near_src).withColumn(
                    near_col, F.lit("src")
                ).unionByName(
                    self.df.join(base, near_dst).withColumn(near_col, F.lit("dst"))
                )
            t = self._derive(joined, evar, "edge", extend_trail=True)
            t._edge_types = etypes  # for endpoint pruning in inV/outV
            return t
        if direction == "both":
            rev = e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                *[F.col(c) for c in e.columns if c not in ("src", "dst")],
            )
            e = e.unionByName(rev)
        elif direction == "in":
            e = e.select(
                F.col("dst").alias("src"), F.col("src").alias("dst"),
                *[F.col(c) for c in e.columns if c not in ("src", "dst")],
            )
        e = e.select(*[F.col(c).alias(_p(evar, c)) for c in e.columns])
        joined = self.df.join(
            e, F.col(_p(self.cur, "id")) == F.col(_p(evar, "src")), "inner"
        )
        nvar = self._fresh()
        nodes = self._endpoint_nodes(
            etypes, {"out": "dst", "in": "src", "both": "both"}[direction]
        )
        nodes = nodes.select(*[F.col(c).alias(_p(nvar, c)) for c in nodes.columns])
        out = joined.join(
            nodes, F.col(_p(evar, "dst")) == F.col(_p(nvar, "id")), "inner"
        )
        t2 = self._derive(out, nvar, "node")
        t2.trail = self.trail + [evar, nvar]
        t2.trail_kinds = self.trail_kinds + ["edge", "node"]
        return t2

    def _endpoint_nodes(self, etypes: tuple, which: str) -> DataFrame:
        """Destination node source for an expansion: when every traversed
        edge type has declared endpoints, union only those label frames —
        at scale this prunes unrelated tables (documents, embeddings)
        from the join entirely; TinkerPop semantics are unchanged because
        an edge can only ever land on its endpoint labels. ``which`` is
        the endpoint side reached: 'src', 'dst', or 'both'."""
        g = self.g.graph
        eps = g.endpoints or {}
        types = list(etypes) if etypes else list(g.edge_frames)
        labels: set[str] = set()
        for ty in types:
            ep = eps.get(ty)
            sides = (
                (endpoint_side(ep, 0),)
                if which == "src"
                else (endpoint_side(ep, 1),)
                if which == "dst"
                else (endpoint_side(ep, 0), endpoint_side(ep, 1))
            )
            for s in sides:
                if s is None:
                    return g.nodes(None)  # undeclared side: no pruning
                labels |= s
        frames = [g.nodes(lbl) for lbl in sorted(labels) if lbl in g.node_frames]
        if not frames:
            return g.nodes(None)
        out = frames[0]
        for f in frames[1:]:
            out = out.unionByName(f, allowMissingColumns=True)
        return out

    def out(self, *etypes: str) -> "Traversal":
        return self._expand("out", etypes, True)

    def in_(self, *etypes: str) -> "Traversal":
        return self._expand("in", etypes, True)

    def both(self, *etypes: str) -> "Traversal":
        return self._expand("both", etypes, True)

    def outE(self, *etypes: str) -> "Traversal":
        return self._expand("out", etypes, False)

    def inE(self, *etypes: str) -> "Traversal":
        return self._expand("in", etypes, False)

    def bothE(self, *etypes: str) -> "Traversal":
        return self._expand("both", etypes, False)

    def _edge_to_vertex(self, key: Column, which: str = "both") -> "Traversal":
        if self.kind != "edge":
            raise GremlinError("inV/outV/otherV/bothV require an edge traversal")
        nvar = self._fresh()
        etypes = getattr(self, "_edge_types", None)
        nodes = (
            self._endpoint_nodes(etypes, which)
            if etypes is not None
            else self.g.graph.nodes(None)
        )
        nodes = nodes.select(*[F.col(c).alias(_p(nvar, c)) for c in nodes.columns])
        out = self.df.join(nodes, key == F.col(_p(nvar, "id")), "inner")
        return self._derive(out, nvar, "node", extend_trail=True)

    def inV(self) -> "Traversal":
        """The edge's target vertex (stored orientation, per TinkerPop —
        independent of whether the edge was reached via outE or inE)."""
        return self._edge_to_vertex(F.col(_p(self.cur, "dst")), "dst")

    def outV(self) -> "Traversal":
        """The edge's source vertex (stored orientation)."""
        return self._edge_to_vertex(F.col(_p(self.cur, "src")), "src")

    def otherV(self) -> "Traversal":
        """The endpoint OPPOSITE the vertex the edge was reached from
        (ast.rs OtherV) — uses the ``_near`` marker stamped by outE/inE/
        bothE."""
        near = _p(self.cur, "_near")
        if near not in self.df.columns:
            raise GremlinError("otherV requires an edge reached via outE/inE/bothE")
        other = F.when(
            F.col(near) == "src", F.col(_p(self.cur, "dst"))
        ).otherwise(F.col(_p(self.cur, "src")))
        return self._edge_to_vertex(other)

    def bothV(self) -> "Traversal":
        """Both endpoints of the edge (ast.rs BothV): one traverser per
        endpoint."""
        if self.kind != "edge":
            raise GremlinError("bothV requires an edge traversal")
        nvar = self._fresh()
        nodes = self.g.graph.nodes(None)
        nodes = nodes.select(*[F.col(c).alias(_p(nvar, c)) for c in nodes.columns])
        end = F.explode(
            F.array(F.col(_p(self.cur, "src")), F.col(_p(self.cur, "dst")))
        ).alias("__endv")
        out = self.df.select("*", end).join(
            nodes, F.col("__endv") == F.col(_p(nvar, "id")), "inner"
        ).drop("__endv")
        return self._derive(out, nvar, "node", extend_trail=True)

    # -- modulators ------------------------------------------------------

    def as_(self, label: str) -> "Traversal":
        t = self._derive(self.df, self.cur, self.kind)
        t.labels[label] = t.cur
        return t

    def select(self, *labels: str) -> "_SelectStep":
        return _SelectStep(self, labels)

    def _select_plain(self, labels: tuple) -> "Traversal":
        cols = []
        for lbl in labels:
            if lbl not in self.labels:
                raise GremlinError(f"unknown step label {lbl!r}")
            var = self.labels[lbl]
            cols.extend(
                F.col(c).alias(lbl + c[len(var):])
                for c in self.df.columns
                if c.startswith(var + "__")
            )
        return self._derive(self.df.select(*cols), labels[-1], "node")

    # -- terminal-ish steps ---------------------------------------------

    def values(self, *keys: str) -> "Traversal":
        cols = [F.col(_p(self.cur, k)).alias(k) for k in keys]
        return self._derive(self.df.select(*cols), keys[0] if len(keys) == 1 else self.cur, "value")

    def valueMap(self, *keys) -> "Traversal":
        # valueMap(true) prepends the id and label tokens (TinkerPop
        # WithOptions.tokens via the boolean overload)
        with_tokens = False
        if keys and isinstance(keys[0], bool):
            with_tokens, keys = keys[0], keys[1:]
        prefix = self.cur + "__"
        ks = list(keys) or [
            c[len(prefix):]
            for c in self.df.columns
            if c.startswith(prefix)
            and c[len(prefix):] not in ("id", "_label", "_type", "_near")
        ]
        cols = [F.col(_p(self.cur, k)).alias(k) for k in ks]
        if with_tokens:
            lbl = "_type" if self.kind == "edge" else "_label"
            cols = [
                F.col(_p(self.cur, "id")).alias("id"),
                F.col(_p(self.cur, lbl)).alias("label"),
            ] + cols
        return self._derive(self.df.select(*cols), self.cur, "value")

    def elementMap(self, *keys: str) -> "Traversal":
        """Like valueMap but always carrying the id and label tokens
        (TinkerPop elementMap contract)."""
        return self.valueMap(True, *keys)

    def propertyMap(self, *keys: str) -> "Traversal":
        """TinkerPop propertyMap: per-key property objects. In the typed
        column model a property IS its value (no metadata to carry), so
        this collapses to valueMap without tokens."""
        return self.valueMap(*keys)

    def constant(self, v) -> "Traversal":
        """Replace each traverser's value with a constant (ast.rs
        Constant); multiplicity is preserved."""
        return self._derive(
            self.df.select(F.lit(v).alias("constant")), "constant", "value"
        )

    def properties(self, *keys: str) -> "Traversal":
        """One (key, value) traverser per present property (ast.rs
        Properties). Values are stringified for the cross-key union;
        use values(k) for typed access to a single key."""
        prefix = self.cur + "__"
        reserved = ("id", "_label", "_type", "src", "dst", "_near")
        ks = keys or [
            c[len(prefix):]
            for c in self.df.columns
            if c.startswith(prefix) and c[len(prefix):] not in reserved
        ]
        parts = [
            self.df.select(
                F.lit(k).alias("key"),
                F.col(_p(self.cur, k)).cast("string").alias("value"),
            ).filter(F.col("value").isNotNull())
            for k in ks
        ]
        if not parts:
            raise GremlinError("properties(): no property columns")
        u = parts[0]
        for x in parts[1:]:
            u = u.unionByName(x)
        return self._derive(u, "value", "value")

    def id_(self) -> "Traversal":
        return self.values("id")

    def label(self) -> "Traversal":
        out = self.df.select(F.col(_p(self.cur, "_label")).alias("label"))
        return self._derive(out, "label", "value")

    def loops(self) -> "Traversal":
        """TinkerPop ``loops()`` — the traverser's repeat counter. Only
        meaningful as an ``until(__.loops().is(P))`` condition, where
        ``until()`` lowers it to a driver-side counter check (the counter
        is uniform across the set-at-a-time frontier, so no per-row
        column is needed); any other position is a loud error."""
        raise GremlinError(
            "loops() is only supported inside until(__.loops().is(...))"
        )

    def is_(self, pred: Any) -> "Traversal":
        """``.is(P)`` / ``.is(literal)`` — filter the current VALUE by a
        predicate (TinkerPop IsStep); meaningful after a value-producing
        step (values()/count()/...)."""
        if self.kind != "value":
            raise GremlinError(".is() applies to values — use has()/where() on elements")
        col = F.col(self.df.columns[0])
        cond = pred.col(col) if isinstance(pred, P) else (col == F.lit(pred))
        return self._derive(self.df.filter(cond), self.cur, self.kind)

    def math(self, expr: str) -> "Traversal":
        """TinkerPop ``math()`` step, sack-free form (MathStep): evaluate
        an arithmetic expression over the incoming numeric traverser
        (``_``) or, when the incoming traverser is a ``project()`` /
        ``select()`` map, its keys — ``math('a + b')``. Always yields
        double, one result per traverser."""
        if self.kind != "value":
            raise GremlinError(
                "math() needs an incoming value traversal "
                "(values()/project()/select() first)"
            )
        cols = set(self.df.columns)

        def resolve(name: str) -> Column:
            if name == "_":
                if len(self.df.columns) == 1:
                    return F.col(self.df.columns[0])
                raise GremlinError(
                    "math('_') needs a single-valued incoming traverser"
                )
            if name in cols:
                return F.col(name)
            raise GremlinError(
                f"math() variable {name!r} is not a key of the incoming map"
            )

        col = _compile_math(expr, resolve).cast("double")
        return self._derive(self.df.select(col.alias("value")), "value", "value")

    def sack(self, op: str = None) -> "Traversal":
        """TinkerPop sack steps, set-at-a-time (r13; superset surface —
        the reference's gremlin/ast.rs has no Sack): the sack is a
        ``__sack`` column seeded by ``g.withSack(v)`` and carried by
        every element-preserving step. ``sack()`` reads it (one value
        traverser per row); ``sack(operator).by(key)`` folds the current
        element's property into it (sum/mult/minus/div/min/max/assign —
        Operator static imports in the Groovy form). Branch replays
        (union/coalesce/choose/local) THREAD the register — each branch's
        updates survive into the merged frame (r14). Boundary, enforced
        loudly: projecting steps (values/select/path) drop the register,
        and existence conditions (where/not/until) do not thread it."""
        if "__sack" not in self.df.columns:
            raise GremlinError(
                "no sack on this traversal: start with g.withSack(v); note "
                "projecting steps (values/select) drop the sack register"
            )
        if op is None:
            return self._derive(
                self.df.select(F.col("__sack").alias("value")), "value", "value"
            )
        if op not in _SACK_OPS:
            raise GremlinError(
                f"unknown sack operator {op!r} — one of {sorted(_SACK_OPS)}"
            )
        return _SackStep(self, op)

    def dedup(self, *labels: str):
        """Plain: defer for an optional .by(key) modulator. Scoped
        ``dedup('a','b')`` (TinkerPop DedupGlobalStep with labels): one
        traverser per distinct combination of the labeled elements —
        which survives is unspecified, as in TinkerPop (r14 batch #6)."""
        if labels:
            cols = []
            for lab in labels:
                var = self.labels.get(lab)
                if var is None:
                    raise GremlinError(f"dedup({lab!r}): unknown step label")
                cols.append(_p(var, "id"))
            return self._derive(
                self.df.dropDuplicates(cols), self.cur, self.kind
            )
        return _DedupStep(self)

    def _dedup_plain(self) -> "Traversal":
        if self.kind == "value":
            return self._derive(self.df.distinct(), self.cur, self.kind)
        return self._derive(
            self.df.dropDuplicates([_p(self.cur, "id")]), self.cur, self.kind
        )

    def sample(self, n: int) -> "Traversal":
        """TinkerPop sample(n): n uniformly-random traversers. Seeded
        rand keeps a run reproducible; orderBy(rand).limit(n) compiles to
        TakeOrderedAndProject — no full shuffle at scale."""
        return self._derive(
            self.df.orderBy(F.rand(42)).limit(n), self.cur, self.kind
        )

    def order(self) -> "_OrderStep":
        return _OrderStep(self)

    def limit(self, n: int) -> "Traversal":
        return self._derive(self.df.limit(n), self.cur, self.kind)

    def skip(self, n: int) -> "Traversal":
        return self._derive(self.df.offset(n), self.cur, self.kind)

    def range_(self, lo: int, hi: int) -> "Traversal":
        return self._derive(self.df.offset(lo).limit(hi - lo), self.cur, self.kind)

    def tail(self, n: int = 1) -> "Traversal":
        """Last n traversers in the current order (TinkerPop tail). The
        offset is total-n, which costs one count job — same eager shape
        the reference's pull execution pays."""
        total = self.df.count()
        return self._derive(self.df.offset(max(0, total - n)), self.cur, self.kind)

    def count(self) -> "Traversal":
        return self._derive(self.df.agg(F.count(F.lit(1)).alias("count")), "count", "value")

    def sum_(self, key: Optional[str] = None) -> "Traversal":
        return self._value_agg(F.sum, key)

    def mean(self, key: Optional[str] = None) -> "Traversal":
        return self._value_agg(F.avg, key)

    def min_(self, key: Optional[str] = None) -> "Traversal":
        return self._value_agg(F.min, key)

    def max_(self, key: Optional[str] = None) -> "Traversal":
        return self._value_agg(F.max, key)

    def _value_agg(self, fn, key: Optional[str]) -> "Traversal":
        if self.kind == "value":
            col = F.col(self.df.columns[0])
        elif key is not None:
            col = F.col(_p(self.cur, key))
        else:
            raise GremlinError("aggregation over elements needs a key (use values(k) first)")
        return self._derive(self.df.agg(fn(col).alias("value")), "value", "value")

    def groupCount(self, key: Optional[str] = None) -> "_GroupCountStep":
        """``groupCount([key])`` (ast.rs GroupCount(Option<String>)); the
        key may also arrive as a TinkerPop ``.by('key')`` modulator. With
        neither, values group by themselves and elements by id."""
        return _GroupCountStep(self, key)

    def _group_count(self, key) -> "Traversal":
        if isinstance(key, Anon):
            # key traversal (TinkerPop by(__...)): per-element key value
            # via the shared _anon_value partial, then one count shuffle
            df = self._anon_value(self.df, key, "_gckey")
            out = df.groupBy(F.col("_gckey").alias("key")).agg(
                F.count(F.lit(1)).alias("count")
            )
            return self._derive(out, "key", "value")
        if self.kind == "value":
            col = F.col(self.df.columns[0]) if key is None else F.col(_p(self.cur, key))
        else:
            col = F.col(_p(self.cur, "id" if key is None else key))
        out = self.df.groupBy(col.alias("key")).agg(F.count(F.lit(1)).alias("count"))
        return self._derive(out, "key", "value")

    def fold(self) -> "Traversal":
        col = F.col(self.df.columns[0]) if self.kind == "value" else F.col(_p(self.cur, "id"))
        return self._derive(
            self.df.agg(F.array_sort(F.collect_list(col)).alias("value")), "value", "value"
        )

    # -- path / project / group ------------------------------------------

    def _trail_id_cols(self) -> list:
        """One id column per visited element, in step order. Edge entries
        use the edge's (src, dst) hash when the frame has no id column."""
        cols = []
        for var in self.trail:
            idc = _p(var, "id")
            if idc in self.df.columns:
                cols.append(F.col(idc))
            else:  # edge without an id column: synthesize a stable one
                cols.append(F.xxhash64(F.col(_p(var, "src")), F.col(_p(var, "dst"))))
        return cols

    def path(self) -> "_PathStep":
        """Element-id path of each traverser (ast.rs Path): array of the
        ids of every node/edge visited, in step order; ``.by(key)``
        modulators re-project the elements (round-robin, TinkerPop)."""
        return _PathStep(self)

    def _path_plain(self) -> "Traversal":
        out = self.df.select(F.array(*self._trail_id_cols()).alias("path"))
        return self._derive(out, "path", "value")

    def simplePath(self) -> "Traversal":
        """Keep traversers whose path repeats no element (TinkerPop
        simplePath; beyond the reference's 58-step enum but standard
        Gremlin): pairwise inequality over the trail ids — trail length
        is the pattern's hop count, so the predicate stays tiny. Only
        same-kind trail entries compare: a vertex and an edge sharing an
        id are distinct elements in TinkerPop."""
        ids = self._trail_id_cols()
        kinds = self.trail_kinds
        pred = None
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if kinds[i] != kinds[j]:
                    continue
                c = ids[i] != ids[j]
                pred = c if pred is None else pred & c
        if pred is None:
            return self
        return self._derive(self.df.filter(pred), self.cur, self.kind)

    def cyclicPath(self) -> "Traversal":
        """Keep traversers whose path repeats at least one element (the
        complement of simplePath; same-kind comparison as simplePath)."""
        ids = self._trail_id_cols()
        kinds = self.trail_kinds
        pred = None
        for i in range(len(ids)):
            for j in range(i + 1, len(ids)):
                if kinds[i] != kinds[j]:
                    continue
                c = ids[i] == ids[j]
                pred = c if pred is None else pred | c
        if pred is None:
            return self._derive(self.df.filter(F.lit(False)), self.cur, self.kind)
        return self._derive(self.df.filter(pred), self.cur, self.kind)

    def project(self, *keys: str) -> "_ProjectStep":
        if not keys:
            raise GremlinError("project() needs at least one key")
        return _ProjectStep(self, keys)

    def group(self) -> "_GroupStep":
        return _GroupStep(self)

    def _anon_value(self, df: DataFrame, anon: Anon, alias: str) -> DataFrame:
        """Append a per-current-element column computed by an anonymous
        traversal with a terminal aggregation (the project/group ``by``
        modulator): replay the body on deduped elements, aggregate per
        element id, join back (left; counts fill 0)."""
        if not anon._steps or anon._steps[-1][0] not in _ANON_AGGS:
            raise GremlinError(
                "by(__) needs a terminal aggregation (count/sum/mean/min/max/"
                "fold/values)"
            )
        term_name, term_args, _ = anon._steps[-1]
        body_steps = list(anon._steps[:-1])
        # a trailing values(k) in the BODY (e.g. __.out().values('name')
        # .fold()) would replay to a value-kind frame that projects away
        # the seed id — absorb it into the terminal instead: replay stays
        # element-kind (id retained for the per-element groupBy) and the
        # aggregate reads the property column. TinkerPop values() skips
        # missing properties; null-skipping aggregates match that.
        vkey = term_args[0] if term_args else None
        if (
            vkey is None
            and term_name == "fold"
            and len(body_steps) >= 2
            and body_steps[-1][0] == "order"
            and not body_steps[-1][1]
            and body_steps[-2][0] == "values"
            and len(body_steps[-2][1]) == 1
        ):
            # __...values(k).order().fold(): fold() collects ascending
            # already (array_sort below), so a bare order() is absorbed
            # together with the values(k) — without this the order step
            # blocked the values absorption and the replay lost the seed
            # id (probe batch #7)
            body_steps = body_steps[:-1]
        if vkey is None and body_steps and body_steps[-1][0] == "values":
            if len(body_steps[-1][1]) != 1:
                # a multi-key values('a','b') body replays to a value-kind
                # frame that drops the seed id the per-element groupBy
                # needs — reject with guidance instead of an opaque
                # AnalysisException
                raise GremlinError(
                    "multi-key values() isn't supported in a by()-traversal "
                    "body; aggregate one property key at a time"
                )
            vkey = body_steps[-1][1][0]
            body_steps = body_steps[:-1]
        body = Anon(tuple(body_steps))
        idc = _p(self.cur, "id")
        seed_cols = [c for c in df.columns if c.startswith(self.cur + "__")]
        seed = df.select(*seed_cols).dropDuplicates([idc])
        res = self._derive(seed, self.cur, self.kind)._apply_anon(body)
        if term_name == "count":
            cnt = F.count(F.col(_p(res.cur, vkey))) if vkey else F.count(F.lit(1))
            agg = res.df.groupBy(idc).agg(cnt.alias(alias))
            joined = df.join(agg, idc, "left")
            return joined.withColumn(alias, F.coalesce(F.col(alias), F.lit(0)))
        if term_name == "values":
            vcol = F.col(_p(res.cur, vkey))
            agg = res.df.groupBy(idc).agg(F.min(vcol).alias(alias))
        elif term_name == "fold":
            if vkey is not None:
                vcol = F.col(_p(res.cur, vkey))
            elif res.kind != "value":
                vcol = F.col(_p(res.cur, "id"))
            else:
                vcol = F.col(res.df.columns[-1])
            agg = res.df.groupBy(idc).agg(F.array_sort(F.collect_list(vcol)).alias(alias))
        else:
            fn = {"sum_": F.sum, "mean": F.avg, "min_": F.min, "max_": F.max}[term_name]
            vcol = F.col(_p(res.cur, vkey)) if vkey else F.col(res.df.columns[-1])
            agg = res.df.groupBy(idc).agg(fn(vcol).alias(alias))
        return df.join(agg, idc, "left")

    # -- branching (ast.rs Coalesce/Optional/Union/Choose) ----------------

    def _replay_renamed(self, anon: Anon, target_var: str, base: Optional[DataFrame] = None) -> tuple[DataFrame, str]:
        """Replay an anon on (a subset of) the current traversal and rename
        its result columns to a common shape so branch results union:
        element branches rename to ``target_var`` columns, single-column
        value branches rename to ``value``."""
        src = self if base is None else self._derive(base, self.cur, self.kind)
        res = src._apply_anon(anon)
        if res.kind == "value":
            if len(res.df.columns) == 1:
                return res.df.select(F.col(res.df.columns[0]).alias("value")), "value"
            return res.df, "value"
        sel = [
            F.col(c).alias(_p(target_var, c[len(res.cur) + 2:]))
            for c in res.df.columns
            if c.startswith(res.cur + "__")
        ]
        if "__sack" in res.df.columns:
            # thread the sack register through branch replays: element
            # steps carry the column implicitly, so each branch's updates
            # (sack(op).by(k)) survive the union and the main chain's
            # terminal sack() reads the per-branch value (r14 batch #5)
            sel.append(F.col("__sack"))
        ren = res.df.select(*sel)
        return ren, res.kind

    def coalesce(self, *anons: Anon) -> "Traversal":
        """First branch per element that yields results (ast.rs Coalesce):
        evaluate branch k only for elements with no result in branches <k
        (anti-join cascade — still set-at-a-time, no per-row dispatch)."""
        if not anons:
            raise GremlinError("coalesce() needs at least one branch")
        tvar = self._fresh()
        remaining = self.df
        outs: list[DataFrame] = []
        kind = None
        for anon in anons:
            ids = self._derive(remaining, self.cur, self.kind)._exists_ids(anon)
            hit = remaining.join(ids, _p(self.cur, "id"), "left_semi")
            branch_df, res_kind = self._replay_renamed(anon, tvar, base=hit)
            kind = kind or res_kind
            if res_kind != kind:
                raise GremlinError("coalesce branches must produce the same kind")
            outs.append(branch_df)
            remaining = remaining.join(ids, _p(self.cur, "id"), "left_anti")
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return self._derive(out, tvar if kind != "value" else "value", kind)

    def optional(self, anon: Anon) -> "Traversal":
        """Result of the sub-traversal where it exists, the incoming element
        otherwise — coalesce(anon, identity)."""
        return self.coalesce(anon, Anon())

    def local(self, anon: Anon) -> "Traversal":
        """TinkerPop ``local(sub)``: the sub-traversal's barrier steps act
        PER INCOMING TRAVERSER instead of globally (TinkerPop LocalStep;
        superset surface — the reference's gremlin/ast.rs has no Local).
        Set-at-a-time lowering, one replay of the body:

        - body ending in an aggregation (``local(__.out().count())``):
          per-element aggregate, exactly the project/group ``by``
          modulator partial — counts fill 0 per traverser.
        - body ending in limit(n)/range(lo, hi) (optionally modulated by
          a trailing ``order().by(key[, desc])``): a per-seed window
          row_number picks each element's own slice; ties and the
          unordered form resolve by result id, the engine's documented
          deterministic order.
        - any other body: no global steps to re-scope — plain replay.
        """
        from pyspark.sql import Window

        steps = list(anon._steps)
        # values() is in _ANON_AGGS for by()-modulator contexts but is NOT
        # a barrier step: TinkerPop local(__.out().values('name')) behaves
        # exactly like the inline body (one traverser per value), so a
        # values-terminated body is a plain replay, not a per-traverser
        # aggregate.
        if steps and steps[-1][0] in _ANON_AGGS and steps[-1][0] != "values":
            df = self._anon_value(self.df, anon, "_lval")
            return self._derive(df.select(F.col("_lval").alias("value")), "value", "value")
        lo = hi = None
        if steps and steps[-1][0] == "limit":
            lo, hi = 0, int(steps[-1][1][0])
            body = steps[:-1]
        elif steps and steps[-1][0] == "range_":
            lo, hi = int(steps[-1][1][0]), int(steps[-1][1][1])
            body = steps[:-1]
        if hi is None:
            return self._apply_anon(anon)
        okey, odesc = None, False
        if len(body) >= 2 and body[-2][0] == "order" and body[-1][0] == "by":
            bargs = body[-1][1]
            if not bargs or not isinstance(bargs[0], str):
                # a traversal-valued by(__.count()) or bare by() can't be
                # honored by the per-seed window (it would silently pick by
                # id) — reject loudly rather than return the wrong element
                raise GremlinError(
                    "local(...order().by(...).limit/range) supports only "
                    "order().by('key'[, desc]) — traversal-valued or empty "
                    "by() modulators can't drive the per-traverser window"
                )
            okey = bargs[0]
            # the parser accepts both TinkerPop order tokens: desc and decr
            # (matching _OrderStep's handling)
            odesc = len(bargs) > 1 and str(bargs[1]).lower() in ("desc", "decr")
            body = body[:-2]
        idc = _p(self.cur, "id")
        seed_cols = [c for c in self.df.columns if c.startswith(self.cur + "__")]
        seed = self.df.select(*seed_cols).dropDuplicates([idc])
        res = self._derive(seed, self.cur, self.kind)._apply_anon(Anon(tuple(body)))
        if idc not in res.df.columns or res.kind == "value":
            raise GremlinError(
                "local(...limit/range) needs an element-valued body that "
                "keeps the incoming element (end with values()/aggregates "
                "for value results)"
            )
        oc = F.col(_p(res.cur, okey)) if okey else F.col(_p(res.cur, "id"))
        w = Window.partitionBy(idc).orderBy(
            oc.desc() if odesc else oc.asc(), F.col(_p(res.cur, "id")).asc()
        )
        picked = (
            res.df.withColumn("_lrn", F.row_number().over(w))
            .filter((F.col("_lrn") > lo) & (F.col("_lrn") <= hi))
            .drop("_lrn")
        )
        # join back on the seed id to restore the incoming traverser
        # multiplicity/history the deduped replay dropped (columns the
        # incoming frame already has — e.g. an empty body, where the
        # element slices itself — join by key only)
        new_cols = [
            c
            for c in picked.columns
            if c.startswith(res.cur + "__") and c not in self.df.columns
        ]
        out = self.df.join(picked.select(idc, *new_cols), idc, "inner")
        return self._derive(out, res.cur, res.kind)

    def identity(self) -> "Traversal":
        return self._derive(self.df, self.cur, self.kind)

    def match(self, *patterns: Anon) -> "Traversal":
        """TinkerPop ``match()``: declarative pattern join (MatchStep;
        superset surface — the reference's gremlin/ast.rs has no Match).
        Each pattern must START with ``as('x')``; a terminal ``as('y')``
        binds (or equi-joins) the pattern's end. Set-at-a-time lowering:
        the incoming traverser binds the first pattern's start label, and
        every pattern replays relationally from its start label's bound
        variable over the accumulated frame — one join pipeline, no
        per-traverser dispatch. Patterns whose start label is not yet
        bound are deferred until another pattern binds it (TinkerPop's
        solver reorders the same way); an unresolvable start raises.
        Binding rows follow relational bag semantics; follow with
        ``select(...)`` / ``dedup()`` as in TinkerPop."""
        if not patterns:
            raise GremlinError("match() needs at least one pattern")
        parsed = []
        for p in patterns:
            steps = list(p._steps)
            if not steps or steps[0][0] != "as_" or not steps[0][1]:
                raise GremlinError(
                    "match() patterns must start with as('label')"
                )
            start = steps[0][1][0]
            body = steps[1:]
            end = None
            if body and body[-1][0] == "as_" and body[-1][1]:
                end = body[-1][1][0]
                body = body[:-1]
            parsed.append((start, Anon(tuple(body)), end))
        t = self
        if parsed[0][0] not in t.labels:
            t = t.as_(parsed[0][0])
        pending = list(parsed)
        while pending:
            progressed = False
            deferred = []
            for start, body, end in pending:
                if start not in t.labels:
                    deferred.append((start, body, end))
                    continue
                var = t.labels[start]
                kind = (
                    t.trail_kinds[t.trail.index(var)]
                    if var in t.trail
                    else "node"
                )
                sub = t._derive(t.df, var, kind)
                res = sub._apply_anon(body)
                if res.kind == "value":
                    raise GremlinError(
                        "match() pattern bodies must stay element-valued — "
                        "end value checks with has()/where(), not values()"
                    )
                if end is not None:
                    if end in res.labels:
                        res = res._derive(
                            res.df.filter(
                                F.col(_p(res.cur, "id"))
                                == F.col(_p(res.labels[end], "id"))
                            ),
                            res.cur,
                            res.kind,
                        )
                    else:
                        res = res.as_(end)
                # restore the incoming traverser as current; keep bindings
                t = res._derive(res.df, t.cur, t.kind)
                t.labels = dict(res.labels)
                progressed = True
            pending = deferred
            if pending and not progressed:
                unbound = sorted({s for s, _, _ in pending})
                raise GremlinError(
                    f"match() start labels {unbound} are never bound by "
                    "any other pattern"
                )
        return t

    def union(self, *anons: Anon) -> "Traversal":
        if not anons:
            raise GremlinError("union() needs at least one branch")
        tvar = self._fresh()
        outs, kind = [], None
        for anon in anons:
            branch_df, res_kind = self._replay_renamed(anon, tvar)
            kind = kind or res_kind
            if res_kind != kind:
                raise GremlinError("union branches must produce the same kind")
            outs.append(branch_df)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return self._derive(out, tvar if kind != "value" else "value", kind)

    def repeat(self, body: Anon) -> "Traversal":
        """``repeat(body).times(n)`` / with ``emit()`` (TinkerPop loops;
        beyond the reference's step list — its Gremlin AST has no Repeat —
        but core TinkerPop). Deferred: ``times`` expands the loop.
        ``times(n).repeat(body)`` and ``until(P).repeat(body)`` — the
        modulator-BEFORE forms — expand here instead; until-before is
        while-do: traversers satisfying P exit before the first body
        application, the rest run the do-while loop."""
        t = self.identity()
        t._repeat_body = body
        t._emit_first = getattr(self, "_emit_first", False)
        if getattr(self, "_emit_cond", None) is not None:
            t._emit_cond = self._emit_cond
        pend_times = getattr(self, "_pending_times", None)
        if pend_times is not None:
            return t.times(pend_times)
        pend_until = getattr(self, "_pending_until", None)
        if pend_until is not None:
            cond, max_loops = pend_until
            if t._emit_first or getattr(self, "_repeat_emit", False):
                raise GremlinError(
                    "emit() with until() BEFORE repeat() is not supported — "
                    "use repeat(...).emit().until(...)"
                )
            if _loops_predicate(cond) is not None:
                raise GremlinError(
                    "until(loops()...) before repeat() (while-do) is not "
                    "supported — place until() after repeat()"
                )
            # while-do split: satisfiers exit with ZERO body applications
            idc = _p(self.cur, "id")
            ok = self._exists_ids(cond)
            exits = self.df.join(ok, idc, "left_semi")
            rest = self._derive(
                self.df.join(ok, idc, "left_anti"), self.cur, self.kind
            )
            rest._repeat_body = body
            looped = rest.until(cond, max_loops)
            if looped.kind == "value":
                raise GremlinError("until().repeat() needs an element body")
            exited = self._frontier_renamed(exits, self.cur, looped.cur)
            return self._derive(
                looped.df.unionByName(exited, allowMissingColumns=True),
                looped.cur,
                looped.kind,
            )
        return t

    def emit(self, cond: Optional[Anon] = None) -> "Traversal":
        """Emit every intermediate traverser, or — with an anonymous
        filter, ``emit(__.has('city','NYC'))`` — only those satisfying it
        (TinkerPop emit predicate, r14 batch #6): before ``repeat``
        includes the pre-loop element, after it the per-iteration
        frontiers. The predicate gates INTERMEDIATE emissions only — the
        final iteration exits through times()/until() unconditionally
        (RepeatStep checks until before the emit split)."""
        t = self.identity()
        body = getattr(self, "_repeat_body", None)
        if body is not None:
            t._repeat_body = body
            t._repeat_emit = True
        else:
            t._emit_first = True
        if cond is not None:
            if not isinstance(cond, Anon):
                raise GremlinError("emit() takes an anonymous traversal filter")
            t._emit_cond = cond
        return t

    def _emit_filtered(self, df: DataFrame, cur: str, kind: str) -> DataFrame:
        """Apply the pending emit predicate (if any) to a frontier about
        to be emitted — an EXISTS semi-join, same machinery as where()."""
        cond = getattr(self, "_emit_cond", None)
        if cond is None:
            return df
        sub = self._derive(df, cur, kind)
        ids = sub._exists_ids(cond)
        return df.join(ids, _p(cur, "id"), "left_semi")

    def times(self, n) -> "Traversal":
        """Expand the pending repeat: without emit, the body applied n
        times in sequence; with emit, the bag-union of every iteration's
        frontier. The emit path is ITERATIVE — one body application per
        iteration over a checkpointed frontier (same loop shape as
        ``until``), so n iterations cost n body applications and the plan
        stays linear in n, not the n(n+1)/2 replays of expanding iteration
        k as the body repeated k times from scratch."""
        body = getattr(self, "_repeat_body", None)
        if body is None:
            # times(n).repeat(body) — modulator-before form: record the
            # count; repeat() expands (same loop count as the after form)
            t = self.identity()
            t._pending_times = int(n)
            t._emit_first = getattr(self, "_emit_first", False)
            if getattr(self, "_emit_cond", None) is not None:
                t._emit_cond = self._emit_cond
            return t
        n = int(n)
        emit = getattr(self, "_repeat_emit", False)
        emit_first = getattr(self, "_emit_first", False)
        if not emit and not emit_first:
            t = self
            for _ in range(n):
                t = t._apply_anon(body)
            return t
        start = 0 if emit_first else 1
        if n <= 3 and getattr(self, "_emit_cond", None) is None:
            # shallow loops: the union-of-replays form (iteration k = the
            # body applied k times) stays inside one whole-stage-codegen
            # job — n(n+1)/2 <= 6 body applications, cheaper than paying
            # a frontier serialization boundary per iteration (an r15 A/B
            # of the full iterative form at n=2 measured ~35% slower).
            # The SEED subtree is shared through one lazy checkpoint: each
            # union branch otherwise re-derives it — a union of every
            # node-frame scan when the traversal starts at g.V().
            # The iterative form below takes over where the replay count
            # would grow quadratically.
            shared = self._derive(
                self.df.localCheckpoint(eager=False), self.cur, self.kind
            )
            return shared.union(*[Anon(body._steps * k) for k in range(start, n + 1)])
        tvar = self._fresh()
        outs: list = []
        kind = None
        t = self
        if emit_first:
            if self.kind == "value":
                raise GremlinError("repeat().times() with emit needs an element traversal")
            kind = self.kind
            outs.append(self._frontier_renamed(
                self._emit_filtered(self.df, self.cur, self.kind), self.cur, tvar
            ))
        for i in range(n):
            t = t._apply_anon(body)
            if t.kind == "value":
                raise GremlinError("repeat().times() with emit needs an element traversal")
            kind = t.kind
            # LAZY checkpoint: times() has no mid-loop action (unlike
            # until(), whose per-round isEmpty() makes eager free), so an
            # eager checkpoint would add one materialization job per
            # iteration — measured ~2x on the 2-hop battery entry. Lazy
            # still computes each frontier once and keeps lineage flat
            # when the final union executes.
            frontier = t.df.localCheckpoint(eager=False)
            # the FINAL iteration exits through times(), not through emit,
            # so its traversers are unconditionally kept (TinkerPop
            # RepeatStep: until fires before the emit split)
            emitted = (
                frontier
                if i == n - 1
                else self._emit_filtered(frontier, t.cur, t.kind)
            )
            outs.append(self._frontier_renamed(emitted, t.cur, tvar))
            t = t._derive(frontier, t.cur, t.kind)
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return self._derive(out, tvar, kind or "node")

    def until(self, cond: Anon, max_loops: int = 20) -> "Traversal":
        """``repeat(body).until(cond)`` — do-while: apply the body, emit
        traversers satisfying ``cond``, keep looping the rest (bounded by
        ``max_loops``; traversers that dead-end vanish, TinkerPop
        semantics). Each round is set-at-a-time: one EXISTS split per
        iteration, with an eager checkpoint so the surviving frontier's
        lineage stays flat."""
        body = getattr(self, "_repeat_body", None)
        if body is None:
            # until(P).repeat(body) — while-do: record the condition;
            # repeat() pre-splits satisfiers before the first body pass
            t = self.identity()
            t._pending_until = (cond, max_loops)
            t._emit_first = getattr(self, "_emit_first", False)
            if getattr(self, "_emit_cond", None) is not None:
                t._emit_cond = self._emit_cond
            return t
        loops_pred = _loops_predicate(cond)
        emit_first = getattr(self, "_emit_first", False)
        # emit() anywhere means emit-all intermediates; position only
        # controls whether the pre-loop element is included (same
        # convention as times(), :847)
        emit = getattr(self, "_repeat_emit", False) or emit_first
        tvar = self._fresh()
        outs: list = []
        kind = None

        def _renamed(df: DataFrame, cur: str) -> DataFrame:
            return self._frontier_renamed(df, cur, tvar)

        t = self
        if emit_first:
            # emit BEFORE repeat also emits the pre-loop element (do-while:
            # no until check happens before the first body application)
            if self.kind == "value":
                raise GremlinError("repeat().until() needs an element traversal")
            kind = self.kind
            outs.append(_renamed(
                self._emit_filtered(self.df, self.cur, self.kind), self.cur
            ))
        for it in range(1, int(max_loops) + 1):
            t = t._apply_anon(body)
            if t.kind == "value":
                raise GremlinError("repeat().until() needs an element traversal")
            kind = t.kind
            if loops_pred is not None:
                # until(loops().is(P)): the loop counter is shared by the
                # whole set-at-a-time frontier, so the split is uniform —
                # everyone exits at the first satisfying iteration (no
                # per-row EXISTS job at all)
                if _eval_loops(loops_pred, it):
                    outs.append(_renamed(t.df, t.cur))
                    break
                rest = t.df
                dead = False
                if it % 3 == 0:
                    rest = rest.localCheckpoint(eager=True)
                    # empty-frontier probe piggybacks on the eager
                    # checkpoint (already materialized, so ~free) — the
                    # loops arm otherwise runs zero jobs per iteration,
                    # and a per-iteration isEmpty would forfeit that
                    dead = rest.isEmpty()
                if emit:
                    outs.append(_renamed(
                        self._emit_filtered(rest, t.cur, t.kind), t.cur
                    ))
                t = t._derive(rest, t.cur, t.kind)
                if dead:
                    # frontier died before the predicate fired: TinkerPop
                    # yields the emitted traversers (possibly none) rather
                    # than erroring or re-applying the body to empty frames
                    if not outs:
                        outs.append(_renamed(rest, t.cur))
                    break
                if it == int(max_loops):
                    if rest.isEmpty():  # died between probes: empty, not error
                        if not outs:
                            outs.append(_renamed(rest, t.cur))
                        break
                    raise GremlinError(
                        f"until(loops().is(...)) not satisfied within "
                        f"max_loops={max_loops}"
                    )
                continue
            ids = t._exists_ids(cond)
            idc = _p(t.cur, "id")
            done = t.df.join(ids, idc, "left_semi")
            outs.append(_renamed(done, t.cur))
            rest = t.df.join(ids, idc, "left_anti").localCheckpoint(eager=True)
            if emit:
                # emit-all: continuing traversers are ALSO emitted each
                # iteration (exiting ones appear once, via the until arm)
                outs.append(_renamed(
                    self._emit_filtered(rest, t.cur, t.kind), t.cur
                ))
            t = t._derive(rest, t.cur, t.kind)
            if rest.isEmpty():
                break
        out = outs[0]
        for o in outs[1:]:
            out = out.unionByName(o, allowMissingColumns=True)
        return self._derive(out, tvar, kind or "node")

    def choose(self, pred: Anon, true_branch: Anon, false_branch: Anon) -> "Traversal":
        """if/then/else per element (ast.rs Choose): split on EXISTS(pred),
        run each branch on its partition, union."""
        ids = self._exists_ids(pred)
        idc = _p(self.cur, "id")
        hit = self.df.join(ids, idc, "left_semi")
        miss = self.df.join(ids, idc, "left_anti")
        tvar = self._fresh()
        t_df, t_kind = self._replay_renamed(true_branch, tvar, base=hit)
        f_df, f_kind = self._replay_renamed(false_branch, tvar, base=miss)
        if t_kind != f_kind:
            raise GremlinError("choose branches must produce the same kind")
        return self._derive(
            t_df.unionByName(f_df, allowMissingColumns=True),
            tvar if t_kind != "value" else "value",
            t_kind,
        )

    def unfold(self) -> "Traversal":
        """Explode a folded array value back to rows (ast.rs Unfold)."""
        if self.kind != "value":
            raise GremlinError("unfold() applies to a folded value traversal")
        col = self.df.columns[-1]
        return self._derive(
            self.df.select(F.explode(F.col(col)).alias(col)), self.cur, "value"
        )

    # -- side-effect collections (ast.rs Aggregate/Store/Cap) -------------

    def aggregate(self, key: str) -> "Traversal":
        """Store the current elements (eager/global, TinkerPop aggregate())
        into the source's side-effect registry; read back with cap(key)."""
        col = (
            F.col(self.df.columns[-1])
            if self.kind == "value"
            else F.col(_p(self.cur, "id"))
        )
        self.g.side_effects[key] = self.df.select(col.alias(key))
        return self

    def store(self, key: str) -> "Traversal":
        """TinkerPop's lazy/local variant of aggregate() (reference keeps
        them as distinct Step variants, gremlin/ast.rs:140-142).

        DOCUMENTED DIVERGENCE: TinkerPop's store appends per-traverser as
        elements flow, so a downstream barrier like ``limit(n)`` bounds
        what lands in the side effect (by an amount TinkerPop itself
        leaves nondeterministic — lazy pull may prefetch extra
        traversers). This engine compiles the whole chain to one
        DataFrame, so store captures the elements AT THIS STEP like
        aggregate() does — ``g.V().store('x').limit(2)`` stores every
        vertex here, 2-or-3 in TinkerPop. Pinned by
        tests/test_gremlin.py::test_store_is_eager_documented_divergence.
        """
        return self.aggregate(key)

    def cap(self, key: str) -> "Traversal":
        if key not in self.g.side_effects:
            raise GremlinError(f"unknown side-effect key {key!r}")
        df = self.g.side_effects[key]
        out = df.agg(F.array_sort(F.collect_list(F.col(key))).alias(key))
        return self._derive(out, key, "value")

    def sideEffect(self, anon: Anon) -> "Traversal":
        """Run the sub-traversal for its side effects (aggregate/store),
        pass the incoming elements through unchanged."""
        self._apply_anon(anon)
        return self

    # -- mutations (ast.rs AddV/AddE/Property/Drop; lowered on the
    #    functional PropertyGraph ops, mutation.rs analogues) --------------

    def property(self, key: str, value: Any = None, *rest: Any) -> "Traversal":
        """Set a property on every current element (SetPropertyOperator,
        mutation.rs:748): per-label id semi-joins, graph rebound. An
        optional leading Cardinality token (parser.rs:718-733) is
        accepted: ``single`` is the typed-column model's only semantics
        (one value per property), ``list``/``set`` are rejected loudly."""
        if rest:
            card, key, value = str(key).lower(), value, rest[0]
            if card not in ("single", "list", "set"):
                raise GremlinError(f"unknown property cardinality {card!r}")
            if card != "single":
                raise GremlinError(
                    "list/set property cardinality is not supported: the "
                    "typed column model holds ONE value per property "
                    "(store an array value explicitly instead)"
                )
        if self.kind == "node":
            pairs = self.df.select(
                F.col(_p(self.cur, "id")).alias("id"),
                F.col(_p(self.cur, "_label")).alias("_lbl"),
            ).distinct()
            labels = [r._lbl for r in pairs.select("_lbl").distinct().collect()]
            g2 = self.g.graph
            for lbl in labels:
                ids = pairs.filter(F.col("_lbl") == lbl).select("id")
                frame = g2.node_frames[lbl]
                joined = frame.join(ids.withColumn("__hit", F.lit(True)), "id", "left")
                old = F.col(key) if key in frame.columns else F.lit(None)
                g2 = g2.with_nodes(
                    lbl,
                    joined.withColumn(
                        key, F.when(F.col("__hit"), F.lit(value)).otherwise(old)
                    ).drop("__hit"),
                    ids_disjoint=True,
                    same_ids=True,
                )
            self.g._rebind(g2)
            return self
        if self.kind == "edge":
            pairs = self.df.select(
                F.col(_p(self.cur, "src")).alias("src"),
                F.col(_p(self.cur, "dst")).alias("dst"),
                F.col(_p(self.cur, "_type")).alias("_t"),
            ).distinct()
            types = [r._t for r in pairs.select("_t").distinct().collect()]
            g2 = self.g.graph
            for t in types:
                keys = pairs.filter(F.col("_t") == t).select("src", "dst").withColumn(
                    "__hit", F.lit(True)
                )
                frame = g2.edge_frames[t]
                joined = frame.join(keys, ["src", "dst"], "left")
                old = F.col(key) if key in frame.columns else F.lit(None)
                g2 = g2.with_edges(
                    t,
                    joined.withColumn(
                        key, F.when(F.col("__hit"), F.lit(value)).otherwise(old)
                    ).drop("__hit"),
                )
            self.g._rebind(g2)
            return self
        raise GremlinError("property() applies to node or edge traversals")

    def drop(self) -> "Traversal":
        """Remove the current elements (DeleteNode/DeleteEdge,
        mutation.rs:369/:477); nodes are detach-deleted."""
        if self.kind == "node":
            pairs = self.df.select(
                F.col(_p(self.cur, "id")).alias("id"),
                F.col(_p(self.cur, "_label")).alias("_lbl"),
            ).distinct()
            labels = [r._lbl for r in pairs.select("_lbl").distinct().collect()]
            g2 = self.g.graph
            for lbl in labels:
                ids = pairs.filter(F.col("_lbl") == lbl).select("id")
                g2 = g2.delete_nodes(lbl, ids, detach=True)
            self.g._rebind(g2)
        elif self.kind == "edge":
            pairs = self.df.select(
                F.col(_p(self.cur, "src")).alias("src"),
                F.col(_p(self.cur, "dst")).alias("dst"),
                F.col(_p(self.cur, "_type")).alias("_t"),
            ).distinct()
            types = [r._t for r in pairs.select("_t").distinct().collect()]
            g2 = self.g.graph
            for t in types:
                keys = pairs.filter(F.col("_t") == t).select("src", "dst")
                g2 = g2.delete_edges(t, keys)
            self.g._rebind(g2)
        else:
            raise GremlinError("drop() applies to node or edge traversals")
        empty = self.df.limit(0).select(F.lit(1).alias("dropped"))
        return self._derive(empty, "dropped", "value")

    def iterate(self) -> "Traversal":
        """Terminal no-op (mutations here apply eagerly step-by-step)."""
        return self

    # -- execution --------------------------------------------------------

    def toDF(self) -> DataFrame:
        """Project user-facing columns (struct per element var)."""
        if self.kind == "value":
            return self.df
        prefix = self.cur + "__"
        cols = [
            F.col(c).alias(c[len(prefix):])
            for c in self.df.columns
            if c.startswith(prefix)
        ]
        return self.df.select(*cols)

    def toList(self) -> list:
        rows = self.toDF().collect()
        if len(rows) and len(rows[0]) == 1:
            return [r[0] for r in rows]
        return [tuple(r) for r in rows]


class _ProjectStep:
    """``project(k1, k2, ...).by(spec).by(spec)...`` modulator (ast.rs
    Project/By): one column per key; spec = property name, ``None`` (the
    element id), or an anonymous traversal with a terminal aggregation
    (per-element scoped — e.g. ``__.out().count()``)."""

    def __init__(self, t: Traversal, keys: tuple) -> None:
        self.t = t
        self.keys = keys
        self.bys: list = []

    def by(self, spec=None):
        self.bys.append(spec)
        if len(self.bys) < len(self.keys):
            return self
        t = self.t
        df = t.df
        for key, spec in zip(self.keys, self.bys):
            if isinstance(spec, Anon):
                df = t._anon_value(df, spec, key)
            elif spec is None:
                df = df.withColumn(key, F.col(_p(t.cur, "id")))
            else:
                df = df.withColumn(key, F.col(_p(t.cur, spec)))
        return t._derive(df.select(*self.keys), self.keys[0], "value")


class _GroupCountStep:
    """Deferred ``groupCount()`` awaiting an optional ``.by(key)``
    modulator; any other chained call builds with the current key and
    delegates to the resulting Traversal."""

    def __init__(self, t: Traversal, key: Optional[str]) -> None:
        self._t = t
        self._key = key

    def by(self, key: str) -> Traversal:
        return self._t._group_count(key)

    def __getattr__(self, name: str):
        return getattr(self._t._group_count(self._key), name)


class _GroupStep:
    """``group().by(key).by(value)`` (ast.rs Group): key = property /
    ``None`` (id) / an anonymous traversal (per-element key value, e.g.
    ``by(__.out().count())``); value = property (sorted list per group),
    ``None`` (sorted id list), or an anonymous traversal with a terminal
    count/sum/mean/min/max/fold — including a traversal body
    (``by(__.out().values('age').sum_())``), which reduces the SUB-RESULTS
    of every group member, TinkerPop's group-scoped fold."""

    def __init__(self, t: Traversal) -> None:
        self.t = t
        self.bys: list = []

    def by(self, spec=None):
        self.bys.append(spec)
        return self._build() if len(self.bys) == 2 else self

    def toDF(self) -> DataFrame:
        return self._build().toDF()

    def toList(self) -> list:
        return self._build().toList()

    def _build(self) -> Traversal:
        t = self.t
        kspec = self.bys[0] if self.bys else None
        vspec = self.bys[1] if len(self.bys) > 1 else None
        df = t.df
        if isinstance(kspec, Anon):
            # key traversal: per-element key via the _anon_value partial
            df = t._anon_value(df, kspec, "_gkey")
            key = F.col("_gkey").alias("key")
        else:
            key = (
                F.col(_p(t.cur, "id")) if kspec is None else F.col(_p(t.cur, kspec))
            ).alias("key")
        if vspec is None:
            agg = F.array_sort(F.collect_list(F.col(_p(t.cur, "id")))).alias("value")
        elif isinstance(vspec, str):
            agg = F.array_sort(F.collect_list(F.col(_p(t.cur, vspec)))).alias("value")
        elif isinstance(vspec, Anon):
            return self._anon_value_build(t, df, key, vspec)
        else:
            raise GremlinError(f"unsupported group by spec: {vspec!r}")
        return t._derive(df.groupBy(key).agg(agg), "key", "value")

    def _anon_value_build(
        self, t: Traversal, df: DataFrame, key: Column, vspec: Anon
    ) -> Traversal:
        """Group-scoped value traversal: the sub-traversal's results for
        every group member reduce into the group's value. Decomposed as a
        per-element partial (_anon_value) + a group-level combine
        (count→sum-of-counts, sum→sum-of-sums, min→min-of-mins,
        fold→flatten, mean→sum-of-sums / sum-of-counts) — the same
        partial/final split a distributed aggregate uses, so the plan is
        one replay of the body plus one shuffle, never per-group work."""
        steps = list(vspec._steps)
        if not steps or steps[-1][0] not in (
            "count", "sum_", "mean", "min_", "max_", "fold", "values",
        ):
            raise GremlinError("group().by(__) needs a terminal aggregation")
        name, args, kw = steps[-1]
        # __...values(k).agg() ≡ __...agg(k)
        if (
            name in ("sum_", "mean", "min_", "max_")
            and not args
            and len(steps) >= 2
            and steps[-2][0] == "values"
            and len(steps[-2][1]) == 1
        ):
            args = steps[-2][1]
            steps = steps[:-2] + [(name, args, kw)]
        body = steps[:-1]
        if name == "values":
            # bare __.values(k): TinkerPop's default fold — value list
            if body:
                raise GremlinError(
                    "group().by(__) value traversal must end in an aggregation"
                )
            agg = F.array_sort(F.collect_list(F.col(_p(t.cur, args[0])))).alias("value")
        elif not body:
            # element-scoped terminal: aggregate the group's own rows
            if name == "count":
                agg = F.count(F.lit(1)).alias("value")
            elif name == "fold":
                agg = F.array_sort(F.collect_list(F.col(_p(t.cur, "id")))).alias("value")
            else:
                fn = {"sum_": F.sum, "mean": F.avg, "min_": F.min, "max_": F.max}[name]
                if not args:
                    raise GremlinError(f"group().by(__.{name}(k)) needs a property key")
                agg = fn(F.col(_p(t.cur, args[0]))).alias("value")
        elif name == "mean":
            df = t._anon_value(df, Anon(tuple(body + [("sum_", args, {})])), "_gsum")
            df = t._anon_value(df, Anon(tuple(body + [("count", (), {})])), "_gcnt")
            agg = (F.sum("_gsum") / F.sum("_gcnt")).alias("value")
        elif name == "fold":
            df = t._anon_value(df, Anon(tuple(steps)), "_gval")
            agg = F.array_sort(F.flatten(F.collect_list("_gval"))).alias("value")
        else:
            df = t._anon_value(df, Anon(tuple(steps)), "_gval")
            fn = {"count": F.sum, "sum_": F.sum, "min_": F.min, "max_": F.max}[name]
            agg = fn(F.col("_gval")).alias("value")
        return t._derive(df.groupBy(key).agg(agg), "key", "value")


class _AddV:
    """``g.addV(label).property(k, v)....iterate()`` — CreateNodeOperator
    analogue (mutation.rs:21) on the functional graph."""

    def __init__(self, g: "GremlinSource", label: str) -> None:
        self.g = g
        self.label = label
        self.props: list[tuple[str, Any]] = []

    def property(self, key: str, value: Any) -> "_AddV":
        self.props.append((key, value))
        return self

    def iterate(self) -> "_AddV":
        graph = self.g.graph
        nid = graph.next_node_id()
        from grafeo_spark.graph import literal_row

        self._created = literal_row(
            graph._spark(), {"id": nid, **dict(self.props)}, graph.node_frames.get(self.label)
        )
        self.g._rebind(
            graph.create_nodes(self.label, self._created, ids_disjoint=True, next_id=nid + 1)
        )
        return self

    def toDF(self) -> DataFrame:
        if not hasattr(self, "_created"):
            self.iterate()
        return self._created

    def toList(self) -> list:
        return [tuple(r) for r in self.toDF().collect()]


class _AddE:
    """``g.addE(type).from_(src).to(dst).property(...).iterate()`` —
    CreateEdgeOperator analogue (mutation.rs:189). ``from_``/``to`` accept a
    node id or an anonymous traversal over ``g.V()`` resolving to nodes;
    one edge per (from, to) pair."""

    def __init__(self, g: "GremlinSource", etype: str) -> None:
        self.g = g
        self.etype = etype
        self.src = None
        self.dst = None
        self.props: list[tuple[str, Any]] = []

    def from_(self, spec) -> "_AddE":
        self.src = spec
        return self

    def to(self, spec) -> "_AddE":
        self.dst = spec
        return self

    def property(self, key: str, value: Any) -> "_AddE":
        self.props.append((key, value))
        return self

    def _ids(self, spec, alias: str) -> DataFrame:
        if isinstance(spec, Anon):
            t = self.g.V()._apply_anon(spec)
            if t.kind != "node":
                raise GremlinError("addE from_/to traversals must resolve to nodes")
            return t.df.select(F.col(_p(t.cur, "id")).alias(alias)).distinct()
        from grafeo_spark.graph import local_frame

        spark = next(iter(self.g.graph.node_frames.values())).sparkSession
        return local_frame(spark, [(int(spec),)], f"{alias} long")

    def iterate(self) -> "_AddE":
        if self.src is None or self.dst is None:
            raise GremlinError("addE needs both from_() and to()")
        edges = self._ids(self.src, "src").crossJoin(self._ids(self.dst, "dst"))
        for k, v in self.props:
            edges = edges.withColumn(k, F.lit(v))
        self.g._rebind(self.g.graph.create_edges(self.etype, edges))
        self._created = edges
        return self

    def toDF(self) -> DataFrame:
        if not hasattr(self, "_created"):
            self.iterate()
        return self._created

    def toList(self) -> list:
        return [tuple(r) for r in self.toDF().collect()]


_SACK_OPS = {
    "sum": lambda s, v: s + v,
    "mult": lambda s, v: s * v,
    "minus": lambda s, v: s - v,
    "div": lambda s, v: s / v,
    "min": F.least,
    "max": F.greatest,
    "assign": lambda s, v: v,
}


class _SackStep:
    """Deferred ``sack(operator)`` awaiting its ``.by(key)`` modulator —
    the update form has no meaning without the operand source, so any
    other chained call raises instead of silently skipping the update."""

    def __init__(self, t: Traversal, op: str) -> None:
        self._t = t
        self._op = op

    def by(self, key: str) -> Traversal:
        t = self._t
        val = F.col(_p(t.cur, key)).cast("double")
        return t._derive(
            t.df.withColumn("__sack", _SACK_OPS[self._op](F.col("__sack"), val)),
            t.cur,
            t.kind,
        )

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        raise GremlinError(
            f"sack({self._op!r}) needs a .by(key) modulator naming the "
            "property to fold into the sack"
        )


class _DedupStep:
    """Deferred ``dedup()`` awaiting an optional ``.by(key)`` modulator
    (TinkerPop dedup-by: one traverser per distinct key; which survives
    is unspecified, as in TinkerPop). Any other chained call applies the
    plain id/value dedup and delegates."""

    def __init__(self, t: Traversal) -> None:
        self._t = t

    def by(self, key: str) -> Traversal:
        t = self._t
        col = key if t.kind == "value" else _p(t.cur, key)
        return t._derive(t.df.dropDuplicates([col]), t.cur, t.kind)

    def __getattr__(self, name: str):
        return getattr(self._t._dedup_plain(), name)


class _OrderStep:
    """`.order().by(key[, desc]).by(key2[, ...])...` modulator (ast.rs
    Order/By). Multiple ``by`` modulators compose a multi-key sort
    (TinkerPop comparator chaining); each key may be a property name or
    an anonymous sub-traversal with a terminal aggregation —
    order().by(__.out('T').count(), desc) — computed per element via the
    same machinery as project/group by-modulators. The sort applies
    lazily: any non-``by`` step (or toDF/toList) finalizes it first."""

    def __init__(self, t: Traversal, specs: tuple = ()) -> None:
        self._t = t
        self._specs = specs

    def by(self, key=None, order: str = "asc") -> "_OrderStep":
        return _OrderStep(self._t, self._specs + ((key, order),))

    def _finalize(self) -> Traversal:
        t = self._t
        specs = self._specs or ((None, "asc"),)
        df = t.df
        keys = []
        tmp: list[str] = []
        for i, (key, order) in enumerate(specs):
            if isinstance(key, Anon):
                col_name = f"__ord_tmp{i}"
                df = t._anon_value(df, key, col_name)
                col = F.col(col_name)
                tmp.append(col_name)
            elif t.kind == "value":
                col = F.col(key) if key else F.col(df.columns[0])
            else:
                col = (
                    F.col(_p(t.cur, key)) if key else F.col(_p(t.cur, "id"))
                )
            keys.append(col.desc() if order in ("desc", "decr") else col.asc())
        if t.kind != "value":
            keys.append(F.col(_p(t.cur, "id")).asc())  # deterministic tie
        out = df.orderBy(*keys)
        if tmp:
            out = out.drop(*tmp)
        return t._derive(out, t.cur, t.kind)

    def toDF(self) -> DataFrame:
        return self._finalize().toDF()

    def toList(self) -> list:
        return self._finalize().toList()

    def __getattr__(self, name: str):
        # any further step finalizes the pending sort and continues on
        # the ordered traversal
        if name.startswith("_"):
            raise AttributeError(name)
        return getattr(self._finalize(), name)


class _WhereStep:
    """``where('a', P.eq('b'))[.by(key)]`` / ``where(P.eq('a'))`` — the
    label-comparison where (ast.rs WhereClause::Predicate): compares two
    step labels (or the current element vs a label when start is None) by
    element id, or by a property via ``by()`` modulators (TinkerPop
    round-robins them over the two sides). Lazy like the other modulator
    steps: any non-``by`` call finalizes."""

    def __init__(self, t: Traversal, start, pred, specs: tuple = ()) -> None:
        self._t = t
        self._start = start
        self._pred = pred
        self._specs = specs

    def by(self, key=None) -> "_WhereStep":
        return _WhereStep(self._t, self._start, self._pred, self._specs + (key,))

    def _finalize(self) -> Traversal:
        t = self._t

        def side(label, spec):
            var = t.cur if label is None else t.labels.get(label)
            if var is None:
                raise GremlinError(f"unknown step label {label!r}")
            if spec is None:
                return F.col(_p(var, "id"))
            c = _p(var, spec)
            return F.col(c) if c in t.df.columns else F.lit(None)

        specs = self._specs or (None,)
        l = side(self._start, specs[0])
        r = side(self._pred.value, specs[1 % len(specs)])
        cmp = {
            "eq": l == r,
            "neq": l != r,
            "gt": l > r,
            "gte": l >= r,
            "lt": l < r,
            "lte": l <= r,
        }.get(self._pred.op)
        if cmp is None:
            raise GremlinError(
                f"where-label comparison does not support P.{self._pred.op}"
            )
        return t._derive(t.df.filter(cmp), t.cur, t.kind)

    def toDF(self) -> DataFrame:
        return self._finalize().toDF()

    def toList(self) -> list:
        return self._finalize().toList()

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        return getattr(self._finalize(), name)


class _SelectStep:
    """``select(a, b, ...)[.by(spec)...]`` (ast.rs Select/By). Without
    modulators: the selected elements' full columns (cur = last label,
    the pre-r7 behavior). With ``by`` specs (round-robin, TinkerPop
    comparator convention): one value column per label — a property
    name, or None for the element id."""

    def __init__(self, t: Traversal, labels: tuple, specs: tuple = ()) -> None:
        self._t = t
        self._labels = labels
        self._specs = specs

    def by(self, spec=None) -> "_SelectStep":
        return _SelectStep(self._t, self._labels, self._specs + (spec,))

    def _finalize(self) -> Traversal:
        t = self._t
        if not self._specs:
            return t._select_plain(self._labels)
        cols = []
        for i, lbl in enumerate(self._labels):
            if lbl not in t.labels:
                raise GremlinError(f"unknown step label {lbl!r}")
            var = t.labels[lbl]
            spec = self._specs[i % len(self._specs)]
            if spec is None:
                cols.append(F.col(_p(var, "id")).alias(lbl))
            elif isinstance(spec, str):
                c = _p(var, spec)
                cols.append(
                    (F.col(c) if c in t.df.columns else F.lit(None)).alias(lbl)
                )
            else:
                raise GremlinError(
                    "select().by() takes a property name or None (id)"
                )
        return t._derive(t.df.select(*cols), "value", "value")

    def toDF(self) -> DataFrame:
        return self._finalize().toDF()

    def toList(self) -> list:
        return self._finalize().toList()

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        return getattr(self._finalize(), name)


class _PathStep:
    """``path()[.by(key)...]`` — by-specs re-project the trail elements
    round-robin; an element lacking the key contributes null. Elements
    render as strings when specs are present (mixed id/property paths
    need one array type)."""

    def __init__(self, t: Traversal, specs: tuple = ()) -> None:
        self._t = t
        self._specs = specs

    def by(self, spec=None) -> "_PathStep":
        return _PathStep(self._t, self._specs + (spec,))

    def _finalize(self) -> Traversal:
        t = self._t
        if not self._specs:
            return t._path_plain()
        ids = t._trail_id_cols()
        cols = []
        for i, var in enumerate(t.trail):
            spec = self._specs[i % len(self._specs)]
            if spec is None:
                cols.append(ids[i].cast("string"))
            else:
                c = _p(var, spec)
                cols.append(
                    (F.col(c) if c in t.df.columns else F.lit(None)).cast(
                        "string"
                    )
                )
        out = t.df.select(F.array(*cols).alias("path"))
        return t._derive(out, "path", "value")

    def toDF(self) -> DataFrame:
        return self._finalize().toDF()

    def toList(self) -> list:
        return self._finalize().toList()

    def __getattr__(self, name: str):
        if name.startswith("_"):
            raise AttributeError(name)
        return getattr(self._finalize(), name)


class GremlinSource:
    """``g`` — the traversal source (GraphTraversalSource analogue).

    ``db`` (optional) is the owning engine: mutation steps rebind both the
    source's and the engine's graph (functional snapshots, like the Cypher
    write path)."""

    def __init__(self, graph: PropertyGraph, db=None) -> None:
        self.graph = graph
        self.db = db
        self.side_effects: dict[str, DataFrame] = {}
        self._sack_init = None

    def withSack(self, init) -> "GremlinSource":
        """``g.withSack(v)`` (TinkerPop sack surface, r13): the sack is a
        per-traverser numeric register, lowered to a ``__sack`` column
        threaded through the traversal frame — set-at-a-time, no
        per-traverser dispatch. Supported: withSack(number) +
        sack(operator).by(key) updates + terminal sack(); see
        Traversal.sack for the boundary."""
        if not isinstance(init, (int, float)) or isinstance(init, bool):
            raise GremlinError("withSack() supports a numeric initial value")
        src = GremlinSource(self.graph, self.db)
        src.side_effects = self.side_effects
        src._sack_init = float(init)
        return src

    def _rebind(self, new_graph: PropertyGraph) -> None:
        self.graph = new_graph
        if self.db is not None:
            self.db.graph = new_graph

    def addV(self, label: str) -> _AddV:
        return _AddV(self, label)

    def addE(self, etype: str) -> _AddE:
        return _AddE(self, etype)

    def V(self, *ids) -> Traversal:
        nodes = self.graph.nodes(None)
        var = "g0"
        df = nodes.select(*[F.col(c).alias(_p(var, c)) for c in nodes.columns])
        if self._sack_init is not None:
            df = df.withColumn("__sack", F.lit(self._sack_init))
        t = Traversal(self, df, var, "node")
        if ids:
            t = t.hasId(*ids)
        return t

    def E(self, *etypes: str) -> Traversal:
        e = None
        for ty in etypes or [None]:
            cur = self.graph.edges(ty) if ty else self.graph.edges(None)
            e = cur if e is None else e.unionByName(cur, allowMissingColumns=True)
        var = "g0"
        df = e.select(*[F.col(c).alias(_p(var, c)) for c in e.columns])
        if self._sack_init is not None:
            df = df.withColumn("__sack", F.lit(self._sack_init))
        t = Traversal(self, df, var, "edge")
        t._edge_types = etypes
        return t


def traversal(graph: PropertyGraph, db=None) -> GremlinSource:
    return GremlinSource(graph, db)
