"""SPARQL → DataFrame compiler over a TripleStore.

Mirrors the reference's RdfPlanner (crates/grafeo-engine/src/query/
planner_rdf.rs): each triple pattern is a filtered scan of the triples
frame (TripleScanSource, execution/source.rs:262), shared variables join
patterns together (TripleJoinOperator, source.rs:368), OPTIONAL is a left
join (plan.rs:512-521), UNION concatenates, FILTER compiles to Column
expressions with SPARQL builtins (planner_rdf.rs:1927-2310 subset).

Variable bindings are flat columns named after the variable; an object
binding takes ``coalesce(o_iri, o_lit)`` (term kind is recoverable via the
``isIRI``-style builtins against the raw columns if needed — this slice
keeps the lexical value, which is what SELECT projects)."""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from grafeo_spark.graph import DELTA_BROADCAST_MAX, TripleStore
from grafeo_spark.lang.sparql import parser as P


class SparqlCompileError(Exception):
    pass


# BFS cap for p+ transitive closure (arbitrary-length SPARQL paths have SET
# semantics, so distinct reachability is exact up to this depth)
PATH_PLUS_MAX_HOPS = 16

# Term-kind heuristic shared with the update path: bound variables collapse
# IRI/literal to one lexical string; an IRI scheme prefix recovers the kind.
_IRI_SHAPE = r"^[A-Za-z][A-Za-z0-9+.\-]*://"


def _pattern_scan(
    ts: TripleStore, tp: P.TriplePattern, uid: int, gvar: Optional[str] = None
) -> tuple[DataFrame, dict[str, str]]:
    """One triple pattern -> filtered scan projecting its variables.
    ``gvar`` (inside ``GRAPH ?g``) binds the store's g column too."""
    if isinstance(tp.p, (P.PathClosure, P.PathAlt, P.PathInverse, P.PathNeg, tuple)):
        if gvar is not None:
            raise SparqlCompileError("property paths inside GRAPH ?var")
        return _path_scan(ts, tp, uid)
    df = ts.df
    if gvar is not None:
        df = df.filter(F.col("g").isNotNull())
    # constant positions become pushed-down filters
    if isinstance(tp.s, P.Iri):
        df = df.filter(F.col("s") == tp.s.value)
    elif isinstance(tp.s, P.Lit):
        raise SparqlCompileError("literal in subject position")
    if isinstance(tp.p, P.Iri):
        df = df.filter(F.col("p") == tp.p.value)
    elif isinstance(tp.p, P.Lit):
        raise SparqlCompileError("literal in predicate position")
    if isinstance(tp.o, P.Iri):
        df = df.filter(F.col("o_iri") == tp.o.value)
    elif isinstance(tp.o, P.Lit):
        df = df.filter(F.col("o_lit") == str(tp.o.value))
    cols: list[Column] = []
    seen: dict[str, str] = {}
    # var name -> SOURCE column expression: equality filters for repeated
    # variables must reference the store's columns (the aliases don't
    # exist until the final select)
    srcs: dict[str, Column] = {}
    for term, col in ((tp.s, F.col("s")), (tp.p, F.col("p")), (tp.o, F.coalesce("o_iri", "o_lit"))):
        if isinstance(term, P.Var):
            if term.name in srcs:
                # same var twice in one pattern: equality filter
                df = df.filter(col == srcs[term.name])
            else:
                cols.append(col.alias(term.name))
                seen[term.name] = term.name
                srcs[term.name] = col
    if gvar is not None:
        if gvar in srcs:
            # graph variable also bound inside the pattern (GRAPH ?g
            # { ?g ?p ?o }): the bindings must agree
            df = df.filter(F.col("g") == srcs[gvar])
        else:
            cols.append(F.col("g").alias(gvar))
            seen[gvar] = gvar
    if not cols:
        cols = [F.lit(1).alias(f"__m{uid}")]
    return df.select(*cols), seen


def _graph_terms(ts: TripleStore) -> DataFrame:
    """Every RDF term occurring in the graph (subjects + objects), as
    identity (src, dst) pairs — the zero-length-path relation the SPARQL
    spec defines for ``p*``/``p?`` with unbound endpoints."""
    terms = ts.df.select(F.col("s").alias("t")).unionAll(
        ts.df.select(F.coalesce("o_iri", "o_lit").alias("t"))
    )
    return terms.distinct().select(F.col("t").alias("src"), F.col("t").alias("dst"))


def _path_frame(ts: TripleStore, p, seeds: Optional[DataFrame] = None) -> DataFrame:
    """Compile any property-path expression to its (src, dst) match
    relation (reference PropertyPath, ast.rs:388). Bag semantics for
    sequence/alternative (unionAll, join), set semantics for closures
    (distinct reachability) per the SPARQL spec. ``seeds`` restricts a
    closure's BFS to the bound subject."""
    from grafeo_spark.operators.expand import reachable_pairs

    if isinstance(p, P.Iri):
        return ts.df.filter(F.col("p") == p.value).select(
            F.col("s").alias("src"), F.coalesce("o_iri", "o_lit").alias("dst")
        )
    if isinstance(p, P.PathInverse):
        f = _path_frame(ts, p.inner)
        return f.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    if isinstance(p, P.PathAlt):
        if all(isinstance(o, P.Iri) for o in p.options):
            # all-IRI alternation folds into ONE scan with an IN filter
            return ts.df.filter(
                F.col("p").isin([o.value for o in p.options])
            ).select(F.col("s").alias("src"), F.coalesce("o_iri", "o_lit").alias("dst"))
        out = None
        for opt in p.options:
            f = _path_frame(ts, opt)
            out = f if out is None else out.unionAll(f)
        return out
    if isinstance(p, P.PathNeg):
        # negated property set (ast.rs:416): one scan per present arm with
        # a NOT-IN predicate filter — Catalyst pushes both to the source.
        # Bag union of the arms per SPARQL 1.1 (a forward and an inverse
        # match are distinct solutions).
        arms = []
        if p.forward is not None:
            f = ts.df
            if p.forward:
                f = f.filter(~F.col("p").isin(list(p.forward)))
            arms.append(
                f.select(F.col("s").alias("src"), F.coalesce("o_iri", "o_lit").alias("dst"))
            )
        if p.inverse is not None:
            f = ts.df
            if p.inverse:
                f = f.filter(~F.col("p").isin(list(p.inverse)))
            arms.append(
                f.select(F.coalesce("o_iri", "o_lit").alias("src"), F.col("s").alias("dst"))
            )
        out = arms[0]
        for a in arms[1:]:
            out = out.unionAll(a)
        return out
    if isinstance(p, tuple) and p[0] == "seq":
        l = _path_frame(ts, p[1]).select(F.col("src"), F.col("dst").alias("_m"))
        r = _path_frame(ts, p[2]).select(F.col("src").alias("_m2"), F.col("dst"))
        return l.join(r, l["_m"] == r["_m2"], "inner").select("src", "dst")
    if isinstance(p, P.PathClosure):
        base = _path_frame(ts, p.inner)
        if p.max_hops == 1:  # p? — zero-or-one, no BFS needed
            hops = base.distinct()
        else:
            # early_exit: per-level eager checkpoint + stop on an empty
            # frontier — without it the 16-level lazy plan compounds
            # join+distinct+anti-join into an analysis-time blowup, and
            # closures usually terminate early
            hops = reachable_pairs(
                base,
                1,
                p.max_hops or PATH_PLUS_MAX_HOPS,
                src_ids=seeds,
                early_exit=True,
            ).select("src", "dst")
        if p.min_hops == 0:
            zero = (
                seeds.select(F.col(seeds.columns[0]).alias("src")).select(
                    "src", F.col("src").alias("dst")
                )
                if seeds is not None
                else _graph_terms(ts)
            )
            hops = hops.unionByName(zero).distinct()
        return hops
    raise SparqlCompileError(f"unsupported property path {p!r}")


def _path_scan(ts: TripleStore, tp: P.TriplePattern, uid: int) -> tuple[DataFrame, dict[str, str]]:
    """A triple pattern whose predicate is a property-path expression —
    lowered through :func:`_path_frame`, then the usual constant filters /
    variable projection. Seeded from a constant subject when given, so a
    bound start never touches the full closure."""
    seeds = None
    if isinstance(tp.s, P.Iri):
        from grafeo_spark.graph import local_frame

        seeds = local_frame(ts.df.sparkSession, [(tp.s.value,)], "id string")
    pairs = _path_frame(ts, tp.p, seeds=seeds)
    if isinstance(tp.s, P.Iri):
        pairs = pairs.filter(F.col("src") == tp.s.value)
    elif isinstance(tp.s, P.Lit):
        raise SparqlCompileError("literal in subject position")
    if isinstance(tp.o, P.Iri):
        pairs = pairs.filter(F.col("dst") == tp.o.value)
    elif isinstance(tp.o, P.Lit):
        pairs = pairs.filter(F.col("dst") == str(tp.o.value))
    cols: list[Column] = []
    seen: dict[str, str] = {}
    for term, col in ((tp.s, F.col("src")), (tp.o, F.col("dst"))):
        if isinstance(term, P.Var):
            if term.name in seen:
                pairs = pairs.filter(col == F.col(seen[term.name]))
            else:
                cols.append(col.alias(term.name))
                seen[term.name] = term.name
    if not cols:
        cols = [F.lit(1).alias(f"__m{uid}")]
    return pairs.select(*cols), seen


def _join_bgp(
    ts: TripleStore, triples: list[P.TriplePattern], gvar: Optional[str] = None
) -> Optional[DataFrame]:
    out: Optional[DataFrame] = None
    for i, tp in enumerate(triples):
        scan, _ = _pattern_scan(ts, tp, i, gvar=gvar)
        if out is None:
            out = scan
        else:
            shared = [c for c in scan.columns if c in out.columns]
            out = out.join(scan, shared, "inner") if shared else out.crossJoin(scan)
    return out


def _values_frame(ts: TripleStore, names: list[str], rows: list[list]) -> DataFrame:
    """VALUES inline data as a one-off frame (lexical string columns, None
    for UNDEF)."""
    py_rows = []
    for row in rows:
        vals = []
        for t in row:
            if t is None:
                vals.append(None)
            elif isinstance(t, P.Iri):
                vals.append(t.value)
            elif isinstance(t, P.Lit):
                vals.append(str(t.value))
            else:
                raise SparqlCompileError("VALUES terms must be constants")
        py_rows.append(tuple(vals))
    schema = ", ".join(f"{n} string" for n in names)
    from grafeo_spark.graph import local_frame

    return local_frame(ts.df.sparkSession, py_rows, schema)


def _triples_vars(tps) -> set:
    out: set = set()
    for tp in tps:
        for t in (tp.s, tp.p, tp.o):
            if isinstance(t, P.Var):
                out.add(t.name)
    return out


def _compile_group_sequential(ts: TripleStore, g: P.GroupPattern):
    """§18.2.2.6 element-order path: BIND ends the current BGP, so
    triples written AFTER a BIND join against the Extend'ed solution.
    Only taken when some bind's variable is used by a later triple (the
    reordering path is equivalent otherwise). Returns the frame with all
    triples AND binds applied, or None to use the reordering path."""
    cuts = list(getattr(g, "bind_cuts", []) or [])
    if len(cuts) != len(g.binds) or not g.binds:
        return None
    needed = any(
        v in _triples_vars(g.triples[c:]) for (v, _e), c in zip(g.binds, cuts)
    )
    if not needed:
        return None
    # vars a bind could be reading from elements this path compiles LAST
    # (VALUES/UNION/GRAPH/subselects — their textual order vs the binds is
    # not recorded): evaluating those as unbound here could silently
    # change the reordering path's answer, so reject the mix loudly.
    other_sources: set = set()
    for names, _rows in g.values:
        other_sources |= set(names)
    for left, right in g.unions:
        other_sources |= _group_vars(left) | _group_vars(right)
    for _gterm, gg in g.graphs:
        other_sources |= _group_vars(gg)
    for sq in g.subselects:
        other_sources |= set(sq.variables)
    out = _join_bgp(ts, g.triples[: cuts[0]]) if cuts[0] else None
    bound = _triples_vars(g.triples[: cuts[0]])
    for i, (v, e) in enumerate(g.binds):
        evars = _expr_vars(e) | _exists_pattern_vars(e)
        ambiguous = (evars - bound) & other_sources
        if ambiguous:
            raise SparqlCompileError(
                "BIND before a triple that uses its variable cannot also "
                f"read variables {sorted(ambiguous)} bound by VALUES/UNION/"
                "GRAPH/subquery in the same group — split the group"
            )
        if out is None:
            out = ts.df.sparkSession.range(1).select(F.lit(1).alias("__m0"))
        out, e = _hoist_exists_expr(ts, out, e)
        out = out.withColumn(v, _filter_col(e, out))
        bound.add(v)
        nxt = cuts[i + 1] if i + 1 < len(cuts) else len(g.triples)
        seg = g.triples[cuts[i]: nxt]
        if seg:
            sub = _join_bgp(ts, seg)
            shared = [c for c in sub.columns if c in out.columns]
            out = out.join(sub, shared, "inner") if shared else out.crossJoin(sub)
            bound |= _triples_vars(seg)
    if "__m0" in out.columns:
        out = out.drop("__m0")
    return out


def _compile_group(ts: TripleStore, g: P.GroupPattern) -> DataFrame:
    seq = _compile_group_sequential(ts, g)
    binds_applied = seq is not None
    out = seq if binds_applied else _join_bgp(ts, g.triples)
    for gterm, gg in g.graphs:
        # GRAPH <g> narrows the store (constant graphs prune at the scan,
        # so property paths etc. all work unchanged); GRAPH ?g binds the
        # g column as a variable (plan.rs:665-734 Graph patterns)
        if isinstance(gterm, P.Iri):
            sub = _compile_group(
                TripleStore(ts.df.filter(F.col("g") == gterm.value)), gg
            )
        else:
            if gg.optionals or gg.unions or gg.minuses or gg.graphs:
                raise SparqlCompileError(
                    "GRAPH ?var supports basic patterns + FILTER only"
                )
            sub = _join_bgp(ts, gg.triples, gvar=gterm.name)
            if sub is None:
                raise SparqlCompileError("empty GRAPH pattern")
            for f in gg.filters:
                sub = sub.filter(_filter_col(f, sub))
        if out is None:
            out = sub
        else:
            shared = [c for c in sub.columns if c in out.columns]
            out = out.join(sub, shared, "inner") if shared else out.crossJoin(sub)
    for left, right in g.unions:
        l = _compile_group(ts, left)
        r = _compile_group(ts, right)
        u = l.unionByName(r, allowMissingColumns=True)
        if out is None:
            out = u
        else:
            shared = [c for c in u.columns if c in out.columns]
            out = out.join(u, shared, "inner") if shared else out.crossJoin(u)
    for names, rows in g.values:
        v = _values_frame(ts, names, rows)
        if out is None:
            out = v
        else:
            shared = [c for c in v.columns if c in out.columns]
            if not shared:
                out = out.crossJoin(v)
            elif any(
                row[names.index(c)] is None for row in rows for c in shared
            ):
                # UNDEF in a join column: SPARQL compatibility join — an
                # unbound side never constrains, and the surviving row
                # binds whichever side is bound (§10.2 multiset join).
                # The VALUES side is a literal block, so the theta join
                # broadcasts; no scale concern.
                ren = v.select(
                    *[
                        F.col(c).alias(f"__vv_{c}") if c in shared else F.col(c)
                        for c in v.columns
                    ]
                )
                cond = F.lit(True)
                for c in shared:
                    cond = cond & (
                        F.col(f"__vv_{c}").isNull()
                        | F.col(c).isNull()
                        | (F.col(c) == F.col(f"__vv_{c}"))
                    )
                out = out.join(ren, cond, "inner")
                for c in shared:
                    out = out.withColumn(
                        c, F.coalesce(F.col(c), F.col(f"__vv_{c}"))
                    ).drop(f"__vv_{c}")
            else:
                out = out.join(v, shared, "inner")
    for sq in g.subselects:
        # { SELECT ... } sub-query (ast.rs:322): compiled independently,
        # joined on its projected variables
        sub = compile_select(ts, sq)
        if out is None:
            out = sub
        else:
            shared = [c for c in sub.columns if c in out.columns]
            out = out.join(sub, shared, "inner") if shared else out.crossJoin(sub)
    if out is None and g.binds:
        # a group of only BINDs produces one solution row
        out = ts.df.sparkSession.range(1).select(F.lit(1).alias("__m0"))
    if out is None:
        raise SparqlCompileError("empty graph pattern")
    if not binds_applied:
        for v, e in g.binds:
            # BIND is sequential in the spec; applying after the group's
            # joins is equivalent whenever no later TRIPLE uses the bind
            # var (the _compile_group_sequential path handles that case)
            out, e = _hoist_exists_expr(ts, out, e)
            out = out.withColumn(v, _filter_col(e, out))
    for opt in g.optionals:
        # §8.3.1: OPTIONAL { P2 FILTER(F) } is LeftJoin(P1, P2, F) — F may
        # reference P1's variables, so filters not fully resolvable inside
        # P2 are DEFERRED into the left-join condition over the merged row
        # (r14 probe batch #3: the inner-only evaluation silently treated
        # outer vars as unbound). Filters resolvable inside P2 (and any
        # containing EXISTS, which needs its own hoist frame) stay inner.
        right = None
        deferred: list = []
        if opt.filters:
            import dataclasses as _dc

            base = _compile_group(ts, _dc.replace(opt, filters=[]))
            inner = []
            for f in opt.filters:
                if _expr_has_exists(f):
                    # An EXISTS filter needs its own hoist frame so it
                    # cannot be deferred into the join condition; if it
                    # references outer vars the inner frame lacks, the
                    # hoist would silently treat them as unbound — the
                    # exact wrong-result class the deferred path fixes.
                    # Loudly unsupported instead (probe batch #3 class).
                    fvars = _expr_vars(f) | _exists_pattern_vars(f)
                    outer_only = (fvars & set(out.columns)) - set(base.columns)
                    if outer_only:
                        raise SparqlCompileError(
                            "OPTIONAL filter with EXISTS referencing outer "
                            f"variables {sorted(outer_only)} is not "
                            "supported (would evaluate them as unbound)"
                        )
                    inner.append(f)
                elif _expr_vars(f) <= set(base.columns):
                    inner.append(f)
                else:
                    deferred.append(f)
            if deferred:
                right = base
                for f in inner:
                    right, f = _hoist_exists_expr(ts, right, f)
                    right = right.filter(_filter_col(f, right))
        if right is None:
            right = _compile_group(ts, opt)
            deferred = []
        shared = [c for c in right.columns if c in out.columns]
        if not deferred:
            if shared:
                out = out.join(right, shared, "left")
            else:
                out = out.join(right, F.lit(True), "left")
        else:
            import functools as _ft
            from types import SimpleNamespace

            rren = right
            for c in shared:
                rren = rren.withColumnRenamed(c, "__ropt_" + c)
            # name-resolution shim: deferred filters compile against the
            # merged column namespace (out's names win for shared vars —
            # equal on every matched row by the equi condition)
            shim = SimpleNamespace(
                columns=list(dict.fromkeys(list(out.columns) + list(rren.columns)))
            )
            parts = [F.col(c) == F.col("__ropt_" + c) for c in shared]
            parts += [_filter_col(f, shim) for f in deferred]
            cond = _ft.reduce(lambda a, b: a & b, parts) if parts else F.lit(True)
            out = out.join(rren, cond, "left")
            for c in shared:
                out = out.drop("__ropt_" + c)
    for m in g.minuses:
        right = _compile_group(ts, m)
        shared = [
            c for c in right.columns if c in out.columns and not c.startswith("__m")
        ]
        if shared:
            # SPARQL MINUS: drop solutions compatible with some right
            # solution on the shared domain; disjoint domains remove nothing
            out = out.join(right.select(*shared).distinct(), shared, "left_anti")
    for positive, eg in g.exists:
        right = _compile_group(ts, eg)
        how = "left_semi" if positive else "left_anti"
        shared = [
            c for c in right.columns if c in out.columns and not c.startswith("__")
        ]
        if shared:
            # correlated (NOT) EXISTS: semi/anti join on the shared vars
            out = out.join(right.select(*shared).distinct(), shared, how)
        else:
            # uncorrelated: keeps every row iff the pattern has any match
            probe = right.limit(1).select(F.lit(1).alias("__e"))
            out = out.join(probe, F.lit(True), how)
    for f in g.filters:
        out, f = _hoist_exists_expr(ts, out, f)
        out = out.filter(_filter_col(f, out))
    return out


_EXISTS_FLAGS = iter(range(10**9))


def _hoist_exists_expr(ts: TripleStore, out: DataFrame, e):
    """Rewrite embedded ``EXISTS { pattern }`` expression nodes
    (ast.rs:574 Expression::Exists) onto boolean flag columns: the
    pattern compiles once, a distinct projection of the shared variables
    left-joins a TRUE flag onto the solution frame, and the node becomes
    COALESCE(flag, false). Uncorrelated patterns cross-join a one-row
    any-match probe. Returns (new_frame, rewritten_expr)."""
    if not isinstance(e, P.FExpr):
        return out, e
    if e.op == "exists_group":
        sub = _compile_group(ts, e.args[0])
        flag = f"__exf{next(_EXISTS_FLAGS)}"
        shared = [
            c for c in sub.columns if c in out.columns and not c.startswith("__")
        ]
        if shared:
            # SPARQL substitution semantics (§17.4.1.4): a shared variable
            # that is UNBOUND in the solution row (null, e.g. from
            # OPTIONAL) stays free in the pattern, so it must not
            # constrain the probe. Decompose by NULL-PATTERN: rows with a
            # given subset S of shared vars null equi-join the probe
            # projected (and re-deduped) onto shared∖S — every branch is a
            # shuffle-bounded equi-join, never a nested-loop wildcard
            # theta-join (the r12 fallback degraded quadratically when
            # many unbound rows met a large probe). Probes are distinct on
            # their join keys, so cardinality is preserved without a
            # row-id dedup. All-null rows take the uncorrelated any-match
            # probe.
            import functools as _ft
            from itertools import combinations

            # lazily persist both decomposition inputs: every null-pattern
            # branch references `out` and `probe`, so an unpersisted plan
            # re-executes the whole upstream pipeline up to 32× (and the
            # k>5 compile-time probe job would run it once more). Lazy
            # .persist() keeps compilation action-free for k<=5 while the
            # first executed branch materializes the cache for the rest.
            # Registered on the store's exists-cache so the NEXT query
            # drains them — without this, each EXISTS query pinned two
            # cached frames for the session lifetime (block-store pile-up,
            # same class as the r13 checkpoint-GC finding).
            out = out.persist()
            probe = sub.select(*shared).distinct().persist()
            reg = getattr(ts, "_exists_cache", None)
            if reg is not None:
                reg.extend((out, probe))
            all_bound = _ft.reduce(
                lambda a, b: a & b, [F.col(c).isNotNull() for c in shared]
            )
            pieces = [
                out.filter(all_bound).join(
                    probe.withColumn(flag, F.lit(True)), shared, "left"
                )
            ]
            k = len(shared)
            if k <= 5:
                # static enumeration: ≤31 branches, lazy plan, no compile
                # action; k is the #shared vars — small in practice
                masks = [
                    s for r in range(1, k + 1) for s in combinations(shared, r)
                ]
            else:
                # wide sharing: enumerate only the null-patterns actually
                # present (one tiny distinct job, ≤2^k rows, practically
                # a handful)
                present = (
                    out.filter(~all_bound)
                    .select(*[F.col(c).isNull().alias(c) for c in shared])
                    .distinct()
                    .collect()
                )
                masks = [tuple(c for c in shared if row[c]) for row in present]
                masks = [m for m in masks if m]
            for null_cols in masks:
                is_grp = _ft.reduce(
                    lambda a, b: a & b,
                    [F.col(c).isNull() for c in null_cols]
                    + [
                        F.col(c).isNotNull()
                        for c in shared
                        if c not in null_cols
                    ],
                )
                grp = out.filter(is_grp)
                keys = [c for c in shared if c not in null_cols]
                if keys:
                    p = (
                        probe.select(*keys)
                        .distinct()
                        .withColumn(flag, F.lit(True))
                    )
                    pieces.append(grp.join(p, keys, "left"))
                else:
                    any_probe = (
                        probe.limit(1)
                        .agg(F.count(F.lit(1)).alias("_c"))
                        .select((F.col("_c") > 0).alias(flag))
                    )
                    pieces.append(grp.crossJoin(any_probe))
            out = _ft.reduce(lambda a, b: a.unionByName(b), pieces)
        else:
            probe = (
                sub.limit(1)
                .agg(F.count(F.lit(1)).alias("_c"))
                .select((F.col("_c") > 0).alias(flag))
            )
            out = out.crossJoin(probe)
        return out, P.FExpr("call:coalesce", (P.Var(flag), P.Lit(False)))
    args = []
    for a in e.args:
        out, na = _hoist_exists_expr(ts, out, a)
        args.append(na)
    return out, P.FExpr(e.op, tuple(args))


def _valid_regex(pattern: str) -> bool:
    """Compile-time validity probe: an invalid REGEX/REPLACE pattern is a
    SPARQL evaluation error (-> unbound), never a runtime throw."""
    import re as _re

    try:
        _re.compile(pattern)
        return True
    except _re.error:
        return False


def _expr_vars(e) -> set:
    """All variable names referenced by a filter expression tree."""
    if isinstance(e, P.Var):
        return {e.name}
    if isinstance(e, P.FExpr):
        out: set = set()
        for a in e.args:
            out |= _expr_vars(a)
        return out
    return set()


def _expr_has_exists(e) -> bool:
    if isinstance(e, P.FExpr):
        if e.op == "exists_group":
            return True
        return any(_expr_has_exists(a) for a in e.args)
    return False


def _group_vars(g) -> set:
    """All variable names mentioned anywhere in a group pattern
    (triples, filters, nested groups, binds, VALUES, subselects)."""
    out: set = set()
    for tp in g.triples:
        for t in (tp.s, tp.p, tp.o):
            if isinstance(t, P.Var):
                out.add(t.name)
    for f in g.filters:
        out |= _expr_vars(f) | _exists_pattern_vars(f)
    for opt in g.optionals:
        out |= _group_vars(opt)
    for left, right in g.unions:
        out |= _group_vars(left) | _group_vars(right)
    for names, _rows in g.values:
        out |= set(names)
    for m in g.minuses:
        out |= _group_vars(m)
    for gterm, gg in g.graphs:
        if isinstance(gterm, P.Var):
            out.add(gterm.name)
        out |= _group_vars(gg)
    for v, e in g.binds:
        out.add(v)
        out |= _expr_vars(e) | _exists_pattern_vars(e)
    for _pos, eg in g.exists:
        out |= _group_vars(eg)
    for sq in g.subselects:
        out |= set(sq.variables)
    return out


def _exists_pattern_vars(e) -> set:
    """Vars inside ``EXISTS { pattern }`` nodes of an expression tree —
    _expr_vars misses them (the group arg is neither Var nor FExpr)."""
    if isinstance(e, P.FExpr):
        if e.op == "exists_group":
            return _group_vars(e.args[0])
        out: set = set()
        for a in e.args:
            out |= _exists_pattern_vars(a)
        return out
    return set()


def _term_col(t, df: DataFrame) -> Column:
    if isinstance(t, P.Var):
        if t.name not in df.columns:
            return F.lit(None)  # unbound -> null (SPARQL error -> unbound)
        return F.col(t.name)
    if isinstance(t, P.Iri):
        return F.lit(t.value)
    if isinstance(t, P.Lit):
        return F.lit(t.value)
    raise SparqlCompileError(f"unexpected term {t!r}")


def _filter_col(e, df: DataFrame) -> Column:
    if isinstance(e, P.FExpr):
        op = e.op
        if op in ("=", "!=", "<", "<=", ">", ">="):
            l, r = (_filter_col(a, df) for a in e.args)
            # numeric comparison when either side is a numeric literal
            if any(isinstance(a, P.Lit) and isinstance(a.value, (int, float)) for a in e.args):
                l, r = l.cast("double"), r.cast("double")
            return {
                "=": l == r,
                "!=": l != r,
                "<": l < r,
                "<=": l <= r,
                ">": l > r,
                ">=": l >= r,
            }[op]
        if op in ("+", "-", "*", "/"):
            # SPARQL numeric expressions (§17.3): lexical string columns
            # coerce to double; typed numeric columns (COUNT outputs etc.)
            # keep their type so int arithmetic stays int. Spark's `/` on
            # integers already returns fractional, matching xsd:decimal
            # division. try_* variants, not the raw operators: SPARQL
            # evaluation errors (x/0, overflow) must PROPAGATE — BIND
            # leaves the var unbound, FILTER treats the row as false
            # (§17.2) — while Spark 4's ANSI mode would throw and kill
            # the query (caught by the round-8 division-by-zero pin).
            l, r = (_num_col(a, df) for a in e.args)
            return {
                "+": F.try_add(l, r),
                "-": F.try_subtract(l, r),
                "*": F.try_multiply(l, r),
                "/": F.try_divide(l, r),
            }[op]
        if op == "neg":
            return -_num_col(e.args[0], df)
        if op == "and":
            return _filter_col(e.args[0], df) & _filter_col(e.args[1], df)
        if op == "or":
            return _filter_col(e.args[0], df) | _filter_col(e.args[1], df)
        if op == "not":
            return ~_filter_col(e.args[0], df)
        if op == "regex":
            pat = e.args[1]
            flags = e.args[2].value if len(e.args) > 2 and isinstance(e.args[2], P.Lit) else ""
            pattern = pat.value if isinstance(pat, P.Lit) else None
            if pattern is None:
                raise SparqlCompileError("regex pattern must be a literal")
            if not _valid_regex(pattern):
                # invalid pattern is an evaluation error -> unbound (§17.2)
                return F.lit(None).cast("boolean")
            if "i" in str(flags):
                pattern = "(?i)" + pattern
            return _filter_col(e.args[0], df).rlike(pattern)
        if op == "bound":
            return _filter_col(e.args[0], df).isNotNull()
        if op == "in":
            # ?x IN (e1, e2, ...) — OR of equalities (members may be
            # arbitrary expressions, so Column.isin's literal list is
            # not general enough)
            left = _filter_col(e.args[0], df)
            cond = F.lit(False)
            for m in e.args[1:]:
                cond = cond | (left == _filter_col(m, df))
            return cond
        if op == "call:replace":
            # REPLACE(str, pattern, replacement[, flags]) — pattern and
            # replacement must be literals so flags can fold into the regex
            s = _filter_col(e.args[0], df)
            pat, rep = e.args[1], e.args[2]
            if not isinstance(pat, P.Lit) or not isinstance(rep, P.Lit):
                raise SparqlCompileError("REPLACE pattern/replacement must be literals")
            pattern = str(pat.value)
            if not _valid_regex(pattern):
                return F.lit(None).cast("string")
            flags = str(e.args[3].value) if len(e.args) > 3 and isinstance(e.args[3], P.Lit) else ""
            if "i" in flags:
                pattern = "(?i)" + pattern
            return F.regexp_replace(s, pattern, str(rep.value))
        if op.startswith("cast:"):
            # xsd constructor casts (SPARQL 1.1 §17.5; superset — the
            # reference resolves no cast functions, planner_rdf.rs:1927+)
            return _filter_col(e.args[0], df).cast(op[5:])
        if op.startswith("call:"):
            return _builtin(op[5:], [_filter_col(a, df) for a in e.args])
        raise SparqlCompileError(f"unsupported filter op {op!r}")
    return _term_col(e, df)


def _num_col(e, df: DataFrame) -> Column:
    """Numeric view of an operand: lexical (string) columns cast to
    double, already-numeric columns pass through unchanged."""
    c = _filter_col(e, df)
    try:
        dt = df.select(c.alias("_t")).schema[0].dataType.simpleString()
    except Exception:  # noqa: BLE001 — unanalyzable; assume lexical
        dt = "string"
    return c.cast("double") if dt == "string" else c


def _builtin(name: str, args: list[Column]) -> Column:
    """SPARQL builtins subset (planner_rdf.rs:1927-2310)."""
    table = {
        "str": lambda a: a[0].cast("string"),
        "strlen": lambda a: F.length(a[0]),
        "ucase": lambda a: F.upper(a[0]),
        "lcase": lambda a: F.lower(a[0]),
        "upper": lambda a: F.upper(a[0]),
        "lower": lambda a: F.lower(a[0]),
        "contains": lambda a: a[0].contains(a[1]),
        "strstarts": lambda a: a[0].startswith(a[1]),
        "strends": lambda a: a[0].endswith(a[1]),
        # SPARQL §17.4.3.4-5: "" when the separator is absent. instr via
        # call_function because F.substring_index/F.locate require plain
        # Python delimiters, not Columns; instr('abc','') = 1 also gives
        # the spec's empty-separator results (STRBEFORE -> "",
        # STRAFTER -> whole string)
        # the trailing .otherwise("") is the spec's absent-separator arm;
        # null (unbound/error) inputs must stay null — SPARQL type errors
        # propagate to unbound, they don't hit the "" arm — hence the
        # explicit isNull guard before it (caught by the SPARQL fuzzer)
        "strbefore": lambda a: F.when(
            a[0].isNull() | a[1].isNull(), F.lit(None).cast("string")
        )
        .when(
            F.call_function("instr", a[0], a[1]) > 0,
            a[0].substr(F.lit(1), F.call_function("instr", a[0], a[1]) - 1),
        )
        .otherwise(F.lit("")),
        "strafter": lambda a: F.when(
            a[0].isNull() | a[1].isNull(), F.lit(None).cast("string")
        )
        .when(
            F.call_function("instr", a[0], a[1]) > 0,
            a[0].substr(
                F.call_function("instr", a[0], a[1]) + F.length(a[1]),
                F.length(a[0]),
            ),
        )
        .otherwise(F.lit("")),
        "substr": lambda a: a[0].substr(a[1].cast("int"), a[2].cast("int")) if len(a) > 2 else a[0].substr(a[1].cast("int"), F.length(a[0])),
        "concat": lambda a: F.concat(*a),
        "abs": lambda a: F.abs(a[0]),
        "ceil": lambda a: F.ceil(a[0]),
        "floor": lambda a: F.floor(a[0]),
        "round": lambda a: F.round(a[0], 0),
        "coalesce": lambda a: F.coalesce(*a),
        # IF(error, t, e) is an error (§17.4.1.2) — a null condition must
        # yield null, not fall through to the ELSE arm
        "if": lambda a: F.when(a[0].isNull(), F.lit(None)).when(a[0], a[1]).otherwise(a[2]),
        # percent-encoding: url_encode is form-encoding; space fixes up
        "encode_for_uri": lambda a: F.replace(
            F.url_encode(a[0]), F.lit("+"), F.lit("%20")
        ),
        # term-kind tests over the collapsed lexical binding (the scheme
        # heuristic shared with the update template path)
        # all four propagate unbound/error inputs as null (§17.2: type
        # error on an unbound argument), not false
        "isiri": lambda a: a[0].rlike(_IRI_SHAPE),
        "isuri": lambda a: a[0].rlike(_IRI_SHAPE),
        "isblank": lambda a: a[0].startswith("_:"),
        "isliteral": lambda a: F.when(a[0].isNull(), F.lit(None).cast("boolean")).otherwise(
            ~a[0].rlike(_IRI_SHAPE) & ~a[0].startswith("_:")
        ),
        "isnumeric": lambda a: F.when(a[0].isNull(), F.lit(None).cast("boolean")).otherwise(
            a[0].cast("double").isNotNull()
        ),
        # sameTerm: exact RDF-term identity — in the collapsed lexical
        # binding model that is strict string equality, no numeric
        # coercion (SPARQL §17.4.1.8; filter ops in planner_rdf.rs)
        "sameterm": lambda a: a[0] == a[1],
        # language functions over the collapsed lexical store (which keeps
        # no language tags — ast.rs:427 parses them, this model drops
        # them): LANG() is "" for every bound value (null stays null),
        # and langMatches("", range) is false for every range per
        # §17.4.3.1 (the empty tag matches nothing, not even "*")
        "lang": lambda a: F.when(a[0].isNull(), F.lit(None).cast("string")).otherwise(
            F.lit("")
        ),
        "langmatches": lambda a: F.when(
            a[0].isNull() | a[1].isNull(), F.lit(None).cast("boolean")
        ).otherwise(F.lit(False)),
        # STRLANG/STRDT construct tagged/typed literals; collapsed to the
        # lexical form
        "strlang": lambda a: F.when(a[1].isNull(), F.lit(None)).otherwise(
            a[0].cast("string")
        ),
        "strdt": lambda a: F.when(a[1].isNull(), F.lit(None)).otherwise(
            a[0].cast("string")
        ),
        # IRI construction (§17.4.2.7-8): in the collapsed lexical model
        # an IRI IS its string, so IRI()/URI() pass the lexical form
        # through (enables the IRI(CONCAT(STR(?x), ...)) minting idiom);
        # BNODE(str) mints a label deterministically from its argument.
        # datatype() stays unsupported-loud: the collapsed binding keeps
        # no datatype metadata to answer it truthfully.
        "iri": lambda a: a[0].cast("string"),
        "uri": lambda a: a[0].cast("string"),
        "bnode": lambda a: (
            F.concat(F.lit("_:"), a[0].cast("string"))
            if a
            else F.concat(F.lit("_:b"), F.expr("uuid()"))
        ),
    }
    if name not in table:
        raise SparqlCompileError(f"unsupported builtin {name}()")
    return table[name](args)


_AGG_FNS = {
    "count": (F.count, F.count_distinct),
    "sum": (F.sum, F.sum_distinct),
    "avg": (F.avg, None),
    "min": (F.min, None),
    "max": (F.max, None),
}


def _resolve_having(e, q: P.SelectQuery):
    """HAVING and ORDER BY may repeat an aggregate call — e.g.
    HAVING (COUNT(?x) = 0), ORDER BY DESC(COUNT(?c)) — rather than name
    its alias; resolve such calls to the aggregate's output column (the
    aggregation itself already ran)."""
    if not isinstance(e, P.FExpr):
        return e
    if e.op.startswith("call:"):
        fn = e.op[5:]
        if fn in P._AGG_NAMES:
            args, meta = e.args, None
            if args and isinstance(args[-1], P.FExpr) and args[-1].op == "__aggmeta__":
                meta, args = args[-1].args, args[:-1]
            argname = args[0].name if args and isinstance(args[0], P.Var) else "*"
            for entry in q.aggregates:
                if entry[0] == fn and entry[1] == argname:
                    if meta is not None:
                        want_distinct = bool(entry[3]) if len(entry) > 3 else False
                        # SPARQL's default GROUP_CONCAT separator is " "
                        want_sep = entry[4] if len(entry) > 4 else " "
                        got_distinct, got_sep = meta
                        sep_differs = (
                            fn == "group_concat"
                            and got_sep is not None
                            and got_sep != want_sep
                        )
                        if got_distinct != want_distinct or sep_differs:
                            # silently resolving to a differently-modified
                            # SELECT aggregate would order/filter by the
                            # wrong value
                            raise SparqlCompileError(
                                f"aggregate call {fn.upper()}(?{argname}) in "
                                "HAVING/ORDER BY repeats a SELECT aggregate "
                                "with different DISTINCT/separator modifiers "
                                f"(SELECT has DISTINCT={want_distinct}); alias "
                                "the SELECT aggregate and reference the alias"
                            )
                    return P.Var(entry[2])
            raise SparqlCompileError(
                f"aggregate call {fn.upper()}(?{argname}) in HAVING/ORDER BY "
                "has no matching SELECT aggregate"
            )
    return P.FExpr(e.op, tuple(_resolve_having(a, q) for a in e.args))


def _hoist_aggregates(q: P.SelectQuery) -> None:
    """Aggregates embedded in larger expressions — composite SELECT
    projections like ``((SUM(?b) / COUNT(?b)) AS ?m)`` (§18.2.4.4's
    sample-then-project algebra) and HAVING / ORDER BY aggregate calls
    with no matching SELECT aggregate (legal per §11.1: HAVING may use
    aggregates that are not projected) — are hoisted into hidden
    aggregate entries (``__hagg*`` aliases) computed alongside the
    declared ones, and the call sites are rewritten to the alias var.
    Idempotent: rewritten trees contain no aggregate calls, and repeat
    hoists resolve to the already-registered entries by signature."""

    def sig_of(entry):
        fn, arg, alias, distinct, *rest = entry
        return (fn, arg, bool(distinct), rest[0] if rest else None)

    existing = {sig_of(e): e[2] for e in q.aggregates}
    counter = [0]

    def ensure(fn, argexpr, distinct, sep) -> str:
        if argexpr == "*":
            argname = "*"
        elif isinstance(argexpr, P.Var):
            argname = argexpr.name
        else:
            # computed argument: bind it to a fresh pre-agg column first
            argname = f"__haggarg{len(q.pre_binds)}"
            q.pre_binds.append((argname, argexpr))
        key = (fn, argname, bool(distinct), sep if fn == "group_concat" else None)
        if key in existing:
            return existing[key]
        alias = f"__hagg{counter[0]}"
        counter[0] += 1
        entry = (fn, argname, alias, bool(distinct)) + (
            (sep,) if sep is not None else ()
        )
        q.aggregates.append(entry)
        existing[key] = alias
        return alias

    def walk(e):
        if not isinstance(e, P.FExpr):
            return e
        if e.op.startswith("call:") and e.op[5:] in P._AGG_NAMES:
            fn = e.op[5:]
            args, (distinct, sep) = e.args, (False, None)
            if args and isinstance(args[-1], P.FExpr) and args[-1].op == "__aggmeta__":
                (distinct, sep), args = args[-1].args, args[:-1]
            arg = args[0] if args else "*"
            return P.Var(ensure(fn, arg, distinct, sep))
        return P.FExpr(e.op, tuple(walk(a) for a in e.args))

    def has_agg(e) -> bool:
        if not isinstance(e, P.FExpr):
            return False
        if e.op.startswith("call:") and e.op[5:] in P._AGG_NAMES:
            return True
        return any(has_agg(a) for a in e.args)

    # SELECT expressions: rewrite only those that embed an aggregate (a
    # plain per-row expression in a non-aggregate query must stay as-is)
    q.select_exprs[:] = [
        (alias, walk(e) if has_agg(e) else e) for alias, e in q.select_exprs
    ]
    # HAVING / ORDER BY: calls matching a SELECT aggregate's signature
    # reuse its alias; the rest get hidden entries. (GROUP BY without any
    # SELECT aggregate still admits HAVING aggregates, hence the q.group_by
    # arm.)
    if q.aggregates or q.group_by:
        if q.having is not None and has_agg(q.having):
            q.having = walk(q.having)
        q.order[:] = [
            (walk(t) if isinstance(t, P.FExpr) and has_agg(t) else t, asc)
            for t, asc in q.order
        ]


def compile_select(ts: TripleStore, q: P.SelectQuery) -> DataFrame:
    _hoist_aggregates(q)
    out = _compile_group(ts, q.where)
    for name, e in q.pre_binds:
        out, e = _hoist_exists_expr(ts, out, e)
        out = out.withColumn(name, _filter_col(e, out))
    if q.aggregates:
        aggs = []
        for fn, arg, alias, distinct, *rest in q.aggregates:
            if fn == "group_concat":
                # deterministic order (sorted) — SPARQL leaves the order
                # unspecified; sorting keeps results reproducible and
                # oracle-comparable (ast.rs:819 GroupConcat)
                sep = rest[0] if rest else " "
                col = F.col(arg).cast("string")
                coll = F.collect_set(col) if distinct else F.collect_list(col)
                aggs.append(F.array_join(F.array_sort(coll), sep).alias(alias))
                continue
            if fn == "sample":
                # SAMPLE (ast.rs:813): any value; first non-null, made
                # deterministic as the minimum
                aggs.append(F.min(F.col(arg)).alias(alias))
                continue
            if fn not in _AGG_FNS:
                raise SparqlCompileError(f"unsupported aggregate {fn.upper()}()")
            plain, dist = _AGG_FNS[fn]
            if arg == "*":
                if fn != "count":
                    raise SparqlCompileError(f"{fn.upper()}(*) is not valid")
                if distinct:
                    # COUNT(DISTINCT *) counts DISTINCT SOLUTIONS (§18.5.1
                    # aggregate over the whole binding row, r13 probe fix:
                    # the old lit(1) arm collapsed it to 1). struct-packed
                    # so rows with unbound vars still count — a bare
                    # multi-column count_distinct skips any-null rows.
                    vis = [c for c in out.columns if not c.startswith("__")]
                    aggs.append(
                        F.count_distinct(
                            F.struct(*[F.col(c) for c in vis])
                        ).alias(alias)
                        if vis
                        else F.count(F.lit(1)).alias(alias)
                    )
                    continue
                col = F.lit(1)
            else:
                col = F.col(arg)
                if fn in ("sum", "avg"):
                    # try_cast, not cast: a non-numeric lexical is a SPARQL
                    # evaluation error (-> unbound), never an ANSI throw
                    col = col.try_cast("double")
            if distinct:
                if dist is None:
                    raise SparqlCompileError(f"DISTINCT not supported for {fn.upper()}")
                core = dist(col)
            else:
                core = plain(col)
            if fn in ("sum", "avg"):
                # §18.5.1: Sum({}) = 0 and Avg({}) = 0 — a group whose var
                # is unbound everywhere aggregates the EMPTY multiset, not
                # null. But a group containing a non-numeric lexical is an
                # evaluation ERROR -> unbound: distinguish by comparing
                # pre-cast vs post-cast counts (equal = no cast failures).
                core = F.when(
                    F.count(F.col(arg)) == F.count(col),
                    F.coalesce(core, F.lit(0.0)),
                )
            aggs.append(core.alias(alias))
        gkeys: list[str] = []
        if q.group_by:
            # normalize GroupConditions: plain vars group directly;
            # expression conditions ((expr AS ?v) / bare builtin calls)
            # compute a key column first — named by the alias (projectable)
            # or a hidden __grp slot (bare exprs are not projectable, §19.8)
            for gi, g in enumerate(q.group_by):
                if isinstance(g, str):
                    gkeys.append(g)
                else:
                    galias, ge = g
                    name = galias or f"__grp{gi}"
                    out = out.withColumn(name, _filter_col(ge, out))
                    gkeys.append(name)
            out = out.groupBy(*gkeys).agg(*aggs)
        else:
            out = out.agg(*aggs)
        if q.having is not None:
            # HAVING over grouping keys, aggregate aliases, or repeated
            # aggregate calls (resolved onto the output columns)
            out = out.filter(_filter_col(_resolve_having(q.having, q), out))
        for alias, e in q.select_exprs:
            # post-aggregation select expressions (over keys/aliases)
            out = out.withColumn(alias, _filter_col(e, out))
        # hidden (hoisted) aggregates stay in-frame through ORDER BY, then
        # drop — they are not part of the declared projection
        hidden = [a[2] for a in q.aggregates if a[2].startswith("__hagg")] + [
            k for k in gkeys if k.startswith("__grp")
        ]
        proj = (
            (q.variables or [k for k in gkeys if not k.startswith("__grp")])
            + [a[2] for a in q.aggregates if not a[2].startswith("__hagg")]
            + [a for a, _ in q.select_exprs]
        )
        # projected plain vars must be grouping keys
        for v in q.variables:
            if v not in gkeys:
                raise SparqlCompileError(
                    f"?{v} projected alongside aggregates must appear in GROUP BY"
                )
        out = out.select(*dict.fromkeys(proj + hidden))
        out = _apply_modifiers(out, q)
        return out.drop(*hidden) if hidden else out
    for alias, e in q.select_exprs:
        out, e = _hoist_exists_expr(ts, out, e)
        out = out.withColumn(alias, _filter_col(e, out))
    if q.variables or q.select_exprs:
        cols = q.variables + [a for a, _ in q.select_exprs]
        missing = [v for v in cols if v not in out.columns]
        for v in missing:
            out = out.withColumn(v, F.lit(None).cast("string"))
        if not q.distinct:
            # §18.2.4 algebra order: OrderBy runs BEFORE Project, so an
            # ORDER BY term may reference WHERE-scope vars that are not
            # projected (r14 probe batch #4: ORDER BY DESC(xsd:integer(?a))
            # with only ?p projected silently sorted by null). Slice too —
            # a pre-projection top-k is also the better plan. DISTINCT
            # queries keep project-then-distinct-then-order (the standard
            # order-terms-must-be-projected restriction).
            out = _apply_modifiers(out, q)
            return out.select(*cols)
        out = out.select(*cols)
    else:
        out = out.select(
            *[
                c
                for c in out.columns
                if not (c.startswith("__m") or c.startswith("__pp") or c.startswith("__exf"))
            ]
        )
    if q.distinct:
        out = out.distinct()
    return _apply_modifiers(out, q)


def _apply_modifiers(out: DataFrame, q: P.SelectQuery) -> DataFrame:
    if q.order:
        # terms are var names (str) or expressions (FExpr); an aggregate
        # call resolves to its SELECT alias via the HAVING machinery —
        # ORDER BY DESC(COUNT(?c)) sorts by the already-computed column
        from pyspark.sql.types import StringType

        keys = []
        for term, asc in q.order:
            col = (
                F.col(term)
                if isinstance(term, str)
                else _filter_col(_resolve_having(term, q), out)
            )
            if isinstance(term, str) and term in out.columns and isinstance(
                out.schema[term].dataType, StringType
            ):
                # §15.1 term-kind order precedes value order:
                # unbound < blank node < IRI < literal (r14 probe batch
                # #3). Kind is recovered by the documented _IRI_SHAPE
                # heuristic (same as the isIRI builtin); string columns
                # only — typed columns (aggregates, group exprs) hold one
                # kind by construction.
                kind = (
                    F.when(col.isNull(), 0)
                    .when(col.startswith("_:"), 1)
                    .when(col.rlike(_IRI_SHAPE), 2)
                    .otherwise(3)
                )
                keys.append(kind.asc() if asc else kind.desc())
            # §15.1: an unbound value sorts LOWEST — first under ASC,
            # last under DESC (was asc_nulls_last, found by r13 probing)
            keys.append(col.asc_nulls_first() if asc else col.desc_nulls_last())
        out = out.orderBy(*keys)
    if q.offset is not None:
        out = out.offset(q.offset)
    if q.limit is not None:
        out = out.limit(q.limit)
    return out


def compile_ask(ts: TripleStore, q: P.AskQuery) -> DataFrame:
    """ASK (ast.rs:51-64): one row, boolean ``ask`` — EXISTS over the
    pattern, evaluated as count(limit 1) > 0 so the scan short-circuits."""
    out = _compile_group(ts, q.where)
    return out.limit(1).agg((F.count(F.lit(1)) > 0).alias("ask"))


def compile_construct(ts: TripleStore, q: P.ConstructQuery) -> DataFrame:
    """CONSTRUCT (ast.rs:51-64): instantiate the template against the WHERE
    bindings; returns distinct (s, p, o) lexical triples."""
    bindings = _compile_group(ts, q.where)
    rows = _template_rows(ts.df.sparkSession, q.template, bindings)
    return rows.select("s", "p", F.coalesce("o_iri", "o_lit").alias("o")).distinct()


def compile_describe(ts: TripleStore, q: P.DescribeQuery) -> DataFrame:
    """DESCRIBE (ast.rs:51-64): the subject-rooted description — every
    triple whose subject is a described resource (constant IRIs plus each
    variable's bindings from WHERE), as distinct (s, p, o) lexical rows."""
    spark = ts.df.sparkSession
    frames = []
    iris = [t.value for t in q.terms if isinstance(t, P.Iri)]
    if iris:
        from grafeo_spark.graph import local_frame

        frames.append(local_frame(spark, [(i,) for i in iris], "s string"))
    vars_ = [t.name for t in q.terms if isinstance(t, P.Var)]
    if vars_:
        if q.where is None:
            raise SparqlCompileError("DESCRIBE ?var needs a WHERE pattern")
        bindings = _compile_group(ts, q.where)
        for v in vars_:
            if v not in bindings.columns:
                raise SparqlCompileError(f"DESCRIBE ?{v} not bound in WHERE")
            frames.append(bindings.select(F.col(v).alias("s")).distinct())
    subjects = frames[0]
    for f in frames[1:]:
        subjects = subjects.unionByName(f)
    return (
        ts.df.join(subjects.distinct(), "s", "left_semi")
        .select("s", "p", F.coalesce("o_iri", "o_lit").alias("o"))
        .distinct()
    )


def sparql(ts: TripleStore, query: str) -> DataFrame:
    # evict the PREVIOUS query's EXISTS-decomposition cache: its result
    # has been consumed by now, and draining here (not at compile end)
    # keeps the current query's frames cached while the caller runs it
    drain = getattr(ts, "drain_exists_cache", None)
    if drain is not None:
        drain()
    q = P.parse(query)
    if isinstance(q, P.UpdateQuery):
        raise SparqlCompileError("update query — use sparql_update()")
    if isinstance(q, P.AskQuery):
        return compile_ask(ts, q)
    if isinstance(q, P.ConstructQuery):
        return compile_construct(ts, q)
    if isinstance(q, P.DescribeQuery):
        return compile_describe(ts, q)
    return compile_select(ts, q)


# -- updates --------------------------------------------------------------

# A bound variable's RDF-term kind (IRI vs literal) is collapsed to a
# string in the bindings frame; when a template re-emits it, values with an
# IRI scheme (_IRI_SHAPE above) go to o_iri, everything else to o_lit.
# Exact for this slice's corpus (full http:// IRIs); constants are always
# placed exactly.


def _obj_cols(term, df: DataFrame | None) -> tuple[Column, Column, Column]:
    """(o_iri, o_lit, o_dt) for a template object term."""
    if isinstance(term, P.Iri):
        return F.lit(term.value), F.lit(None).cast("string"), F.lit(None).cast("string")
    if isinstance(term, P.Lit):
        return (
            F.lit(None).cast("string"),
            F.lit(str(term.value)),
            F.lit(term.datatype).cast("string"),
        )
    b = _fresh_bnode_col(term, df)
    if b is not None:
        # a blank-node object is a node reference, never a literal
        return b, F.lit(None).cast("string"), F.lit(None).cast("string")
    val = _term_col(term, df) if df is not None else F.lit(None)
    is_iri = val.rlike(_IRI_SHAPE)
    return (
        F.when(is_iri, val),
        F.when(~is_iri, val.cast("string")),
        F.lit(None).cast("string"),
    )


def _fresh_bnode_col(term: "P.Var", df: DataFrame | None) -> Optional[Column]:
    """Column for a template bnode variable (SPARQL §16.2.1: template
    bNodes instantiate fresh per solution — _template_rows pre-mints one
    column per label so the same _:label is the SAME fresh node across
    the template's triples). Bound bnode variables (the WHERE pattern
    used the same _:label) keep their binding — the reference's
    treat-as-variable lowering (sparql_translator.rs:730-740). Returns
    None when not a bnode var."""
    if not (isinstance(term, P.Var) and term.name.startswith("_:")):
        return None
    if df is not None and term.name in df.columns:
        return F.col(f"`{term.name}`")
    return F.concat(
        F.lit(term.name + "#"), F.monotonically_increasing_id().cast("string")
    )


def _iri_col(term, df: DataFrame | None, pos: str) -> Column:
    if isinstance(term, P.Iri):
        return F.lit(term.value)
    b = _fresh_bnode_col(term, df)
    if b is not None:
        return b
    if isinstance(term, P.Var) and df is not None:
        return _term_col(term, df)
    raise SparqlCompileError(f"unexpected {pos} term {term!r} in template")


def _template_rows(
    spark, triples: list[P.TriplePattern], bindings: DataFrame | None
) -> DataFrame:
    """Instantiate template triples (against WHERE bindings, or ground) as
    store-shaped rows (s, p, o_iri, o_lit, o_dt, g)."""
    base = bindings if bindings is not None else spark.range(1)
    # pre-mint ONE fresh blank node per (unbound template _:label,
    # solution row) so the label refers to the same node across every
    # template triple (SPARQL §16.2.1)
    labels: set[str] = set()
    for entry in triples:
        tp = entry.tp if isinstance(entry, P.GraphedTriple) else entry
        for t in (tp.s, tp.p, tp.o):
            if (
                isinstance(t, P.Var)
                and t.name.startswith("_:")
                and t.name not in base.columns
            ):
                labels.add(t.name)
    for lbl in sorted(labels):
        base = base.withColumn(
            lbl,
            F.concat(F.lit(lbl + "#"), F.monotonically_increasing_id().cast("string")),
        )
    if labels:
        # materialize ONCE: monotonically_increasing_id is nondeterministic
        # across recomputations, and each template triple's select (plus the
        # final distinct()) re-evaluates ``base`` independently — without
        # this, one solution's _:label could bind DIFFERENT fresh nodes in
        # different template triples, breaking §16.2.1 consistency
        base = base.localCheckpoint(eager=True)
    df = base if (bindings is not None or labels) else None
    out: DataFrame | None = None
    for entry in triples:
        g_val = None
        tp = entry
        if isinstance(entry, P.GraphedTriple):
            tp, g_val = entry.tp, entry.g
        oi, ol, od = _obj_cols(tp.o, df)
        row = base.select(
            _iri_col(tp.s, df, "subject").alias("s"),
            _iri_col(tp.p, df, "predicate").alias("p"),
            oi.alias("o_iri"),
            ol.alias("o_lit"),
            od.alias("o_dt"),
            F.lit(g_val).cast("string").alias("g"),
        )
        out = row if out is None else out.unionByName(row)
    if out is None:
        raise SparqlCompileError("empty update template")
    return out.distinct()


def _ground_rows(triples) -> list[tuple] | None:
    """Store rows of a ground data block (INSERT/DELETE DATA) built in
    Python, so the update runs no job; None when a blank node needs
    minting."""
    out = []
    for entry in triples:
        tp, g_val = (entry.tp, entry.g) if isinstance(entry, P.GraphedTriple) else (entry, None)
        if not (isinstance(tp.s, P.Iri) and isinstance(tp.p, P.Iri)):
            return None
        if isinstance(tp.o, P.Iri):
            o = (tp.o.value, None, None)
        elif isinstance(tp.o, P.Lit):
            o = (None, str(tp.o.value), tp.o.datatype)
        else:
            return None
        out.append((tp.s.value, tp.p.value, *o, g_val))
    return out


def compile_update(ts: TripleStore, u: P.UpdateQuery) -> TripleStore:
    """Apply one update, returning the new (immutable) TripleStore — the
    DataFrame analogue of the reference's SPARQL update execution
    (sparql_translator.rs update lowering; graph/rdf/store.rs mutation)."""
    spark = ts.df.sparkSession
    if u.kind == "clear":
        return TripleStore.empty(spark)
    if u.kind == "clear_graph":
        # CLEAR/DROP GRAPH <g>: remove that named graph's triples
        return TripleStore(
            ts.df.filter(~F.col("g").eqNullSafe(F.lit(u.graph)))
        )
    if u.kind == "create_graph":
        return ts  # graphs exist implicitly; CREATE is a no-op
    if u.kind == "load_graph":
        # LOAD <doc> [INTO GRAPH <g>] (plan.rs:694-702 LoadGraphOp). The
        # document IRI is a parquet dataset path (file:// or bare path) in
        # either the store's 6-column layout (save_triples output — the
        # partitioned predicate column is restored by the reader) or a
        # minimal (s, p, o) layout, with o split by the IRI-shape
        # heuristic. Network IRIs are out of scope for this engine.
        path = u.graph
        for prefix in ("file://",):
            if path.startswith(prefix):
                path = path[len(prefix):]
        loaded = spark.read.parquet(path)
        if set(TripleStore.COLS) <= set(loaded.columns):
            rows = loaded.select(*TripleStore.COLS)
        elif {"s", "p", "o"} <= set(loaded.columns):
            is_iri = F.col("o").rlike(_IRI_SHAPE)
            rows = loaded.select(
                "s",
                "p",
                F.when(is_iri, F.col("o")).alias("o_iri"),
                F.when(~is_iri, F.col("o")).alias("o_lit"),
                F.lit(None).cast("string").alias("o_dt"),
                F.lit(None).cast("string").alias("g"),
            )
        else:
            raise SparqlCompileError(
                f"LOAD: unrecognized columns {loaded.columns} at {path}"
            )
        rows = rows.withColumn("g", F.lit(u.graph2).cast("string"))
        return ts.insert(rows)
    if u.kind in ("copy_graph", "move_graph", "add_graph"):
        # COPY/MOVE/ADD <src> TO <dst> (plan.rs:665-734). COPY/MOVE replace
        # the destination; ADD merges (set semantics). src == dst: no-op.
        src, dst = u.graph, u.graph2
        if src == dst:
            return ts
        src_rows = ts.df.filter(F.col("g").eqNullSafe(F.lit(src))).withColumn(
            "g", F.lit(dst).cast("string")
        )
        if u.kind == "add_graph":
            base = ts.df
            existing = base.filter(F.col("g").eqNullSafe(F.lit(dst)))
            src_rows = src_rows.join(
                existing,
                [
                    src_rows["s"] == existing["s"],
                    src_rows["p"] == existing["p"],
                    src_rows["o_iri"].eqNullSafe(existing["o_iri"]),
                    src_rows["o_lit"].eqNullSafe(existing["o_lit"]),
                ],
                "left_anti",
            )
        else:
            base = ts.df.filter(~F.col("g").eqNullSafe(F.lit(dst)))
            if u.kind == "move_graph":
                base = base.filter(~F.col("g").eqNullSafe(F.lit(src)))
        # materialize the moved slice so the new store references the old
        # store once (the base filter) — same linear-chain discipline as
        # the modify path above
        return TripleStore(base.unionByName(src_rows.localCheckpoint(eager=False)))
    if u.kind in ("insert_data", "delete_data"):
        rows = _ground_rows(u.data)
        if rows is None:
            rows = _template_rows(spark, u.data, None)
        return ts.insert(rows) if u.kind == "insert_data" else ts.delete(rows)
    if u.kind == "modify":
        # The delete and insert sets are materialized eagerly (they are
        # delta-sized: the WHERE solutions instantiated into a template)
        # and merge into the store's one write delta, so the returned
        # store's plan keeps its shape. Without this, each update layer
        # re-expanded the store subtree through its bindings AND its anti
        # side — 2^k growth over k chained updates — which forced a full
        # store re-materialization per update (engine.sparql_update pre-
        # r15). Now an update costs one or two store *scans* (the delta
        # jobs) and the heavy rows flow through the layered plan once, at
        # the next query's action.
        bindings = _compile_group(ts, u.where) if u.where is not None else None
        if bindings is not None and u.delete_tpl and u.insert_tpl:
            # both templates instantiate against the same solutions: one
            # store scan for the bindings instead of one per template
            # (lazy: the dels count() below is the materializing action)
            bindings = bindings.localCheckpoint(eager=False)
        out = ts.df
        dels = ins = None
        n_ins = None
        if u.delete_tpl:
            dels = _template_rows(spark, u.delete_tpl, bindings)
            if bindings is not None:
                dels = dels.localCheckpoint(eager=False)
        if u.insert_tpl:
            ins = _template_rows(spark, u.insert_tpl, bindings)
            if bindings is not None:
                ins = ins.localCheckpoint(eager=False)
        if bindings is not None and dels is not None and ins is not None:
            # ONE probe job sizes BOTH deltas (lazy checkpoints + a
            # tagged union count as the shared materializing action —
            # the r15 fusion pattern; the counts gate the broadcast
            # hints below). The bindings checkpoint materializes inside
            # the same job.
            tagged = dels.select(F.lit(0).alias("_k")).unionByName(
                ins.select(F.lit(1).alias("_k"))
            )
            cnt = {r["_k"]: r["count"] for r in tagged.groupBy("_k").count().collect()}
            n_ins = cnt.get(1, 0)
        elif bindings is not None and ins is not None:
            n_ins = ins.count()
        new = ts if dels is None else ts.delete(dels)
        out = new.df
        if ins is not None:
            if n_ins is not None and n_ins <= DELTA_BROADCAST_MAX:
                # set semantics: only triples not already present. The
                # presence probe SEMI-joins the store against the broadcast
                # inserted keys (one scan, no store shuffle) and the anti-
                # join then runs against the tiny broadcast candidate set —
                # the direct ins-anti-store form shuffled the entire store
                # per update.
                ikeys = F.broadcast(
                    ins.select(
                        F.col("s").alias("_is"),
                        F.col("p").alias("_ip"),
                        F.col("o_iri").alias("_ii"),
                        F.col("o_lit").alias("_il"),
                    ).distinct()
                )
                probe_cond = (
                    (F.col("s") == F.col("_is"))
                    & (F.col("p") == F.col("_ip"))
                    & F.col("o_iri").eqNullSafe(F.col("_ii"))
                    & F.col("o_lit").eqNullSafe(F.col("_il"))
                )
                cand = (
                    out.select("s", "p", "o_iri", "o_lit")
                    .join(ikeys, probe_cond, "left_semi")
                    .select(
                        F.col("s").alias("_es"),
                        F.col("p").alias("_ep"),
                        F.col("o_iri").alias("_ei"),
                        F.col("o_lit").alias("_el"),
                    )
                )
                fresh = ins.join(
                    F.broadcast(cand),
                    (F.col("s") == F.col("_es"))
                    & (F.col("p") == F.col("_ep"))
                    & F.col("o_iri").eqNullSafe(F.col("_ei"))
                    & F.col("o_lit").eqNullSafe(F.col("_el")),
                    "left_anti",
                ).localCheckpoint(eager=False)
            else:
                # mass insert (or no bindings): planner's choice of join
                existing = out.select("s", "p", "o_iri", "o_lit")
                fresh = ins.join(
                    existing,
                    [
                        ins["s"] == existing["s"],
                        ins["p"] == existing["p"],
                        ins["o_iri"].eqNullSafe(existing["o_iri"]),
                        ins["o_lit"].eqNullSafe(existing["o_lit"]),
                    ],
                    "left_anti",
                )
                if bindings is not None:
                    fresh = fresh.localCheckpoint(eager=False)
            new = new.insert(fresh)
        return new
    raise SparqlCompileError(f"unknown update kind {u.kind!r}")


def sparql_update(ts: TripleStore, query: str) -> TripleStore:
    drain = getattr(ts, "drain_exists_cache", None)
    if drain is not None:
        drain()
    q = P.parse(query)
    if not isinstance(q, P.UpdateQuery):
        raise SparqlCompileError("not an update query — use sparql()")
    return compile_update(ts, q)
