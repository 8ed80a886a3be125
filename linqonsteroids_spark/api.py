"""Fluent collection-style query API — the reference's lifted-operator surface.

The reference reifies for-comprehensions over collections into ``Exp[T]``
trees (``Exp.scala:44-77``; lifted ops ``traversableOps.scala:163-255``).
Here the DataFrame *is* the reified query — ``Lifted`` adds:

- the reference's operator names (``map/filter/flat_map/index_by/exists/
  forall/union/diff/contains/to_set/sliding/zip_with_index/fold/...``)
  lowered to declarative DataFrame ops,
- collection-kind semantics (bag/set/seq) — the ``CanBuildFrom``-law
  analogue (``Unnesting.scala:23-50``): Set-typed results dedup, Seq-typed
  results carry explicit sort keys (Spark is bag-native and unordered),
- a thin predicate-structure record (``PredExpr``) so the index/MV rewriter
  (``plans/``) can CNF-split filters and match constant-equalities exactly
  like ``SubquerySharing.scala:81-108`` — without touching Catalyst
  internals from Python.

Lambdas receive a row proxy: ``books.filter(lambda b: b.publisher == "P")``;
``b.publisher`` is a tracked column expression. Everything stays a logical
plan until an explicit sink (``value()/to_df()``) — same laziness contract
as the reference's ``Exp`` (and Spark's own).
"""

from __future__ import annotations

import operator as _op
from collections.abc import Callable
from dataclasses import dataclass, field
from typing import Any

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# Expression layer: Column wrapper that records predicate structure
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Node:
    """Structure node: ('col', name) | ('lit', v) | ('eq', l, r) |
    ('cmp', op, l, r) | ('and', l, r) | ('or', l, r) | ('not', x) |
    ('arith', op, l, r) | ('neg', x) | ('opaque',).

    Structural equality (dataclass eq over nested tuples) is the
    normalized-comparison the rewriter uses to match let-bound computed
    index keys between registration and query — the reference's
    ``normalizer`` discipline (OptimizationTransforms.scala:123-127)."""

    kind: str
    args: tuple = ()


OPAQUE = Node("opaque")

#: node kinds the rewriter can rebuild into a Spark Column.
#: "in" is ('in', col-node, (v1, v2, ...)) — a literal value tuple, not
#: child Nodes, mirroring Catalyst's In(attr, Seq[Literal]).
_RECONSTRUCTIBLE_KINDS = frozenset(
    {"col", "lit", "eq", "cmp", "and", "or", "not", "arith", "neg", "in"}
)


def _node_reconstructible(node: Node) -> bool:
    """True iff the whole tree can be rebuilt into a Column (no opaque
    leaves) — the precondition for keeping a let rewritable."""
    if node.kind not in _RECONSTRUCTIBLE_KINDS:
        return False
    return all(
        _node_reconstructible(a) for a in node.args if isinstance(a, Node)
    )


class Expr:
    """A column expression carrying (a) the Spark Column, (b) optional
    structure for the rewriter. Mirrors the reference's ``Exp[T]`` leaves &
    scalar ops (``simpleOpenEncoding.scala:130-159,333-474``)."""

    __slots__ = ("col", "node")

    def __init__(self, col: Column, node: Node = OPAQUE):
        self.col = col
        self.node = node

    # --- comparison (Eq.scala:3-10, LEq.scala:3-13) ---
    def __eq__(self, other):  # type: ignore[override]
        o = _lift(other)
        return Expr(self.col == o.col, Node("eq", (self.node, o.node)))

    def __ne__(self, other):  # type: ignore[override]
        o = _lift(other)
        return Expr(self.col != o.col, Node("not", (Node("eq", (self.node, o.node)),)))

    def _cmp(self, other, sym, fn):
        o = _lift(other)
        return Expr(fn(self.col, o.col), Node("cmp", (sym, self.node, o.node)))

    def __lt__(self, other):
        return self._cmp(other, "<", _op.lt)

    def __le__(self, other):
        return self._cmp(other, "<=", _op.le)

    def __gt__(self, other):
        return self._cmp(other, ">", _op.gt)

    def __ge__(self, other):
        return self._cmp(other, ">=", _op.ge)

    # --- boolean (booleanOps.scala:5-27) ---
    def __and__(self, other):
        o = _lift(other)
        return Expr(self.col & o.col, Node("and", (self.node, o.node)))

    def __or__(self, other):
        o = _lift(other)
        return Expr(self.col | o.col, Node("or", (self.node, o.node)))

    def __invert__(self):
        return Expr(~self.col, Node("not", (self.node,)))

    # --- arithmetic (numericOps.scala:24-54) — structure tracked so
    # let-bound computed keys stay matchable by the index rewriter ---
    def _arith(self, other, sym, fn, flip=False):
        o = _lift(other)
        l, r = (o, self) if flip else (self, o)
        return Expr(fn(l.col, r.col), Node("arith", (sym, l.node, r.node)))

    def __add__(self, other):
        return self._arith(other, "+", _op.add)

    def __radd__(self, other):
        return self._arith(other, "+", _op.add, flip=True)

    def __sub__(self, other):
        return self._arith(other, "-", _op.sub)

    def __rsub__(self, other):
        return self._arith(other, "-", _op.sub, flip=True)

    def __mul__(self, other):
        return self._arith(other, "*", _op.mul)

    def __rmul__(self, other):
        return self._arith(other, "*", _op.mul, flip=True)

    def __truediv__(self, other):
        return self._arith(other, "/", _op.truediv)

    def __mod__(self, other):
        return self._arith(other, "%", _op.mod)

    def __neg__(self):
        return Expr(-self.col, Node("neg", (self.node,)))

    # --- string ops (simpleOpenEncoding.scala:451-463) ---
    def contains(self, s):
        return Expr(self.col.contains(_lift(s).col))

    def starts_with(self, s):
        return Expr(self.col.startswith(_lift(s).col))

    def ends_with(self, s):
        return Expr(self.col.endswith(_lift(s).col))

    def index_of(self, s):
        return Expr(F.instr(self.col, s) - 1)  # Scala indexOf is 0-based

    def to_lower(self):
        return Expr(F.lower(self.col))

    def to_upper(self):
        return Expr(F.upper(self.col))

    def length(self):
        return Expr(F.length(self.col))

    def matches(self, regex: str):
        return Expr(self.col.rlike(regex))

    def to_string(self):
        return Expr(self.col.cast("string"))

    def cast(self, t: str):
        return Expr(self.col.cast(t))

    def isin(self, *vals):
        """Membership test; structure-tracked when every value is a plain
        literal (the IN-list leg of the filter→index rewrite, r11 —
        Catalyst's In(attr, Seq[Literal]) shape). Mirrors PySpark's
        ``Column.isin`` calling convention, including the single
        list/set/tuple form (``isin([1, 2, 3])`` ≡ ``isin(1, 2, 3)``).
        Any Expr/Column value keeps the result opaque: the rewriter must
        never reconstruct a partially-literal IN. Set inputs are
        canonicalized (sorted by repr) before building the node — set
        iteration order varies across processes for strings (hash
        randomization), and a nondeterministic In-list is a
        plan-stability hazard for the double-sweep/plan-audit tooling."""
        if len(vals) == 1 and isinstance(vals[0], (frozenset, set)):
            vals = tuple(sorted(vals[0], key=repr))
        elif len(vals) == 1 and isinstance(vals[0], (list, tuple)):
            vals = tuple(vals[0])
        if all(not isinstance(v, (Expr, Column)) for v in vals):
            # plain literals: delegate raw (Column.isin builds the
            # Literal seq itself) and record the reconstructible atom
            return Expr(
                self.col.isin(*vals), Node("in", (self.node, tuple(vals)))
            )
        cols = [v.col if isinstance(v, Expr) else v for v in vals]
        return Expr(self.col.isin(*cols), OPAQUE)

    def between(self, lo, hi):
        """Inclusive range test, tracked as TWO cmp conjuncts — exactly
        what ``split_conjuncts`` + ``match_key_range`` already consume,
        so BETWEEN rides the r10 range-index leg with no new matcher
        (the same lowering Catalyst applies: And(GreaterThanOrEqual,
        LessThanOrEqual))."""
        lo_e, hi_e = _lift(lo), _lift(hi)
        node = Node(
            "and",
            (
                Node("cmp", (">=", self.node, lo_e.node)),
                Node("cmp", ("<=", self.node, hi_e.node)),
            ),
        )
        return Expr(self.col.between(lo_e.col, hi_e.col), node)

    # --- Option ops (Lifting.scala:39-99): null-valued columns ---
    def is_defined(self):
        return Expr(self.col.isNotNull())

    def get_or_else(self, default):
        return Expr(F.coalesce(self.col, _lift(default).col))

    def option_map(self, f: Callable[[Expr], Expr]):
        """map over Option: null stays null (Spark ops propagate null)."""
        return f(Expr(self.col))

    # --- array ops (nested collections, SURVEY §1.2) ---
    def a_size(self):
        return Expr(F.size(self.col))

    def a_exists(self, p: Callable[[Expr], Expr]):
        return Expr(F.exists(self.col, lambda c: p(Expr(c)).col))

    def a_forall(self, p: Callable[[Expr], Expr]):
        return Expr(F.forall(self.col, lambda c: p(Expr(c)).col))

    def a_filter(self, p: Callable[[Expr], Expr]):
        return Expr(F.filter(self.col, lambda c: p(Expr(c)).col))

    def a_map(self, f: Callable[[Expr], Expr]):
        return Expr(F.transform(self.col, lambda c: f(Expr(c)).col))

    def a_fold(self, zero, merge: Callable[[Expr, Expr], Expr]):
        return Expr(
            F.aggregate(self.col, _lift(zero).col, lambda a, b: merge(Expr(a), Expr(b)).col)
        )

    def a_flatten(self):
        return Expr(F.flatten(self.col))

    def __getitem__(self, i):
        return Expr(F.get(self.col, i) if isinstance(i, int) else self.col[i])

    def field(self, name: str):
        """Tuple/record projection (ExpSelection, WrappedClassInlined.ssp:22-45)."""
        return Expr(self.col[name])

    def alias(self, name: str):
        return Expr(self.col.alias(name), self.node)

    def __hash__(self):
        return id(self)


def _lift(v: Any) -> Expr:
    if isinstance(v, Expr):
        return v
    if isinstance(v, Column):
        return Expr(v)
    return Expr(F.lit(v), Node("lit", (v,)))


def lit(v: Any) -> Expr:
    """``pure`` — lift a scalar constant (simpleOpenEncoding.scala:104-123)."""
    return _lift(v)


def if_then_else(cond: Expr, then_v: Any, else_v: Any) -> Expr:
    """IfThenElse (simpleOpenEncoding.scala:36-57) → when/otherwise."""
    return Expr(F.when(cond.col, _lift(then_v).col).otherwise(_lift(else_v).col))


class RowProxy:
    """The gensym variable of a reified lambda (``Fun.toFOAS``,
    ``Fun.scala:163-170``): attribute access yields tracked columns."""

    def __init__(self, prefix: str | None = None):
        object.__setattr__(self, "_prefix", prefix)

    def __getattr__(self, name: str) -> Expr:
        prefix = object.__getattribute__(self, "_prefix")
        qual = f"{prefix}.{name}" if prefix else name
        return Expr(F.col(qual), Node("col", (name,)))

    __getitem__ = __getattr__


# ---------------------------------------------------------------------------
# Lifted collections
# ---------------------------------------------------------------------------

_KINDS = ("bag", "set", "seq")


@dataclass(frozen=True)
class JoinInfo:
    """Chained equi-join of filtered base-table scans, for join-MV matching
    (the nested-scope variant of the reference's rewrite,
    ``SubquerySharing.scala:110-343``: indexes over flatMap-nested tuple
    scopes ≅ indexes over a join; the reference handles up to 3 nesting
    levels — ``SubquerySharingTests.scala:186-253`` — which here is the
    n-table chain).

    ``tables[0] ⋈ tables[1] ⋈ … ⋈ tables[n-1]`` left-deep, where
    ``keys[i] = (left_key, right_key)`` joins the accumulated prefix to
    ``tables[i+1]``. ``filters`` holds every side/post filter applied so
    far — all residual over the joined column space (which is the union of
    all tables' columns, enforced unique at MV registration)."""

    tables: tuple[str, ...]
    keys: tuple[tuple[str, str], ...]
    filters: tuple[Node, ...]

    @property
    def signature(self) -> tuple:
        """Structural identity for repository lookup (the reference's
        normalized-plan equality, ``SubquerySharing.scala:42-79``)."""
        return (self.tables, self.keys)


@dataclass
class PlanInfo:
    """Thin logical description for the pre-Catalyst rewriter: base table
    plus the filter structures applied since (project/etc. reset it — the
    rewriter only matches the filter-over-scan and filter-over-equi-join
    shapes, exactly the patterns ``SubquerySharing.shareSubqueries``
    recognizes). ``lets`` records reconstructible computed columns
    (name, structure) so indexes over computed keys — the reference's
    ``filter(f(x) == k)`` normalization — survive the rewrite."""

    base_table: str | None = None
    filters: list[Node] = field(default_factory=list)
    rewritable: bool = True
    join: "JoinInfo | None" = None
    lets: list[tuple[str, Node]] = field(default_factory=list)
    agg: "AggInfo | None" = None


@dataclass(frozen=True)
class AggInfo:
    """Recorded rollup structure (``Indexed.agg_summary``): the grouped
    count/sum/min/max shape ``IndexRepository.optimize`` can substitute
    with a registered rollup MV."""

    table: str
    key_col: str
    sums: tuple[str, ...] = ()
    mins: tuple[str, ...] = ()
    maxs: tuple[str, ...] = ()


class Lifted:
    """A lifted collection: DataFrame + collection-kind semantics.

    Construction: ``Lifted(df)`` (bag), ``Lifted(df, kind="set")``,
    ``Lifted(df, kind="seq", order=["pos"])``. The reference's implicit
    ``asSquopt`` (``simpleOpenEncoding.scala:99-123``).
    """

    def __init__(
        self,
        df: DataFrame,
        kind: str = "bag",
        order: list[str] | None = None,
        plan: PlanInfo | None = None,
    ):
        if kind not in _KINDS:
            raise ValueError(f"kind must be one of {_KINDS}")
        if kind == "seq" and not order:
            raise ValueError("seq semantics require explicit order columns (Spark is unordered)")
        self.df = df
        self.kind = kind
        self.order = list(order or [])
        self.plan = plan or PlanInfo()

    # --- internals ---
    def _with(self, df: DataFrame, plan: PlanInfo | None = None, **kw) -> "Lifted":
        kind = kw.get("kind", self.kind)
        order = kw.get("order", self.order if kind == "seq" else None)
        if kind == "seq" and order and not set(order) <= set(df.columns):
            # the projection dropped the declared order columns — the result
            # can no longer honour seq semantics; downgrade to bag here
            # rather than raising an unresolved-column error at a distant
            # to_df()/head() call. Re-declare with .to_seq() if ordered.
            kind, order = "bag", None
        return Lifted(df, kind=kind, order=order, plan=plan or PlanInfo(rewritable=False))

    @staticmethod
    def _apply(fn: Callable, n_args: int = 1, prefixes: tuple = (None,)):
        proxies = [RowProxy(p) for p in prefixes[:n_args]]
        return fn(*proxies)

    # --- projections / filters (SURVEY §2.2) ---
    def map(self, fn: Callable[[RowProxy], Any]) -> "Lifted":
        """MapNode (traversableOperators.scala:22-28): per-element projection.
        ``fn`` returns an Expr (column named 'value'), a dict name→Expr, or a
        tuple of aliased Exprs."""
        out = self._apply(fn)
        if isinstance(out, dict):
            cols = [_lift(v).col.alias(k) for k, v in out.items()]
        elif isinstance(out, (tuple, list)):
            cols = [_lift(v).col for v in out]
        else:
            cols = [_lift(out).col.alias("value")]
        df = self.df.select(*cols)
        if self.kind == "set":
            df = df.dropDuplicates()
        return self._with(df)

    def filter(self, pred: Callable[[RowProxy], Expr]) -> "Lifted":
        """Filter (traversableOperators.scala:30-35). Keeps the plan
        rewritable: records predicate structure for index substitution."""
        e = self._apply(pred)
        plan = PlanInfo(
            self.plan.base_table,
            [*self.plan.filters, e.node],
            self.plan.rewritable,
            self.plan.join,
            list(self.plan.lets),
        )
        out = Lifted(self.df.filter(e.col), kind=self.kind,
                     order=self.order or None, plan=plan)
        return out

    with_filter = filter  # withFilter ≡ filter: laziness is inherent

    def flat_map(self, fn: Callable[[RowProxy], Expr], alias: str = "value") -> "Lifted":
        """FlatMap over a nested array column (traversableOperators.scala:14-20)
        → explode. For relational flatMap (dependent subquery) use
        ``flat_map_join``."""
        arr = self._apply(fn)
        return self._with(self.df.select(F.explode(arr.col).alias(alias)))

    def flat_map_join(
        self,
        inner: "Lifted",
        fn: Callable[[RowProxy, RowProxy], Expr] | None = None,
    ) -> "Lifted":
        """flatMap over another collection = θ-join / cross product
        (Tutorial.scala:88-94). Catalyst extracts equi-parts
        (cartProdToJoin analogue, FoldPhysicalOperators.scala:44-56)."""
        left = self.df.alias("l")
        right = inner.df.alias("r")
        if fn is None:
            df = left.crossJoin(right)
        else:
            cond = fn(RowProxy("l"), RowProxy("r"))
            df = left.join(right, cond.col)
        kind = "set" if self.kind == "set" and inner.kind == "set" else "bag"
        out = df
        if kind == "set":
            out = out.dropDuplicates()
        return self._with(out, kind=kind)

    def collect(self, fn: Callable[[RowProxy], tuple[Expr, Any]]) -> "Lifted":
        """Partial-function collect (traversableOps.scala:176-181):
        ``fn`` returns (guard, value); rows failing the guard are dropped."""
        guard, value = self._apply(fn)
        df = (
            self.df.select(F.when(guard.col, _lift(value).col).alias("value"))
            .filter(F.col("value").isNotNull())
        )
        return self._with(df)

    def let(self, name: str, fn: Callable[[RowProxy], Any]) -> "Lifted":
        """Let-binding (Lifting.scala:190-201) → named intermediate column.

        When the expression's structure is fully tracked (columns,
        literals, arithmetic, comparisons), the plan stays rewritable with
        the let recorded — so indexes over computed keys match (the
        reference's normalized ``filter(f(x) == k)`` discipline). Opaque
        expressions (UDFs, string ops) make the plan non-rewritable
        instead: a substitution could not reproduce the column
        (SubquerySharing is equally conservative about scopes it cannot
        restate)."""
        e = _lift(self._apply(fn))
        df = self.df.withColumn(name, e.col)
        if self.plan.rewritable and _node_reconstructible(e.node):
            return Lifted(
                df, kind=self.kind, order=self.order or None,
                plan=PlanInfo(
                    self.plan.base_table,
                    list(self.plan.filters),
                    True,
                    self.plan.join,
                    [*self.plan.lets, (name, e.node)],
                ),
            )
        return self._with(df)

    def select_fields(self, *names: str) -> "Lifted":
        df = self.df.select(*names)
        if self.kind == "set":
            df = df.dropDuplicates()
        return self._with(df)

    # --- joins (SURVEY §2.3) ---
    def join(
        self,
        inner: "Lifted",
        outer_key: Callable[[RowProxy], Expr],
        inner_key: Callable[[RowProxy], Expr],
        result: Callable[[RowProxy, RowProxy], dict[str, Expr]] | None = None,
        how: str = "inner",
    ) -> "Lifted":
        """LINQ-shaped equi-join (traversableOps.scala:214-219): key
        extractors + result selector. ``how`` extends the reference with
        outer variants (one `how=` away in Spark, SURVEY §2.3)."""
        lk = outer_key(RowProxy("l"))
        rk = inner_key(RowProxy("r"))
        joined = self.df.alias("l").join(inner.df.alias("r"), lk.col == rk.col, how)
        plan = None
        if (
            result is None
            and how == "inner"
            and self.plan.rewritable
            and inner.plan.rewritable
            and inner.plan.base_table is not None
            and lk.node.kind == "col"
            and rk.node.kind == "col"
        ):
            # the left side is a (filtered) base-table scan OR an existing
            # rewritable join chain; the right side a (filtered) base-table
            # scan; keys are plain columns — the shapes the join-MV rewrite
            # can match. Chaining gives the reference's multi-level nested
            # scopes (SubquerySharing.scala:110-343).
            left: tuple | None = None
            if self.plan.lets or inner.plan.lets:
                # a chain MV has no let representation; stay conservative
                left = None
            elif self.plan.base_table is not None:
                left = ((self.plan.base_table,), (), tuple(self.plan.filters))
            elif self.plan.join is not None:
                j = self.plan.join
                # post-filters applied between joins are residuals too
                left = (j.tables, j.keys, (*j.filters, *self.plan.filters))
            if left is not None:
                tables, keys, filters = left
                plan = PlanInfo(
                    base_table=None,
                    join=JoinInfo(
                        tables=(*tables, inner.plan.base_table),
                        keys=(*keys, (lk.node.args[0], rk.node.args[0])),
                        filters=(*filters, *inner.plan.filters),
                    ),
                )
        if result is not None:
            out = result(RowProxy("l"), RowProxy("r"))
            joined = joined.select(*[_lift(v).col.alias(k) for k, v in out.items()])
        return self._with(joined, plan=plan)

    def exists_in(
        self, other: "Lifted", pred: Callable[[RowProxy, RowProxy], Expr]
    ) -> "Lifted":
        """Relational exists (Exists.scala:6-11 + existsUnnester,
        Unnesting.scala:52-84) → left_semi."""
        cond = pred(RowProxy("l"), RowProxy("r"))
        # NOT rewritable: PlanInfo has no semi-join representation, so a
        # later optimize() rebuilding from (base_table, filters) would
        # silently drop the semi-join and return a superset of rows.
        return self._with(
            self.df.alias("l").join(other.df.alias("r"), cond.col, "left_semi"),
        )

    def forall_not_in(
        self, other: "Lifted", pred: Callable[[RowProxy, RowProxy], Expr]
    ) -> "Lifted":
        """forall(!p) / !exists(p) (cartProdToAntiJoin,
        FoldPhysicalOperators.scala:58-95) → left_anti; no driver-side key
        set at any scale."""
        cond = pred(RowProxy("l"), RowProxy("r"))
        # NOT rewritable, same reasoning as exists_in (anti-join variant).
        return self._with(
            self.df.alias("l").join(other.df.alias("r"), cond.col, "left_anti"),
        )

    # --- grouping / indexing (SURVEY §2.4) ---
    def index_by(self, key: Callable[[RowProxy], Expr], key_name: str = "key") -> "Indexed":
        """IndexBy (traversableOperators.scala:130-142). Distributed form:
        a keyed grouping handle — aggregate with ``.agg_values()`` (the
        Map[K, Coll] analogue) or register as a materialized index via
        ``plans.IndexRepository.add_index`` (the reference's
        ``Optimization.addIndex``)."""
        k = self._apply(key)
        return Indexed(self, k, key_name)

    def group_by_sel(
        self,
        key: Callable[[RowProxy], Expr],
        sel: Callable[[RowProxy], Expr],
        key_name: str = "key",
        val_name: str = "values",
    ) -> "Lifted":
        """groupBySel (traversableOps.scala:206-212): indexBy(f).map(vs map g)
        → groupBy + collect_list(g)."""
        k, v = self._apply(key), self._apply(sel)
        df = self.df.groupBy(k.col.alias(key_name)).agg(
            F.collect_list(v.col).alias(val_name)
        )
        return self._with(df)

    # --- set ops (SURVEY §2.7) ---
    def union(self, other: "Lifted") -> "Lifted":
        df = self.df.unionByName(other.df)
        if self.kind == "set":
            df = df.dropDuplicates()
        return self._with(df)

    def diff(self, other: "Lifted") -> "Lifted":
        """`--` (traversableOperators.scala:75-79): Set difference."""
        if self.kind == "set":
            return self._with(self.df.subtract(other.df), kind="set")
        return self._with(self.df.exceptAll(other.df))

    def intersect(self, other: "Lifted") -> "Lifted":
        return self._with(self.df.intersect(other.df), kind="set")

    def intersect_all(self, other: "Lifted") -> "Lifted":
        """Bag intersection: per-element multiplicity = min of both sides
        (ANSI INTERSECT ALL) — the multiset form the reference's set-only
        stubs never covered."""
        return self._with(self.df.intersectAll(other.df))

    def contains_row(self, **values: Any) -> "Scalar":
        cond = None
        for k, v in values.items():
            c = F.col(k) == F.lit(v)
            cond = c if cond is None else (cond & c)
        return Scalar(self.df.filter(cond).limit(1), "exists")

    def to_set(self) -> "Lifted":
        return self._with(self.df.dropDuplicates(), kind="set")

    def to_seq(self, order: list[str]) -> "Lifted":
        return Lifted(self.df, kind="seq", order=order, plan=PlanInfo(rewritable=False))

    def distinct(self) -> "Lifted":
        return self.to_set()

    # --- sorts / limits / windows (SURVEY §2.5-2.6: new surface) ---
    def sort_by(self, *keys, ascending: bool = True) -> "Lifted":
        cols = [self._apply(k).col if callable(k) else F.col(k) for k in keys]
        cols = [c.asc() if ascending else c.desc() for c in cols]
        names = [k if isinstance(k, str) else f"_k{i}" for i, k in enumerate(keys)]
        return Lifted(self.df.orderBy(*cols), kind="seq", order=names,
                      plan=PlanInfo(rewritable=False))

    def take(self, n: int) -> "Lifted":
        return self._with(self.df.limit(n))

    def zip_with_index(self, order: list[str], idx_name: str = "idx") -> "Lifted":
        """zipWithIndex (traversableOps.scala:395) — needs a declared total
        order. Single global window: only for driver-bounded results; use
        per-group windows at scale."""
        from pyspark.sql import Window

        w = Window.orderBy(*[F.col(c) for c in order])
        return self._with(self.df.withColumn(idx_name, F.row_number().over(w) - 1))

    def sliding(self, n: int, order: list[str], group: str | None = None) -> "Lifted":
        """sliding(n) (traversableOps.scala:396) → window collect over
        following rows; incomplete tail windows dropped (Scala semantics)."""
        from pyspark.sql import Window

        w = (Window.partitionBy(group) if group else Window.partitionBy()).orderBy(
            *[F.col(c) for c in order]
        ).rowsBetween(0, n - 1)
        df = self.df.withColumn("window", F.collect_list(F.struct(*self.df.columns)).over(w))
        return self._with(df.filter(F.size("window") == n))

    # --- aggregates / sinks (SURVEY §2.4; sinks §2.1) ---
    def size(self) -> "Scalar":
        return Scalar(self.df, "count")

    def is_empty(self) -> "Scalar":
        return Scalar(self.df, "is_empty")

    def non_empty(self) -> "Scalar":
        return Scalar(self.df, "non_empty")

    def sum(self, fn: Callable[[RowProxy], Expr]) -> "Scalar":
        return Scalar(self.df.agg(F.sum(self._apply(fn).col).alias("value")), "one")

    def product(self, fn: Callable[[RowProxy], Expr]) -> "Scalar":
        return Scalar(self.df.agg(F.product(self._apply(fn).col).alias("value")), "one")

    def min(self, fn: Callable[[RowProxy], Expr]) -> "Scalar":
        return Scalar(self.df.agg(F.min(self._apply(fn).col).alias("value")), "one")

    def max(self, fn: Callable[[RowProxy], Expr]) -> "Scalar":
        return Scalar(self.df.agg(F.max(self._apply(fn).col).alias("value")), "one")

    def fold(self, zero: Any, col_fn: Callable[[RowProxy], Expr], op: str) -> "Scalar":
        """FoldLeft (Fold.scala:6-13) restricted to declared monoids
        ('sum'|'product'|'min'|'max') — arbitrary order-sensitive folds
        don't distribute (SURVEY §7.2); use sliding/sort_by + array a_fold
        for ordered folds over bounded groups."""
        # foldLeft always incorporates `zero` (it need not be the monoid
        # identity): fold(10, f, 'sum') over [1,2] is 13, not 3. Combine the
        # distributed aggregate with zero via the op itself; the identity
        # coalesce handles the empty collection.
        agg, ident, comb = {
            "sum": (F.sum, F.lit(0), lambda z, v: z + v),
            "product": (F.product, F.lit(1), lambda z, v: z * v),
            "min": (F.min, F.lit(zero), F.least),
            "max": (F.max, F.lit(zero), F.greatest),
        }[op]
        base = self.df.agg(agg(self._apply(col_fn).col).alias("value"))
        return Scalar(base.select(
            comb(F.lit(zero), F.coalesce(F.col("value"), ident)).alias("value")), "one")

    def exists(self, pred: Callable[[RowProxy], Expr]) -> "Scalar":
        """coll.exists(p) (traversableOps.scala:172-174) — short-circuits via
        limit(1)."""
        return Scalar(self.df.filter(self._apply(pred).col).limit(1), "exists")

    def forall(self, pred: Callable[[RowProxy], Expr]) -> "Scalar":
        """forall p = isEmpty(filter !p) (traversableOps.scala:172-174)."""
        return Scalar(self.df.filter(~self._apply(pred).col).limit(1), "not_exists")

    def head(self) -> "Scalar":
        if self.kind != "seq":
            raise ValueError("head requires seq semantics (declared order)")
        return Scalar(self.df.orderBy(*[F.col(c) for c in self.order]).limit(1), "row")

    def to_df(self) -> DataFrame:
        df = self.df
        if self.kind == "seq" and self.order:
            df = df.orderBy(*[F.col(c) for c in self.order])
        return df

    def value(self):
        """eval/force sink (Lifting.scala:220-224) — materialize to driver.
        Test/driver-bounded results only; big results go through
        ``write_parquet``."""
        return self.to_df().collect()

    def value_cached(self, cache) -> tuple[list, bool]:
        """Memoized eval sink — the reference's core premise applied at
        the sink: an ``asSmart`` query re-evaluated against unchanged
        collections reuses the shared materialized result
        (``SubquerySharing.scala``; SURVEY §2.10). Routes through
        :class:`~linqonsteroids_spark.plans.result_cache.ResultCache`,
        so an independently REBUILT equivalent pipeline serves its rows
        from the cached entry (Catalyst canonicalization collapses the
        plans) and any base mutation recomputes — snapshot-keyed, never
        stale. Returns ``(rows, hit)``."""
        served, hit = cache.get_or_materialize(self.to_df())
        return served.collect(), hit

    def write_parquet(self, path: str, partition_by: list[str] | None = None) -> None:
        w = self.to_df().write.mode("overwrite")
        if partition_by:
            w = w.partitionBy(*partition_by)
        w.parquet(path)


class Indexed:
    """Result of ``index_by``: a keyed grouping handle (the reference's
    ``Map[K, Coll]`` without driver materialization)."""

    def __init__(self, src: Lifted, key: Expr, key_name: str):
        self.src = src
        self.key = key
        self.key_name = key_name

    def agg_values(
        self,
        val_name: str = "values",
        limit_per_key: int | None = None,
        order: list[str] | None = None,
    ) -> Lifted:
        """Map[K, Coll] as (key, array<struct>) rows — the literal indexBy
        shape. At scale prefer ``agg``/bucketed MVs over value arrays.

        ``limit_per_key`` hard-caps the array (first N rows by ``order``,
        default all columns): without it one hot key materializes its whole
        group in a single aggregation buffer — the cap bounds both the
        buffer and the output row. The rank pass is a per-key window (one
        task per key), so the cap protects memory, not CPU skew."""
        df = self.src.df
        if limit_per_key is not None:
            from pyspark.sql import Window

            w = Window.partitionBy(self.key.col).orderBy(
                *[F.col(c) for c in (order or df.columns)]
            )
            df = (
                df.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") <= limit_per_key)
                .drop("_rn")
            )
        out = df.groupBy(self.key.col.alias(self.key_name)).agg(
            F.collect_list(F.struct(*[F.col(c) for c in self.src.df.columns])).alias(
                val_name
            )
        )
        return self.src._with(out)

    def agg(self, **aggs: Expr) -> Lifted:
        df = self.src.df.groupBy(self.key.col.alias(self.key_name)).agg(
            *[v.col.alias(k) for k, v in aggs.items()]
        )
        return self.src._with(df)

    def agg_summary(
        self,
        sums: tuple[str, ...] | list[str] = (),
        mins: tuple[str, ...] | list[str] = (),
        maxs: tuple[str, ...] | list[str] = (),
    ) -> Lifted:
        """TRACKED rollup: ``cnt_star`` plus ``sum_/min_/max_<col>``
        grouped by the index key — the column naming IS the rollup-MV
        contract, so ``IndexRepository.optimize`` can substitute a
        registered ``add_agg_index`` artifact for the whole aggregation.
        Structure is recorded only for the rewritable shape: a plain
        column key over an unfiltered base-table scan; anything else
        computes normally and is never substituted."""
        sums, mins, maxs = tuple(sums), tuple(mins), tuple(maxs)
        aggs = [F.count(F.lit(1)).alias("cnt_star")]
        aggs += [F.sum(c).alias(f"sum_{c}") for c in sums]
        aggs += [F.min(c).alias(f"min_{c}") for c in mins]
        aggs += [F.max(c).alias(f"max_{c}") for c in maxs]
        df = self.src.df.groupBy(self.key.col).agg(*aggs)
        src_plan = self.src.plan
        info = None
        if (
            src_plan.base_table is not None
            and src_plan.rewritable
            and not src_plan.filters
            and not src_plan.lets
            and self.key.node.kind == "col"
        ):
            info = AggInfo(
                src_plan.base_table,
                self.key.node.args[0],
                sums=sums,
                mins=mins,
                maxs=maxs,
            )
        return Lifted(
            df,
            kind=self.src.kind,
            plan=PlanInfo(base_table=None, rewritable=info is not None, agg=info),
        )

    def count(self) -> Lifted:
        return self.agg(n=Expr(F.count("*")))


class Scalar:
    """A deferred scalar result — the reference's ``Exp[T]`` for
    non-collection T; ``value()`` is the sink."""

    def __init__(self, df: DataFrame, mode: str):
        self.df = df
        self.mode = mode

    def value(self):
        if self.mode == "count":
            return self.df.count()
        if self.mode == "is_empty":
            return self.df.isEmpty()
        if self.mode == "non_empty":
            return not self.df.isEmpty()
        if self.mode == "exists":
            return not self.df.isEmpty()
        if self.mode == "not_exists":
            return self.df.isEmpty()
        if self.mode == "one":
            return self.df.collect()[0][0]
        if self.mode == "row":
            rows = self.df.collect()
            return rows[0] if rows else None
        raise ValueError(self.mode)


def lift(df: DataFrame, kind: str = "bag", order: list[str] | None = None,
         table: str | None = None) -> Lifted:
    """asSquopt (simpleOpenEncoding.scala:99-101): lift a DataFrame.
    ``table`` names the base relation for index-rewrite matching."""
    return Lifted(df, kind=kind, order=order, plan=PlanInfo(base_table=table))
