"""Materialized views: create/refresh/staleness + query rewriting.

Reference behavior being reproduced (engine-plus/StarLake):

* ``CreateMaterialViewCommand`` / ``UpdateMaterialViewCommand``
  (commands/CreateMaterialViewCommand.scala:25-69,
  commands/UpdateMaterialViewCommand.scala:30-76): an MV is a regular
  star table + the SQL text + per-source-table version fingerprints;
  refresh is a full re-run iff fingerprints changed.
* Query rewriting (rules/RewriteQueryByMaterialView.scala:44-1268):
  candidate views must cover the query's table set
  (:71-81); match = same join set, same agg set, filter subsumption
  with compensation predicates (:83-225); any failure silently keeps
  the original plan (:1158-1160).
* Supported MV shape (material_view/MaterialViewUtils.scala:33-248):
  one query block of Project / Filter / inner Join / <=1 Aggregate over
  star tables — no HAVING-over-agg nesting, no non-star relations.

Spark-first architecture: instead of a Catalyst rule (needs a JVM
plugin), we own the SQL entry point (StarSession.sql). The query and
each view's SQL are analyzed by Spark itself; we extract a QueryInfo
from the analyzed plan's JSON (tables, join equalities, filter
conjuncts, grouping, aggregate outputs — all as canonical strings with
expression IDs stripped) and do containment checks in Python. A hit
returns a DataFrame over the view table (+ compensation filters /
re-aggregation); a miss falls through to ``spark.sql(text)``.

One deliberate superset of the reference: a query WITH an aggregate can
be rewritten onto a view WITHOUT one (same join graph, view filters
subsumed) by re-aggregating over the view — sound because the view
preserves join multiplicity and rows.
"""

from __future__ import annotations

import copy
import json
import os
import time
import uuid
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

from starlake_spark import catalog
from starlake_spark.local import local_df, mat_local
from starlake_spark.meta import ManifestStore
from starlake_spark.table import StarTable, create_table


class UnsupportedPlan(Exception):
    """Query shape outside the MV-rewrite subset — caller falls back."""


# Most distinct touched/threatened group keys a refresh broadcasts for
# its semi-joins (≈ tens of MB); larger windows take a shuffled semi.
BROADCAST_KEY_LIMIT = 1_000_000
# Most distinct join-key values a join-MV window turns into an IN-list
# scan prune of a pinned side; larger windows skip the prune.
JOIN_PRUNE_KEY_LIMIT = 1024


# ---------------------------------------------------------------------------
# analyzed-plan JSON → trees
# ---------------------------------------------------------------------------


def _build_forest(flat: list[dict]) -> list[dict]:
    """The plan/expression JSON is a flattened pre-order list with
    ``num-children``; rebuild trees (children attached as '_children')."""
    pos = 0

    def build():
        nonlocal pos
        node = dict(flat[pos])
        pos += 1
        node["_children"] = [build() for _ in range(node.get("num-children", 0))]
        return node

    out = []
    while pos < len(flat):
        out.append(build())
    return out


def _expr(flat_list: list[dict]) -> dict:
    trees = _build_forest(flat_list)
    if len(trees) != 1:
        raise UnsupportedPlan(f"expected one expression tree, got {len(trees)}")
    return trees[0]


def _cls(node: dict) -> str:
    return node["class"].rsplit(".", 1)[-1]


# ---------------------------------------------------------------------------
# canonical rendering (matching) and SQL rendering (compensation preds)
# ---------------------------------------------------------------------------

_BINOPS = {
    "EqualTo": "=", "EqualNullSafe": "<=>", "GreaterThan": ">",
    "GreaterThanOrEqual": ">=", "LessThan": "<", "LessThanOrEqual": "<=",
    "Add": "+", "Subtract": "-", "Multiply": "*", "Divide": "/",
    "Remainder": "%", "And": "and", "Or": "or", "Like": "like",
}
_AGG_FNS = {
    "Count": "count", "Sum": "sum", "Average": "avg", "Min": "min",
    "Max": "max", "First": "first", "Last": "last",
    "CountDistinct": "count",
    "CollectList": "collect_list", "CollectSet": "collect_set",
}
_FUNCS = {
    "Lower": "lower", "Upper": "upper", "Abs": "abs", "Coalesce": "coalesce",
    "Substring": "substring", "Length": "length", "Year": "year",
    "Month": "month", "DayOfMonth": "day", "Round": "round", "Sqrt": "sqrt",
    "Concat": "concat", "Not": "not", "IsNull": "isnull",
    "IsNotNull": "isnotnull", "UnaryMinus": "negative", "CaseWhen": None,
    "In": None, "Cast": None, "Literal": None, "AttributeReference": None,
    "Alias": None, "AggregateExpression": None,
    # date/time arithmetic (reference RewriteQueryByMaterialView.scala
    # :256-969 expression coverage — its most-used temporal cases):
    # class → SQL function, argument order verified against the
    # analyzed-plan JSON (children already in SQL argument order)
    "DateAdd": "date_add", "DateSub": "date_sub", "DateDiff": "datediff",
    "TruncDate": "trunc", "TruncTimestamp": "date_trunc",
    "AddMonths": "add_months", "MonthsBetween": "months_between",
    "LastDay": "last_day", "Quarter": "quarter", "DayOfWeek": "dayofweek",
    "WeekOfYear": "weekofyear", "DayOfYear": "dayofyear",
    "Hour": "hour", "Minute": "minute", "Second": "second",
    "Floor": "floor", "Ceil": "ceil", "Greatest": "greatest",
    "Least": "least", "Pow": "power", "StringTrim": "trim",
    "ConcatWs": "concat_ws",
}


def canon(e: dict) -> str:
    """Canonical matching string: attribute names lowercased, exprIds &
    qualifiers dropped, aliases transparent."""
    c = _cls(e)
    ch = e["_children"]
    if c == "AttributeReference":
        return e["name"].lower()
    if c == "Literal":
        return f"lit:{e.get('dataType')}:{e.get('value')}"
    if c == "Alias":
        return canon(ch[0])
    if c == "Cast":
        return f"cast({canon(ch[0])} as {e.get('dataType')})"
    if c == "AggregateExpression":
        d = "distinct " if e.get("isDistinct") else ""
        return f"aggexpr:{d}{canon(ch[0])}"
    if c in _BINOPS:
        return f"({canon(ch[0])} {_BINOPS[c]} {canon(ch[1])})"
    if c in _AGG_FNS:
        return f"{_AGG_FNS[c]}({', '.join(canon(x) for x in ch)})"
    # generic fallback keeps matching (not SQL-renderable)
    scalars = {k: v for k, v in e.items()
               if k not in ("_children", "class", "num-children", "exprId",
                            "qualifier", "resultId", "nonInheritableMetadataKeys",
                            "metadata", "nullable", "child", "children")
               and isinstance(v, (str, int, float, bool))}
    inner = ", ".join(canon(x) for x in ch)
    return f"{c}[{json.dumps(scalars, sort_keys=True)}]({inner})"


def split_conjuncts(e: dict) -> list[dict]:
    if _cls(e) == "And":
        out = []
        for ch in e["_children"]:
            out.extend(split_conjuncts(ch))
        return out
    return [e]


def canon_eq_symmetric(e: dict) -> str:
    """Join equality a=b == b=a."""
    if _cls(e) == "EqualTo":
        l, r = canon(e["_children"][0]), canon(e["_children"][1])
        lo, hi = sorted([l, r])
        return f"({lo} = {hi})"
    return canon(e)


def to_sql(e: dict, colmap: dict[str, str], allow_agg: bool = True) -> str:
    """Render an expression back to Spark SQL over the view's output
    columns; unknown constructs raise UnsupportedPlan (→ no rewrite).

    ``colmap`` maps CANONICAL expression strings to view columns, so a
    whole subtree the view materializes (an aggregate, ``year(d)``, a
    CASE arm) substitutes as one column reference — this is what lets
    arithmetic-of-aggregates (``sum(a)/sum(b)``) render over a view
    exposing the two sums (reference findNewAttributeReference,
    RewriteQueryByMaterialView.scala:256-320). ``allow_agg=False``
    refuses any aggregate that did NOT substitute — required when the
    target frame is already aggregated (re-running sum() over the
    view's one-row-per-group output would be wrong)."""
    c = _cls(e)
    ch = e["_children"]
    if c != "Alias":
        cn = canon(e)
        if cn in colmap:
            return f"`{colmap[cn]}`"
    if c == "AttributeReference":
        key = e["name"].lower()
        if key not in colmap:
            raise UnsupportedPlan(f"column {key} not available on view")
        return f"`{colmap[key]}`"
    if c == "Literal":
        v, dt = e.get("value"), e.get("dataType")
        if v is None:
            return "NULL"
        if dt in ("integer", "long", "short", "byte", "double", "float"):
            return str(v)
        if dt and dt.startswith("decimal"):
            return str(v)
        if dt == "boolean":
            return str(v).lower()
        if dt == "date":
            return f"DATE '{v}'"
        if dt.startswith("timestamp"):
            return f"TIMESTAMP '{v}'"
        s = str(v).replace("'", "''")
        return f"'{s}'"
    if c == "Alias":
        return to_sql(ch[0], colmap, allow_agg)
    if c == "Cast":
        return f"CAST({to_sql(ch[0], colmap, allow_agg)} AS {e.get('dataType')})"
    if c == "AggregateExpression":
        if not allow_agg:
            raise UnsupportedPlan(
                "aggregate not materialized by the view (re-running it "
                "over aggregated rows would double-count)")
        d = "DISTINCT " if e.get("isDistinct") else ""
        fn = ch[0]
        fname = _AGG_FNS.get(_cls(fn))
        if fname is None:
            raise UnsupportedPlan(f"agg fn {_cls(fn)}")
        args = ", ".join(to_sql(x, colmap, allow_agg)
                         for x in fn["_children"]) or "*"
        return f"{fname}({d}{args})"
    if c in _BINOPS:
        op = _BINOPS[c].upper() if _BINOPS[c] in ("and", "or", "like") else _BINOPS[c]
        return (f"({to_sql(ch[0], colmap, allow_agg)} {op} "
                f"{to_sql(ch[1], colmap, allow_agg)})")
    if c == "Not":
        return f"(NOT {to_sql(ch[0], colmap, allow_agg)})"
    if c == "IsNull":
        return f"({to_sql(ch[0], colmap, allow_agg)} IS NULL)"
    if c == "IsNotNull":
        return f"({to_sql(ch[0], colmap, allow_agg)} IS NOT NULL)"
    if c == "In":
        vals = ", ".join(to_sql(x, colmap, allow_agg) for x in ch[1:])
        return f"({to_sql(ch[0], colmap, allow_agg)} IN ({vals}))"
    if c == "CaseWhen":
        # children = [cond1, val1, cond2, val2, ..., else?]
        parts = [to_sql(x, colmap, allow_agg) for x in ch]
        n_pairs = len(parts) // 2
        arms = " ".join(f"WHEN {parts[2*i]} THEN {parts[2*i+1]}"
                        for i in range(n_pairs))
        tail = f" ELSE {parts[-1]}" if len(parts) % 2 else ""
        return f"(CASE {arms}{tail} END)"
    if c in _FUNCS and _FUNCS[c]:
        return (f"{_FUNCS[c]}("
                f"{', '.join(to_sql(x, colmap, allow_agg) for x in ch)})")
    raise UnsupportedPlan(f"cannot render {c} to SQL")


_CMP = {"GreaterThan": ">", "GreaterThanOrEqual": ">=",
        "LessThan": "<", "LessThanOrEqual": "<=", "EqualTo": "="}
_NUM_TYPES = ("integer", "long", "short", "byte", "double", "float")


def _unwrap_numeric_cast(e: dict) -> dict:
    """Peel CAST(x AS <numeric>) wrappers — the analyzer wraps integer
    literals compared against double columns in widening casts, which
    are value-preserving for the implication check."""
    while (_cls(e) == "Cast"
           and (e.get("dataType") in _NUM_TYPES
                or (e.get("dataType") or "").startswith("decimal"))):
        e = e["_children"][0]
    return e


def _cmp_parts(e: dict):
    """``<expr> <cmp> <numeric literal>`` (literal either side, flipped
    to the right) → (expr_canon, op, value); else None."""
    c = _cls(e)
    if c not in _CMP:
        return None
    l, r = (_unwrap_numeric_cast(x) for x in e["_children"])
    flip = {">": "<", "<": ">", ">=": "<=", "<=": ">=", "=": "="}
    if _cls(r) == "Literal":
        expr, lit, op = l, r, _CMP[c]
    elif _cls(l) == "Literal":
        expr, lit, op = r, l, flip[_CMP[c]]
    else:
        return None
    dt, v = lit.get("dataType"), lit.get("value")
    if v is None or not (dt in _NUM_TYPES or (dt or "").startswith("decimal")):
        return None
    try:
        return (canon(expr), op, float(v))
    except (TypeError, ValueError):
        return None


def _implies_atom(q: dict, v: dict) -> bool:
    """q ⟹ v for atomic predicates: exact canonical match, or range
    strengthening on the same expression with numeric literals
    (reference OrInfo.scala:31-220 interval logic, conservative)."""
    if canon(q) == canon(v):
        return True
    qp, vp = _cmp_parts(q), _cmp_parts(v)
    if not qp or not vp or qp[0] != vp[0]:
        return False
    _, qop, qv = qp
    _, vop, vv = vp
    if qop == "=":
        return {"=": qv == vv, ">": qv > vv, ">=": qv >= vv,
                "<": qv < vv, "<=": qv <= vv}[vop]
    if vop == "=":
        return False
    if vop in (">", ">=") and qop in (">", ">="):
        return qv > vv or (qv == vv and (vop == ">=" or qop == ">"))
    if vop in ("<", "<=") and qop in ("<", "<="):
        return qv < vv or (qv == vv and (vop == "<=" or qop == "<"))
    return False


def _or_disjuncts(e: dict) -> list[dict]:
    if _cls(e) == "Or":
        out = []
        for ch in e["_children"]:
            out.extend(_or_disjuncts(ch))
        return out
    return [e]


def _disj_implies(d: dict, e: dict) -> bool:
    """Conjunction-aware disjunct implication: D ⟹ E where both are
    conjunction trees — every conjunct of E must be implied by SOME
    conjunct of D (so ``k1>2 AND range>30 AND v='x'`` implies
    ``k1>1 AND range>=30``: extra conjuncts strengthen, each target
    conjunct is range-weakened). This is the interval containment the
    reference's OrInfo.scala:31-220 runs per OR branch."""
    return all(
        any(_implies_atom(dc, ec) for dc in split_conjuncts(d))
        for ec in split_conjuncts(e)
    )


def _implies(q: dict, v: dict) -> bool:
    """q ⟹ v in disjunctive form: every disjunct of q must imply some
    disjunct of v (so ``a=1`` implies ``a=1 OR a=2``, ``a>5 OR a<-5``
    implies ``a>3 OR a<0``, and with conjunction-aware disjuncts
    ``(k1>2 AND r>30) OR k1=5`` implies ``(k1>1 AND r>=30) OR k1=5``)."""
    return all(
        any(_disj_implies(qd, vd) for vd in _or_disjuncts(v))
        for qd in _or_disjuncts(q)
    )


def _conjset_implies(q_trees: list[dict], vtree: dict) -> bool:
    """The CONJUNCTION of the query's residual conjuncts ⟹ ``vtree``:
    needed when no single conjunct covers a view OR — e.g. query
    ``k1>1 AND range>=30`` (two conjuncts) against view filter
    ``(k1>1 AND range>=30) OR ...``: the pair jointly implies the
    first disjunct. OR-rooted members only guarantee their disjunction,
    so they are excluded from the atom pool (the single-conjunct path
    already tried them whole)."""
    atoms = [c for qt in q_trees if _cls(qt) != "Or"
             for c in split_conjuncts(qt)]
    if not atoms:
        return False
    return any(
        all(any(_implies_atom(a, ec) for a in atoms)
            for ec in split_conjuncts(e))
        for e in _or_disjuncts(vtree)
    )


def _filters_covered(vset: frozenset, qset: frozenset,
                     vinfo: "QueryInfo", qinfo: "QueryInfo") -> bool:
    """Every VIEW conjunct must be implied by the query's filters —
    otherwise the view is missing rows the query needs. Exact canonical
    matches are free; the rest must be OR-contained / range-weakened
    versions of some query conjunct, or jointly implied by the
    conjunction of the query's remaining conjuncts (OrInfo.scala:31-220
    semantics, exercised by RewriteQueryByMaterialViewBase OR cases).
    Sound because every query-only conjunct is always re-applied as a
    compensation predicate (it lives in qset - vset)."""
    q_trees = [qinfo.residual_by_canon[qc]
               for qc in qset - vset if qc in qinfo.residual_by_canon]
    for vc in vset - qset:
        vtree = vinfo.residual_by_canon.get(vc)
        if vtree is None:
            return False
        if any(_implies(qt, vtree) for qt in q_trees):
            continue
        if _conjset_implies(q_trees, vtree):
            continue
        return False
    return True


def _attrs_in(e: dict) -> set[str]:
    out = set()
    if _cls(e) == "AttributeReference":
        out.add(e["name"].lower())
    for ch in e["_children"]:
        out |= _attrs_in(ch)
    return out


def _attrs_outside(e: dict, covered: set[str]) -> set[str]:
    """Attribute references NOT under a subtree whose canon is in
    ``covered``. Empty ⟺ the expression is a composition of covered
    subtrees and literals — for covered = grouping expressions, that
    makes a predicate group-determined (constant within each group),
    so it commutes with aggregation and may compensate on the view."""
    if canon(e) in covered:
        return set()
    if _cls(e) == "AttributeReference":
        return {e["name"].lower()}
    out = set()
    for ch in e["_children"]:
        out |= _attrs_outside(ch, covered)
    return out


# ---------------------------------------------------------------------------
# QueryInfo
# ---------------------------------------------------------------------------


@dataclass
class QueryInfo:
    tables: tuple[str, ...] = ()            # sorted multiset of table names
    join_conds: frozenset = frozenset()     # symmetric canonical equalities
    filters_above: frozenset = frozenset()  # conjunct canons above the Aggregate
    filters_below: frozenset = frozenset()  # conjunct canons below the Aggregate
    group_by: frozenset = frozenset()       # canonical grouping exprs
    has_agg: bool = False
    outputs: list = field(default_factory=list)       # [(out_name, canon)]
    residual_by_canon: dict = field(default_factory=dict)  # canon → expr tree
    output_trees: list = field(default_factory=list)  # [(out_name, expr tree)]
    # attr=attr inner-join equalities as canonical name pairs — the
    # join-equivalence classes compensation rendering may substitute
    # through (a filter on t1.key renders via join-equal a.key when only
    # the latter is a view output)
    join_attr_pairs: frozenset = frozenset()
    # outer-join identity: (type, left tables, right tables, ON canons)
    # per non-inner join — matched EXACTLY between query and view (an
    # outer join's ON placement and sidedness are semantic, unlike an
    # inner join's, whose ON conjuncts fold into join_conds/filters)
    join_types: tuple = ()
    # attr=attr equalities of outer-join ON conditions, as canonical
    # name pairs — kept SEPARATE from join_attr_pairs: a LEFT join's
    # a.x = b.y holds only on matched rows, so compensation must never
    # substitute through it, but incremental maintenance needs the
    # pairs. Empty when any outer ON conjunct is not a plain equality.
    outer_attr_pairs: frozenset = frozenset()


_ALLOWED = {"Project", "Filter", "Join", "Aggregate", "SubqueryAlias", "Sort",
            "GlobalLimit", "LocalLimit"}


def extract(spark, sql_text: str, known_tables: set[str]) -> QueryInfo:
    """Build QueryInfo from Spark's analyzed plan of ``sql_text``.

    Raises UnsupportedPlan for shapes outside the supported block
    (mirrors MaterialViewUtils.scala:33-248 guards: single block,
    inner joins only, <=1 aggregate, only known star relations)."""
    df = spark.sql(sql_text)
    root = _build_forest(json.loads(df._jdf.queryExecution().analyzed().toJSON()))[0]

    info = QueryInfo()
    tables: list[str] = []
    joins: set[str] = set()
    join_pairs: set[tuple] = set()
    outer_joins: list[tuple] = []
    above: dict[str, dict] = {}
    below: dict[str, dict] = {}
    state = {"agg_seen": False, "out_done": False, "n_joins": 0,
             "null_side": False, "outer_impure": False}
    outer_pairs: set[tuple] = set()

    def leaf_name(node: dict) -> str | None:
        """SubqueryAlias chain ending in a known table / View boundary."""
        while _cls(node) == "SubqueryAlias":
            nm = node["identifier"]["name"].lower()
            ch = node["_children"][0]
            if _cls(ch) == "View" or nm in known_tables:
                # prefer the innermost alias naming the real table
                inner = node
                while _cls(inner["_children"][0]) == "SubqueryAlias":
                    inner = inner["_children"][0]
                return inner["identifier"]["name"].lower()
            node = ch
        return None

    # ---- attribute source resolution (exprId → table-qualified name) ----
    # Same-named columns from different tables (a.key vs b.key) must not
    # collapse to one canonical "key": every AttributeReference resolves
    # through its exprId to "<table>.<column>", and attributes defined by
    # mid-plan ALIASES (derived-table projections, aggregate outputs)
    # substitute their defining expression wholesale — so matching and
    # compensation are alias-name-independent (the reference's
    # findNewAttributeReference substitution discipline,
    # RewriteQueryByMaterialView.scala:256-320).
    src_map: dict[tuple, str] = {}
    alias_def: dict[tuple, dict] = {}

    def _eid(e: dict) -> tuple:
        x = e.get("exprId") or {}
        return (x.get("id"), x.get("jvmId"))

    def _register(tree: dict, under: str | None):
        c = _cls(tree)
        if c == "Alias":
            if under:
                src_map.setdefault(_eid(tree),
                                   f"{under}.{tree['name'].lower()}")
            else:
                alias_def.setdefault(_eid(tree), tree["_children"][0])
        elif c == "AttributeReference" and under:
            src_map.setdefault(_eid(tree), f"{under}.{tree['name'].lower()}")

    def _harvest(node: dict, under: str | None = None):
        if _cls(node) == "SubqueryAlias" and under is None:
            nm = leaf_name(node)
            if nm is not None:
                _harvest(node["_children"][0], under=nm)
                return
        for fld in ("projectList", "output", "aggregateExpressions"):
            for flat in node.get(fld, []):
                try:
                    _register(_expr(flat), under)
                except UnsupportedPlan:
                    pass
        for ch in node["_children"]:
            _harvest(ch, under)

    def _resolve_tree(e: dict) -> dict:
        c = _cls(e)
        if c == "AttributeReference":
            src = src_map.get(_eid(e))
            if src is not None:
                e = dict(e)
                e["name"] = src
                return e
            d = alias_def.get(_eid(e))
            if d is not None:
                return _resolve_tree(d)
            return e
        e = dict(e)
        e["_children"] = [_resolve_tree(ch) for ch in e["_children"]]
        return e

    _harvest(root)

    def _rexpr(flat) -> dict:
        return _resolve_tree(_expr(flat))

    def _is_attr(e: dict) -> bool:
        e = _unwrap_numeric_cast(e)
        return _cls(e) == "AttributeReference"

    def walk(node: dict):
        c = _cls(node)
        if c == "SubqueryAlias":
            nm = leaf_name(node)
            if nm is None:
                # derived table (SELECT ... in FROM): walk through it —
                # its inner filters/joins/projections fold into the
                # flat conjunct/join sets, alias names staying the
                # matching currency (reference MaterialViewUtils
                # flattens single-block nested selects the same way)
                walk(node["_children"][0])
                return
            tables.append(nm)
            return
        if c not in _ALLOWED:
            raise UnsupportedPlan(f"node {c}")
        if c in ("Sort", "GlobalLimit", "LocalLimit"):
            raise UnsupportedPlan(f"{c} not rewritable")
        if c == "Project":
            if not state["out_done"]:
                state["out_done"] = True
                for ex in node.get("projectList", []):
                    t = _expr(ex)
                    name = t.get("name") if _cls(t) in ("Alias", "AttributeReference") else None
                    if name is None:
                        raise UnsupportedPlan("unnamed projection")
                    rt = _resolve_tree(t)
                    info.outputs.append((name, canon(rt)))
                    info.output_trees.append((name, rt))
            walk(node["_children"][0])
            return
        if c == "Filter":
            if state["null_side"]:
                # a filter UNDER the null-supplying side of an outer
                # join is not equivalent to the same predicate in the
                # WHERE clause (it narrows the right input BEFORE null
                # extension) — flattening it into the conjunct set
                # would let semantically different queries/views match.
                # Refuse; both sides fail consistently → safe miss.
                raise UnsupportedPlan(
                    "filter under an outer join's null-supplying side")
            for cj in split_conjuncts(_rexpr(node["condition"])):
                (below if state["agg_seen"] else above)[canon(cj)] = cj
            walk(node["_children"][0])
            return
        if c == "Join":
            jt = node.get("joinType", {}).get("object", "")
            state["n_joins"] += 1
            cond = node.get("condition")
            if jt.endswith("Inner$") or jt.endswith("Cross$"):
                # inner-join ON ≡ WHERE: attr=attr equalities are the
                # join identity; every other conjunct (literals,
                # inequalities) is an ordinary filter, so a query with
                # EXTRA ON conditions still rewrites with compensation
                # (reference: 'external condition in on should rewrite')
                if cond:
                    for cj in split_conjuncts(_rexpr(cond)):
                        if (_cls(cj) == "EqualTo"
                                and all(_is_attr(x) for x in cj["_children"])):
                            joins.add(canon_eq_symmetric(cj))
                            join_pairs.add(tuple(sorted(
                                canon(x) for x in cj["_children"])))
                        else:
                            (below if state["agg_seen"] else above)[
                                canon(cj)] = cj
                for ch in node["_children"]:
                    walk(ch)
                return
            if jt.endswith("LeftOuter$"):
                # outer joins: ON placement and sidedness are semantic —
                # capture (type, left tables, right tables, full ON set)
                # as an exact-match identity. Only the single-join shape
                # is supported: mixed outer/inner multi-join association
                # is structure-sensitive and a flat multiset could match
                # differently-nested (≠) plans.
                n0 = len(tables)
                walk(node["_children"][0])
                left = tuple(sorted(tables[n0:]))
                n1 = len(tables)
                was = state["null_side"]
                state["null_side"] = True
                walk(node["_children"][1])
                state["null_side"] = was
                right = tuple(sorted(tables[n1:]))
                on_set, on_pairs, pure_eq = [], [], True
                for cj in (split_conjuncts(_rexpr(cond)) if cond else []):
                    on_set.append(canon_eq_symmetric(cj))
                    if (_cls(cj) == "EqualTo"
                            and all(_is_attr(x) for x in cj["_children"])):
                        on_pairs.append(tuple(sorted(
                            canon(x) for x in cj["_children"])))
                    else:
                        pure_eq = False
                outer_joins.append(("leftouter", left, right,
                                    tuple(sorted(on_set))))
                if pure_eq:
                    outer_pairs.update(on_pairs)
                else:
                    state["outer_impure"] = True
                return
            raise UnsupportedPlan(f"join type {jt}")
        if c == "Aggregate":
            if state["agg_seen"]:
                raise UnsupportedPlan("nested aggregate")
            state["agg_seen"] = True
            info.has_agg = True
            info.group_by = frozenset(canon(_rexpr(g)) for g in node.get("groupingExpressions", []))
            if not state["out_done"]:
                state["out_done"] = True
                for ex in node.get("aggregateExpressions", []):
                    t = _expr(ex)
                    name = t.get("name") if _cls(t) in ("Alias", "AttributeReference") else None
                    if name is None:
                        raise UnsupportedPlan("unnamed aggregate output")
                    rt = _resolve_tree(t)
                    info.outputs.append((name, canon(rt)))
                    info.output_trees.append((name, rt))
            walk(node["_children"][0])
            return

    walk(root)
    if outer_joins and state["n_joins"] > 1:
        raise UnsupportedPlan("outer join in a multi-join plan")
    info.tables = tuple(sorted(tables))
    info.join_conds = frozenset(joins)
    info.join_attr_pairs = frozenset(join_pairs)
    info.join_types = tuple(sorted(outer_joins))
    info.outer_attr_pairs = (frozenset() if state["outer_impure"]
                             else frozenset(outer_pairs))
    info.filters_above = frozenset(above)
    info.filters_below = frozenset(below)
    info.residual_by_canon = {**above, **below}
    return info


# ---------------------------------------------------------------------------
# MV registry (warehouse-level JSON, like the reference's material_view
# Cassandra table: view_name → sql_text, relation fingerprints, auto_update)
# ---------------------------------------------------------------------------


def _registry_path(warehouse: str | None) -> str:
    wh = warehouse or catalog.DEFAULT_WAREHOUSE
    os.makedirs(wh, exist_ok=True)
    return os.path.join(wh, "_material_views.json")


def _load_registry(warehouse: str | None) -> dict:
    p = _registry_path(warehouse)
    if not os.path.isfile(p):
        return {}
    with open(p) as f:
        return json.load(f)


def _save_registry(d: dict, warehouse: str | None) -> None:
    p = _registry_path(warehouse)
    tmp = f"{p}.tmp.{uuid.uuid4().hex[:8]}"
    with open(tmp, "w") as f:
        json.dump(d, f, indent=1, sort_keys=True)
    os.rename(tmp, p)


def _fingerprints(session, names) -> dict[str, int]:
    return {n: session.table(n).store.latest_version() for n in names}


def _source_ids(session, names) -> dict[str, str]:
    """table_id per source — identity, not just version. A source
    dropped and recreated at the same path restarts version numbering,
    so version fingerprints alone can (a) collide — same count, view
    reads as fresh over unrelated content — or (b) hand the
    incremental window a [last, cur] range over the NEW incarnation
    whose deltas have nothing to do with what the view contains."""
    return {n: session.table(n).store.table_info().table_id
            for n in names}


def _sources_match(session, ent) -> bool:
    """True when every recorded source table_id still matches the live
    table (pre-feature entries with no recorded ids pass — identity
    then unverifiable, behavior unchanged)."""
    recorded = ent.get("source_ids")
    if not recorded:
        return True
    try:
        live = _source_ids(session, set(recorded))
    except Exception:
        return False  # a source vanished → treat as identity break
    return live == recorded


# ---------------------------------------------------------------------------
# incremental maintenance (round 8; beyond the reference — its refresh
# is always a full re-run, UpdateMaterialViewCommand.scala:30-76)
# ---------------------------------------------------------------------------
#
# A single-table GROUP BY view whose aggregates are all sum/count/avg is
# self-maintainable through the SIGNED-partial algebra the rollup module
# already uses (plans/rollup.py): inserts contribute +1, deletes -1, an
# update nets (post - pre). The backing table stores, besides the view's
# declared output columns, HIDDEN partial columns:
#
#   _mv_s_<out>  exact signed sum of the aggregate's argument
#                (bigint for integral inputs, the Spark sum-result
#                decimal for decimal inputs — floats are NOT eligible:
#                float retraction is inexact, so float views refresh
#                full)
#   _mv_c_<out>  signed count of non-null arguments (NULL-ness + avg
#                denominators)
#   _mv_n        signed row count (group liveness: 0 → group deleted)
#
# and the declared outputs are FINALIZED from the partials with the
# same operand types Spark's own Sum/Count/Average use, so an
# incremental refresh is bit-identical to a full re-run. A refresh
# reads O(changes): the coalesced range CDC for hash sources / the new
# files for append-only sources, never the source history; the merge
# into the backing table is an O(touched groups) upsert + tombstone
# delete. Anything outside the shape (joins, HAVING, distinct, min/max,
# float inputs) falls back to the reference-parity full re-run.

_MVH = "_mv_"  # hidden-column prefix on incremental backing tables


def _strip_mv_hidden(df: DataFrame) -> DataFrame:
    keep = [c for c in df.columns if not c.startswith(_MVH)]
    return df.select(*keep) if len(keep) != len(df.columns) else df


def _register_probe_views(session, known: set[str]) -> list[str]:
    """Register EMPTY temp views (manifest schema, zero rows, zero file
    access) for every known table the Spark catalog can't resolve yet.
    This is what keeps a COLD session O(changes): a cron-style
    new-session-per-refresh deployment has no temp views registered, so
    without probes the spec analysis fails and the refresh silently
    degrades to the O(|source|) full re-run — exactly the cost the
    incremental path exists to avoid. Returns the names registered (the
    caller drops them)."""
    from pyspark.sql import types as T

    spark = session.spark
    out: list[str] = []
    for n in sorted(known):
        if "." in n:
            continue
        try:
            if spark.catalog.tableExists(n):
                continue
            src_t = session.table(n)
            schema = T.StructType.fromJson(json.loads(src_t.info.schema_json))
            local_df(spark, [], schema).createOrReplaceTempView(n)
            out.append(n)
        except Exception:
            continue
    return out


# spec memo: (warehouse, sql) -> (spec, per-source validation signature).
# The spec is pure rendered data derived from the view SQL + the source
# tables' declared schemas/layout; re-deriving it costs a Spark parse +
# analysis pass (~0.3 s) on EVERY create/refresh. The memo returns a
# deep copy when every source still matches the signature it was derived
# under (path, schema_json, hash/range layout) — any schema evolution,
# re-register, or drop/recreate misses and re-derives, so the
# "never persisted, survives schema evolution" contract holds.
_SPEC_MEMO: dict[tuple, tuple] = {}
_SPEC_MEMO_CAP = 256


def _spec_sources_sig(session, names) -> "dict | None":
    sig = {}
    for n in names:
        t = session._tables.get(n)
        if t is None:
            return None  # not session-registered: skip the memo
        try:
            info = t.info
            sig[n] = (t.store.table_path, info.schema_json,
                      tuple(info.hash_cols or ()),
                      tuple(info.range_cols or ()))
        except Exception:  # noqa: BLE001
            return None
    return sig


def _incremental_spec(session, sql_text: str) -> dict | None:
    """Eligibility probe + rendered SQL pieces, or None (→ full
    refresh). Derived from the analyzed plan (memoized against the
    sources' declared schemas/layout) — never persisted, so registry
    entries survive schema evolution."""
    key = (session.warehouse, sql_text)
    hit = _SPEC_MEMO.get(key)
    if hit is not None:
        spec, sig = hit
        names = spec["sources"] if spec.get("join") else [spec["source"]]
        if _spec_sources_sig(session, names) == sig:
            return copy.deepcopy(spec)
        del _SPEC_MEMO[key]
    known = set(session._tables) | set(catalog.list_tables(session.warehouse))
    probes: list[str] = []
    try:
        spec = _incremental_spec_inner(session, sql_text, known, probes)
        if spec is not None:
            names = (spec["sources"] if spec.get("join")
                     else [spec["source"]])
            sig = _spec_sources_sig(session, names)
            if sig is not None:
                if len(_SPEC_MEMO) >= _SPEC_MEMO_CAP:
                    _SPEC_MEMO.pop(next(iter(_SPEC_MEMO)))
                _SPEC_MEMO[key] = (copy.deepcopy(spec), sig)
        return spec
    finally:
        session._unsync(probes)
        for v in probes:
            try:
                session.spark.catalog.dropTempView(v)
            except Exception:
                pass


def _incremental_spec_inner(session, sql_text: str, known: set[str],
                            probes: list[str]) -> dict | None:
    try:
        vinfo = extract(session.spark, sql_text, known)
    except UnsupportedPlan:
        return None
    except Exception:
        # cold session: source temp views not registered — register
        # empty-frame probes from the manifest schemas and retry
        # (analysis-only; the refresh itself plans over the change
        # window + backing table, never these views)
        probes.extend(_register_probe_views(session, known))
        if not probes:
            return None
        try:
            vinfo = extract(session.spark, sql_text, known)
        except Exception:
            return None
    if not vinfo.tables or len(vinfo.tables) > 6:
        return None  # >6-way joins → full refresh
    left_join = None
    if vinfo.join_types:
        # LEFT joins are maintainable in the single-join 2-table shape
        # with a pure-equality ON (the null-extension flip algebra in
        # _left_dim_window_frame); anything else → full refresh
        if (len(vinfo.join_types) != 1 or len(vinfo.tables) != 2
                or not vinfo.outer_attr_pairs or vinfo.join_conds):
            return None
        jt, lts, rts, _on = vinfo.join_types[0]
        if jt != "leftouter" or len(lts) != 1 or len(rts) != 1:
            return None
        left_join = (lts[0], rts[0])
    is_join = len(vinfo.tables) >= 2
    if not is_join and vinfo.join_conds:
        return None
    if is_join and (len(set(vinfo.tables)) != len(vinfo.tables)
                    or not (vinfo.join_attr_pairs
                            or vinfo.outer_attr_pairs)):
        return None  # self-join / cartesian-with-WHERE-equality → full
    if not vinfo.has_agg or vinfo.filters_above:
        return None  # empty group_by (global aggregate) IS maintainable
    src_names = list(vinfo.tables)
    if any("." in n for n in src_names):
        return None  # dotted names have no temp view to probe against
    try:
        src_ts = {n: session.table(n) for n in src_names}
    except Exception:
        return None
    src_t = src_ts[src_names[0]]
    # declared schema from the MANIFEST, not a fresh scan plan: spec
    # derivation must never touch source data paths (the O(changes)
    # contract starts here — building a full-table file index stats
    # every historical file)
    from pyspark.sql import types as T

    schemas = {n: T.StructType.fromJson(json.loads(src_ts[n].info
                                                   .schema_json))
               for n in src_names}
    if not is_join:
        src_name = src_names[0]
        src_schema = schemas[src_name]
        colmap = {f"{src_name}.{f.name.lower()}": f.name
                  for f in src_schema.fields}
    else:
        # joins render over a FLATTENED namespace (tbl__col): the
        # refresh joins the per-table frames in DataFrame land and the
        # partial SQL runs over the single joined view — no quoting
        # games with table-qualified identifiers
        colmap = {f"{n}.{f.name.lower()}": f"{n}__{f.name}"
                  for n in src_names for f in schemas[n].fields}
        jpairs = []
        for pair in sorted(vinfo.join_attr_pairs
                           or vinfo.outer_attr_pairs):
            l, r = pair
            if l not in colmap or r not in colmap:
                return None
            lt, rt = l.split(".", 1)[0], r.split(".", 1)[0]
            if lt == rt:
                return None  # same-table 'join' equality → full
            jpairs.append({"l": colmap[l], "r": colmap[r],
                           "lt": lt, "rt": rt})
        if left_join is not None:
            # the right (null-supplying) side's join columns must be
            # exactly its hash PK: uniqueness is what lets the change
            # types of a coalesced window stand in for match-count
            # flips (insert ⇒ key was absent ⇒ its left rows were
            # null-extended; delete ⇒ key gone ⇒ they become so)
            rt_name = left_join[1]
            rjcols = set()
            for p in jpairs:
                if p["lt"] == rt_name:
                    rjcols.add(p["l"].split("__", 1)[1].lower())
                if p["rt"] == rt_name:
                    rjcols.add(p["r"].split("__", 1)[1].lower())
            pk = {c.lower() for c in src_ts[rt_name].info.hash_cols}
            if not pk or rjcols != pk:
                return None
        # the equi-join graph must CONNECT every table — a disconnected
        # component means a hidden cartesian product, which the
        # incremental join builder must never materialize
        parent = {n: n for n in src_names}

        def _find(x):
            while parent[x] != x:
                x = parent[x]
            return x

        for p in jpairs:
            parent[_find(p["lt"])] = _find(p["rt"])
        if len({_find(n) for n in src_names}) != 1:
            return None
        src_schema = T.StructType(
            [T.StructField(colmap[f"{n}.{f.name.lower()}"], f.dataType,
                           True)
             for n in src_names for f in schemas[n].fields])
    group_canons = set(vinfo.group_by)
    out_canons = {cn for _, cn in vinfo.outputs}
    if not group_canons <= out_canons:
        return None  # a group expr the view hides cannot key the upsert
    groups, aggs = [], []
    try:
        for (nm, cn), (_nm, tree) in zip(vinfo.outputs, vinfo.output_trees):
            if cn in group_canons:
                groups.append({"out": nm, "sql": to_sql(tree, colmap)})
                continue
            t = tree
            if _cls(t) == "Alias":
                t = t["_children"][0]
            if _cls(t) != "AggregateExpression":
                return None
            fn = t["_children"][0]
            kind = {"Sum": "sum", "Count": "count", "Average": "avg",
                    "Min": "min", "Max": "max"}.get(_cls(fn))
            if kind is None or len(fn["_children"]) != 1:
                return None
            if t.get("isDistinct"):
                # count/sum/avg(DISTINCT x): maintainable on
                # SINGLE-TABLE views through a per-view auxiliary
                # (group, value) → count table (_sync_distinct_aux) —
                # a touched group's distinct aggregate recomputes from
                # its aux slice, never the source. min/max(DISTINCT)
                # ≡ plain min/max (duplicates can't move an extremum)
                # so they keep the fold/rescan path; joins keep the
                # full re-run; float sums stay out (order-dependent).
                if kind not in ("count", "sum", "avg", "min", "max"):
                    return None
                if kind in ("count", "sum", "avg"):
                    if is_join:
                        return None
                    kind = kind + "_distinct"
            # min/max fold monotonically under pure APPENDS; a
            # retraction (upsert/delete on a hash source) can remove
            # the stored extremum, which no fold can undo. Mutable
            # single-table sources stay eligible via the AFFECTED-GROUP
            # RESCAN path (_apply_delta): groups whose retracted values
            # threaten the stored extremum are recomputed from a
            # version-pinned source scan semi-pruned to exactly those
            # groups — everything else still folds O(changes). Join
            # views would need the rescan to re-run the join; refuse.
            rescan = False
            if kind in ("min", "max") and any(
                    src_ts[n].info.hash_cols for n in src_names):
                if is_join:
                    return None
                rescan = True
            aggs.append({"out": nm, "kind": kind, "rescan": rescan,
                         "arg": to_sql(fn["_children"][0], colmap,
                                       allow_agg=False),
                         "orig_sql": to_sql(tree, colmap, allow_agg=True)})
        where = [to_sql(vinfo.residual_by_canon[cn], colmap, allow_agg=False)
                 for cn in vinfo.filters_below]
    except UnsupportedPlan:
        return None
    if not aggs:
        return None
    # GROUP BY () — the global aggregate — is maintainable too: the
    # backing table holds ONE row (no upsert keys needed; refresh is a
    # 1-row overwrite)
    spark = session.spark
    # type probes (analysis-only, no jobs, no source file access): the
    # view's declared output types come from analyzing the SQL over the
    # already-registered temp view (a stored plan — no fresh listing);
    # the sum-result types from an EMPTY frame with the manifest schema
    try:
        out_dt = {f.name: f.dataType.simpleString()
                  for f in spark.sql(sql_text).schema.fields}
        probe_v = f"_mv_probe_{uuid.uuid4().hex[:8]}"
        local_df(spark, [], src_schema).createOrReplaceTempView(probe_v)
        try:
            sum_probe = ", ".join(
                f"{'count' if a['kind'] == 'count_distinct' else 'sum' if a['kind'].startswith(('sum', 'avg', 'count')) else a['kind']}"
                f"({a['arg']}) AS _p{i}"
                for i, a in enumerate(aggs))
            sum_dt = [f.dataType.simpleString() for f in
                      spark.sql(f"SELECT {sum_probe} FROM {probe_v}")
                      .schema.fields]
        finally:
            spark.catalog.dropTempView(probe_v)
    except Exception:
        return None
    for a, st in zip(aggs, sum_dt):
        a["sum_dt"], a["out_dt"] = st, out_dt[a["out"]]
        if a["kind"] in ("sum", "avg", "sum_distinct", "avg_distinct") \
                and not (st == "bigint" or st.startswith("decimal")):
            return None  # float accumulation: retraction is inexact
            # (and a float distinct re-sum is ordering-dependent)
        # min/max keep the value verbatim — any orderable type works
    if any(a["kind"] == "count_distinct" for a in aggs) and any(
            g["out"] in ("_dx", "_dn") for g in groups):
        return None  # aux-table column names are reserved
    base = {"groups": groups, "aggs": aggs, "where": where}
    if is_join:
        out = {**base, "join": True, "sources": src_names,
               "source_paths": {n: src_ts[n].store.table_path
                                for n in src_names},
               "join_pairs": jpairs}
        if left_join is not None:
            out.update(join_type="left", left=left_join[0],
                       right=left_join[1])
        return out
    return {**base, "source": src_name,
            "source_path": src_t.store.table_path}


def _mv_hidden_cols(spec) -> list[tuple[str, str]]:
    """(column, merge_kind): 'sum' partials add across refreshes,
    'min'/'max' fold via least/greatest (append-only windows only)."""
    cols = []
    for a in spec["aggs"]:
        if a["kind"].endswith("_distinct"):
            continue  # no fold state: the aux table is the state
        if a["kind"] in ("sum", "avg"):
            cols.append((f"{_MVH}s_{a['out']}", "sum"))
        elif a["kind"] in ("min", "max"):
            cols.append((f"{_MVH}m_{a['out']}", a["kind"]))
        cols.append((f"{_MVH}c_{a['out']}", "sum"))
    cols.append((f"{_MVH}n", "sum"))
    return cols


def _mv_partial_exprs(spec, sgn: str) -> list[str]:
    ex = []
    post = "(`_change_type` IN ('insert', 'update_postimage'))" \
        if sgn != "1" else "TRUE"
    for a in spec["aggs"]:
        if a["kind"].endswith("_distinct"):
            continue  # maintained through the aux table, not partials
        if a["kind"] in ("sum", "avg"):
            ex.append(f"CAST(sum(CAST(({a['arg']}) AS {a['sum_dt']}) "
                      f"* {sgn}) AS {a['sum_dt']}) AS `{_MVH}s_{a['out']}`")
        elif a["kind"] in ("min", "max"):
            # min/max partials fold postimage rows only — sound when no
            # retraction threatens the stored extremum; threatened
            # groups rescan (_apply_delta)
            ex.append(f"{a['kind']}(CASE WHEN {post} THEN ({a['arg']}) "
                      f"END) AS `{_MVH}m_{a['out']}`")
            if a.get("rescan") and sgn != "1":
                # delta-only threat probe (never stored): the MOST
                # THREATENING retracted value — min of retractions for
                # a min view (any retraction ≤ stored min threatens),
                # max for a max view
                ex.append(f"{a['kind']}(CASE WHEN NOT {post} THEN "
                          f"({a['arg']}) END) AS `{_MVH}r_{a['out']}`")
        ex.append(f"CAST(sum(CASE WHEN ({a['arg']}) IS NOT NULL "
                  f"THEN {sgn} ELSE 0 END) AS BIGINT) "
                  f"AS `{_MVH}c_{a['out']}`")
    ex.append(f"CAST(sum({sgn}) AS BIGINT) AS `{_MVH}n`")
    return ex


def _mv_final_exprs(spec) -> list[tuple[str, str]]:
    """Declared output ← hidden partials, with the operand types
    Spark's own Sum/Count/Average finalization uses (exactness)."""
    ex = []
    for a in spec["aggs"]:
        s, c = f"`{_MVH}s_{a['out']}`", f"`{_MVH}c_{a['out']}`"
        if a["kind"].endswith("_distinct"):
            # placeholder — _apply_delta overwrites it with the
            # authoritative recount from the aux table slice
            ex.append((a["out"], f"CAST(NULL AS {a['out_dt']})"))
        elif a["kind"] == "count":
            ex.append((a["out"], c))
        elif a["kind"] in ("min", "max"):
            ex.append((a["out"],
                       f"CASE WHEN {c} > 0 THEN "
                       f"CAST(`{_MVH}m_{a['out']}` AS {a['out_dt']}) END"))
        elif a["kind"] == "sum":
            ex.append((a["out"],
                       f"CASE WHEN {c} > 0 THEN CAST({s} AS "
                       f"{a['out_dt']}) END"))
        elif a["out_dt"] in ("double", "float"):
            # integral avg: Spark divides the (exact) double sum by the
            # double count — identical given exact operands < 2^53
            ex.append((a["out"],
                       f"CASE WHEN {c} > 0 THEN CAST({s} AS DOUBLE) / "
                       f"CAST({c} AS DOUBLE) END"))
        else:
            ex.append((a["out"],
                       f"CASE WHEN {c} > 0 THEN CAST({s} / {c} AS "
                       f"{a['out_dt']}) END"))
    return ex


def _mv_init_sql(spec, from_view: str | None = None) -> str:
    """Full-compute SQL: declared outputs via the ORIGINAL aggregate
    expressions (full-re-run semantics) + unsigned hidden partials.
    ``from_view`` overrides the FROM target (join specs compute over a
    pre-joined flattened view; single-table specs default to the
    source)."""
    gsel = [f"{g['sql']} AS `{g['out']}`" for g in spec["groups"]]
    fins = [f"{a['orig_sql']} AS `{a['out']}`" for a in spec["aggs"]]
    where = f" WHERE {' AND '.join(spec['where'])}" if spec["where"] else ""
    gb = ", ".join(g["sql"] for g in spec["groups"])
    gb = f" GROUP BY {gb}" if gb else ""  # global aggregate
    return (f"SELECT {', '.join(gsel + fins + _mv_partial_exprs(spec, '1'))}"
            f" FROM {from_view or spec['source']}{where}{gb}")


def _mv_delta_sql(spec, change_view: str) -> str:
    sgn = ("(CASE WHEN `_change_type` IN ('insert', 'update_postimage') "
           "THEN 1 WHEN `_change_type` IN ('delete', 'update_preimage') "
           "THEN -1 ELSE 0 END)")
    gsel = [f"{g['sql']} AS `{g['out']}`" for g in spec["groups"]]
    where = f" WHERE {' AND '.join(spec['where'])}" if spec["where"] else ""
    gb = ", ".join(g["sql"] for g in spec["groups"])
    gb = f" GROUP BY {gb}" if gb else ""  # global aggregate
    return (f"SELECT {', '.join(gsel + _mv_partial_exprs(spec, sgn))}"
            f" FROM {change_view}{where}{gb}")


def _prune_touched(old: DataFrame, dkeys: DataFrame, keys: list[str],
                   n_touched: int) -> DataFrame:
    """Semi-prune the backing table to the window's touched groups —
    scan-filter shape, never an O(|MV|) shuffle of the backing table.
    Broadcast budget: a window touching more distinct groups than
    ``BROADCAST_KEY_LIMIT`` must not fail the refresh on the broadcast
    size cap — it falls back to a shuffled left-semi, still
    O(touched + pruned) exchange."""
    semi = None
    for k in keys:
        e = old[k].eqNullSafe(dkeys[k])
        semi = e if semi is None else semi & e
    if n_touched <= BROADCAST_KEY_LIMIT:
        return old.join(F.broadcast(dkeys), semi, "left_semi")
    return old.join(dkeys, semi, "left_semi")


def _change_window(spark, src: ManifestStore, last: int,
                   cur: int) -> "DataFrame | str | None":
    """The signed change frame for source versions (last, cur]:
    a DataFrame carrying ``_change_type``, the string ``"noop"`` when
    the window provably changed nothing, or None (→ full rebuild:
    cursor manifest expired, history rewritten, or a deletion-vector
    change an append-only diff cannot express)."""
    from starlake_spark.operators import reader
    from starlake_spark.sources.datasource import range_changes

    info = src.table_info()
    try:
        last_snap = src.snapshot(last)
        last_files = last_snap.all_files()
    except Exception:
        return None  # cursor manifest expired → full rebuild
    if info.hash_cols:
        # the window diff reads preimages; a vacuumed one → full
        # rebuild (same guard as refresh_rollup). Probes are BOUNDED to
        # the files the window will actually open that vacuum could
        # have taken: files EXPIRED inside the window (in the cursor
        # snapshot, gone from the current one). Files still live at
        # ``cur`` are never vacuumed, and range_changes cell-prunes its
        # boundary scans to the touched (partition, bucket) cells, so
        # no other cursor-snapshot file is opened — probing all of them
        # (the old behavior) is O(table) serial HEADs on an object
        # store, minutes of driver stall per refresh at 10^5+ files.
        # The reference never pre-probes at all (it reads lazily and
        # lets a missing file fail the scan, DataOperation.scala:52-119);
        # the caller's full-fallback catch gives the same safety net.
        from starlake_spark.listing import get_lister

        lister = get_lister()
        try:
            cur_paths = {f.path for f in src.snapshot(cur).all_files()}
        except Exception:
            return None
        expired = [f for f in last_files if f.path not in cur_paths]
        if not all(lister.exists(os.path.join(src.table_path, f.path))
                   for f in expired):
            return None
        return range_changes(spark, src.table_path, start_version=last,
                             end_version=cur)
    prev_paths = {f.path for f in last_files}
    cur_snap = src.snapshot(cur)
    cur_files = cur_snap.all_files()
    if not prev_paths <= {f.path for f in cur_files}:
        return None  # compaction/delete rewrote history → full

    # deletion vectors delete rows WITHOUT touching data-file paths
    # or write_versions (all_files() excludes the sidecars,
    # meta.py PartitionSnapshot.dv_files) — a DV-only window would
    # pass the path guard, see new_files=[], and the deleted rows
    # would silently never be retracted. Any dv-set change forces
    # the full-refresh fallback.
    def _dv_paths(s):
        return {d.path for p in s.partitions.values() for d in p.dv_files}

    if _dv_paths(last_snap) != _dv_paths(cur_snap):
        return None
    new_files = [f for f in cur_files if f.write_version > last]
    if not new_files:
        return "noop"
    return (reader._plain_scan(spark, src, info, new_files)
            .withColumn("_change_type", F.lit("insert")))


def _rescan_inlist(spec, tkeys_rows, cols_dt) -> list[str]:
    """Best-effort file-prune conjuncts for the rescan scan: when a
    group expr is a bare source column of a literal-encodable type and
    the threatened key set is small, an IN-list predicate reaches the
    manifest's partition/stats/bucket pruning (to_df ``where``).
    Exactness never depends on this — the semi-join enforces the group
    set; skipping a column just reads more files."""
    import re as _re

    from pyspark.sql import types as T

    out = []
    for g in spec["groups"]:
        col = g["sql"]
        m = _re.fullmatch(r"`([^`]+)`", col)
        name = m.group(1) if m else col
        if not _re.fullmatch(r"[A-Za-z_][A-Za-z0-9_]*", name):
            continue
        dt = cols_dt.get(g["out"])
        vals, has_null = set(), False
        for r in tkeys_rows:
            v = r[g["out"]]
            if v is None:
                has_null = True
            else:
                vals.add(v)
        if not vals and not has_null:
            continue
        if isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType,
                           T.LongType)):
            lits = [str(int(v)) for v in sorted(vals)]
        elif isinstance(dt, T.StringType):
            lits = ["'" + str(v).replace("'", "''") + "'"
                    for v in sorted(vals)]
        elif isinstance(dt, T.DateType):
            lits = [f"DATE '{v.isoformat()}'" for v in sorted(vals)]
        else:
            continue
        pred = f"`{name}` IN ({', '.join(lits)})" if lits else None
        if has_null:
            pred = (f"({pred} OR `{name}` IS NULL)" if pred
                    else f"`{name}` IS NULL")
        if pred:
            out.append(pred)
    return out


def _pykey(vals) -> tuple:
    """Driver-side group-key normalization matching Spark's grouping
    semantics: NaN groups with NaN (Python NaN != NaN), -0.0 with 0.0
    (already equal in Python), binary as hashable bytes."""
    out = []
    for v in vals:
        if isinstance(v, float) and v != v:
            out.append("__starlake_nan__")
        elif isinstance(v, bytearray):
            out.append(bytes(v))
        else:
            out.append(v)
    return tuple(out)


def _rescan_frame(spark, spec, pinned_src, tkeys, n_thr: int,
                  old_dt) -> DataFrame:
    """Authoritative recompute of THREATENED groups (a retraction hit
    the stored extremum): the view's own init SQL over the
    version-pinned source snapshot (the window end — deterministic on
    crash replay), semi-pruned to exactly the threatened group keys.
    O(scan of files containing those groups), which the IN-list
    conjuncts shrink to the touched partitions/buckets whenever the
    group key prunes; never O(|MV|) and only paid when an extremum was
    actually retracted."""
    extra_where = []
    tk = None
    if tkeys is not None and spec["groups"]:
        if n_thr <= 1000:
            rows = tkeys.collect()
            extra_where = _rescan_inlist(
                spec, rows,
                {g["out"]: old_dt[g["out"]] for g in spec["groups"]})
        tk = tkeys
        for g in spec["groups"]:
            tk = tk.withColumnRenamed(g["out"], g["out"] + "__mvtk")
        if n_thr <= BROADCAST_KEY_LIMIT:
            tk = F.broadcast(tk)
    src_df = pinned_src(list(spec["where"]) + extra_where)
    if tk is not None:
        cond = None
        for g in spec["groups"]:
            e = F.expr(g["sql"]).eqNullSafe(F.col(g["out"] + "__mvtk"))
            cond = e if cond is None else cond & e
        src_df = src_df.join(tk, cond, "left_semi")
    rv = f"_mv_rs_{uuid.uuid4().hex[:10]}"
    src_df.createOrReplaceTempView(rv)
    try:
        rs = spark.sql(_mv_init_sql(spec, from_view=rv))
        cast = [F.col(c).cast(old_dt[c]).alias(c) for c in rs.columns
                if c in old_dt]
        return mat_local(spark, rs.select(*cast))
    finally:
        try:
            spark.catalog.dropTempView(rv)
        except Exception:
            pass


def _distinct_aggs(spec) -> list:
    return [a for a in spec["aggs"] if a["kind"].endswith("_distinct")]


def _aux_delta_sql(spec, a, change_view: str, signed: bool) -> str:
    """Aux-table frame for one count(DISTINCT) agg: per
    (group, value) pair, the (signed) row count. ``signed=False`` is
    the init/rebuild form over a plain source view."""
    sgn = ("(CASE WHEN `_change_type` IN ('insert', 'update_postimage') "
           "THEN 1 WHEN `_change_type` IN ('delete', 'update_preimage') "
           "THEN -1 ELSE 0 END)") if signed else "1"
    gsel = [f"{g['sql']} AS `{g['out']}`" for g in spec["groups"]]
    where = [f"({a['arg']}) IS NOT NULL"] + list(spec["where"])
    gb = ", ".join([g["sql"] for g in spec["groups"]] + [f"({a['arg']})"])
    return (f"SELECT {', '.join(gsel)}{', ' if gsel else ''}"
            f"({a['arg']}) AS `_dx`, CAST(sum({sgn}) AS BIGINT) AS `_dn`"
            f" FROM {change_view} WHERE {' AND '.join(where)}"
            f" GROUP BY {gb}")


def _merge_aux(spark, aux_t: StarTable, delta2: DataFrame, akeys,
               txn_app: str, txn_version: int,
               n_rows: "int | None" = None) -> None:
    """Fold a signed (group, value) count delta into an aux table:
    broadcast-semi-prune to touched pairs, sum-merge, ONE gated upsert —
    the same O(touched) shape as _apply_delta. ``delta2`` must be
    materialized.

    Dead pairs (multiplicity folded to <= 0) are NOT tombstone-deleted:
    they stay as ``_dn <= 0`` rows and every aux read filters them
    (``_live_aux``). One manifest commit per sync instead of two (the
    probe job + delete commit were pure per-refresh fixed cost —
    optimization round 10, guide §1.2 "remove passes"), and replay
    stays exactly-once under the single gated stamp. A later +1 on a
    dead pair folds it back to 1 — visible again, exactly as a fresh
    insert after a tombstone would read. The dead rows are O(pairs
    ever retracted) residue; compaction collapses their MoR versions
    to one row each."""
    from starlake_spark.operators import dml

    old = aux_t.to_df()
    dd = delta2
    for c in delta2.columns:
        dd = dd.withColumnRenamed(c, c + "__d")
    cond = None
    for k in akeys:
        e = F.col(k).eqNullSafe(F.col(k + "__d"))
        cond = e if cond is None else cond & e
    dkeys = dd.select(*[F.col(k + "__d").alias(k) for k in akeys]) \
        .distinct()
    pruned = _prune_touched(old, dkeys, akeys,
                            delta2.count() if n_rows is None else n_rows)
    j = pruned.join(dd, cond, "right")
    merged = j.select(
        *[F.coalesce(F.col(k), F.col(k + "__d")).alias(k) for k in akeys],
        (F.coalesce(F.col("_dn"), F.lit(0))
         + F.coalesce(F.col("_dn__d"), F.lit(0))).cast("bigint")
        .alias("_dn"))
    dml.upsert(spark, aux_t.store, merged,
               txn_app_id=txn_app, txn_version=txn_version)


def _live_aux(adf: DataFrame) -> DataFrame:
    """The live (group, value) pairs of an aux table: multiplicity > 0.
    Dead pairs persist as rows (see _merge_aux) and must never reach a
    recount."""
    return adf.filter(F.col("_dn") > 0)


def _sync_distinct_aux(session, spec, src: ManifestStore, t: StarTable,
                       last: int, cur: int, cv: str) -> bool:
    """Advance every count(DISTINCT) aux table through the source
    window, exactly-once per aux: each aux carries its OWN txn stamp
    (a crash between the aux upsert and the main upsert leaves the aux
    ahead of the main cursor — its next window starts at ITS stamp, so
    the overlap is never re-folded). False → caller runs the full
    path (which rebuilds the aux tables alongside the main overwrite).
    """
    spark = session.spark
    keys = [g["out"] for g in spec["groups"]]
    synced: set[str] = set()
    for a in _distinct_aggs(spec):
        apath = spec["aux_paths"][a["out"]]
        if apath in synced:
            # aggs sharing one distinct argument share one aux table
            # (same (group, value) pairs) — it advances ONCE per window
            continue
        synced.add(apath)
        aux_t = StarTable.for_path(spark, apath)
        app = f"mv_refresh_aux:{t.info.table_id}:{a['out']}"
        astamp = aux_t.store.snapshot().streaming.get(f"txn:{app}", -1)
        astart = max(last, astamp)
        if astart >= cur:
            continue  # already applied (crash replay)
        drop_v = None
        try:
            if astart == last:
                ch_v = cv
            else:
                ch2 = _change_window(spark, src, astart, cur)
                if ch2 is None:
                    return False
                if isinstance(ch2, str):  # noop tail
                    continue
                drop_v = f"_mv_aux_{uuid.uuid4().hex[:10]}"
                ch2.createOrReplaceTempView(drop_v)
                ch_v = drop_v
            delta2, d2rows = mat_local(spark, spark.sql(
                _aux_delta_sql(spec, a, ch_v, signed=True)))
            _merge_aux(spark, aux_t, delta2, keys + ["_dx"], app, cur,
                       n_rows=len(d2rows) if d2rows is not None else None)
        finally:
            if drop_v:
                try:
                    spark.catalog.dropTempView(drop_v)
                except Exception:
                    pass
    return True


def _apply_recounts(spark, spec, full: DataFrame, keys,
                    old_dt, n_touched: "int | None" = None) -> DataFrame:
    """Overwrite each count(DISTINCT) placeholder column of the folded
    frame with the authoritative recount from its aux table, semi-
    pruned to the frame's (touched) groups — O(aux pairs of touched
    groups), and replay-safe because the aux state is already at the
    window end when this runs."""
    def _rec_expr(a):
        fn = {"count_distinct": F.count, "sum_distinct": F.sum,
              "avg_distinct": F.avg}[a["kind"]]
        return fn("_dx").alias(a["out"] + "__r")

    def _final(a):
        # a touched group with no aux rows (all args NULL): COUNT is
        # 0, SUM/AVG are NULL — SQL aggregate-over-empty semantics
        c = F.col(a["out"] + "__r")
        return (F.coalesce(c, F.lit(0)) if a["kind"] == "count_distinct"
                else c)

    # one recount pass per aux TABLE: aggs sharing a distinct argument
    # share one aux, so their recounts ride one groupBy + one join
    # instead of one scan-join pair per agg (optimization round 10)
    by_path: dict[str, list] = {}
    for a in _distinct_aggs(spec):
        by_path.setdefault(spec["aux_paths"][a["out"]], []).append(a)
    n_t = None
    tk = None
    for apath, aggs in by_path.items():
        adf = _live_aux(StarTable.for_path(spark, apath).to_df())
        outs = [a["out"] for a in aggs]
        if not keys:
            rec = adf.agg(*[_rec_expr(a) for a in aggs])
            full = full.drop(*outs).crossJoin(rec)
            for a in aggs:
                full = full.withColumn(
                    a["out"], _final(a).cast(old_dt[a["out"]]))
            full = full.drop(*[o + "__r" for o in outs])
            continue
        if tk is None:
            if n_touched is not None:
                # caller already holds the frame driver-local: a keys
                # projection over a LocalRelation re-evaluates for free
                # — no checkpoint job, no count job
                tk = full.select(*keys)
                n_t = n_touched
            else:
                tk = full.select(*keys).localCheckpoint(eager=True)
                n_t = tk.count()
        pruned = _prune_touched(adf, tk, keys, n_t)
        rec = pruned.groupBy(*[F.col(k) for k in keys]) \
            .agg(*[_rec_expr(a) for a in aggs])
        for k in keys:
            rec = rec.withColumnRenamed(k, k + "__r")
        cond = None
        for k in keys:
            e = F.col(k).eqNullSafe(F.col(k + "__r"))
            cond = e if cond is None else cond & e
        full = full.drop(*outs).join(rec, cond, "left")
        for a in aggs:
            full = full.withColumn(
                a["out"], _final(a).cast(old_dt[a["out"]]))
        full = full.drop(*[o + "__r" for o in outs],
                         *[k + "__r" for k in keys])
    return full


def _apply_delta(spark, t: StarTable, spec, delta: DataFrame,
                 n_touched: int, txn_app: str, txn_version: int,
                 pinned_src=None, may_die: bool = True) -> None:
    """Merge an aggregated signed-partial delta frame into the backing
    table: semi-prune the backing table to the touched groups, fold
    partials, finalize outputs, tombstone dead groups, gated upsert.
    ``delta`` must already be materialized (localCheckpoint).

    ``pinned_src`` (mutable-extremum specs only): callable
    ``(where_conjuncts) -> DataFrame`` reading the source pinned at the
    window-end version — the rescan target for groups whose stored
    min/max a retraction threatened.

    ``may_die=False``: the caller proved every delta group's signed
    row-count contribution is >= 0 (min of the hidden ``n`` partial —
    one aggregate alongside the count it already needed), so no folded
    group can reach n <= 0 and the dead-group probe job + tombstone
    commit are skipped outright — a probe every refresh paid even for
    pure-append windows (optimization round 10). Rescan paths keep
    their own dead check (a threatened group whose rescan returns no
    rows died regardless of the fold arithmetic)."""
    from starlake_spark.operators import dml

    keys = [g["out"] for g in spec["groups"]]
    hidden = _mv_hidden_cols(spec)
    old = t.to_df()
    old_dt = {f.name: f.dataType for f in old.schema.fields}
    dd = delta.select(*[F.col(c).alias(c + "__d") for c in delta.columns])
    if keys:
        cond = None
        for k in keys:
            e = F.col(k).eqNullSafe(F.col(k + "__d"))
            cond = e if cond is None else cond & e
        # scale shape: BROADCAST-semi-prune the backing table to
        # the touched groups FIRST (scan-filter, no shuffle of the
        # MV), then right-join the pruned O(touched) slice with the
        # delta. A naked right join would shuffle (or broadcast)
        # the WHOLE backing table — O(|MV|) exchange per refresh,
        # which defeats O(changes) once the MV itself is large.
        dkeys = dd.select(*[F.col(k + "__d").alias(k)
                            for k in keys]).distinct()
        pruned = _prune_touched(old, dkeys, keys, n_touched)
        j = pruned.join(dd, cond, "right")
    else:
        # global aggregate: one old row × one delta row
        j = old.crossJoin(dd)

    def _merge(h, kind):
        o, d = F.col(h), F.col(h + "__d")
        if kind == "min":
            return F.least(o, d)  # least/greatest skip NULLs
        if kind == "max":
            return F.greatest(o, d)
        return F.coalesce(o, F.lit(0)) + F.coalesce(d, F.lit(0))

    # a fold is UNSOUND for a group when a retracted value ties/beats
    # the stored extremum (it may have HELD it), or when the group has
    # no stored row at all (in-window churn: rows arrived AND left
    # inside this window, so the postimage fold saw values that are
    # already gone) — those groups rescan below
    rescan_aggs = [a for a in spec["aggs"] if a.get("rescan")]
    threat = None
    for a in rescan_aggs:
        h = F.col(f"{_MVH}m_{a['out']}")
        r = F.col(f"{_MVH}r_{a['out']}__d")
        exists = F.col(f"{_MVH}n").isNotNull()
        beaten = h.isNotNull() & ((h < r) if a["kind"] == "min"
                                  else (h > r))
        ta = r.isNotNull() & ~(exists & beaten)
        threat = ta if threat is None else (threat | ta)
    if threat is None:
        threat = F.lit(False)

    merged_cols = [F.coalesce(F.col(k), F.col(k + "__d")).alias(k)
                   for k in keys]
    merged_cols += [_merge(h, kind).cast(old_dt[h]).alias(h)
                    for h, kind in hidden]
    m = j.select(*merged_cols, threat.alias("_mv_rescan_"))
    finals = [F.expr(sql).cast(old_dt[out]).alias(out)
              for out, sql in _mv_final_exprs(spec)]
    hcols = [F.col(h) for h, _k in hidden]
    # materialize once: the frame is O(touched groups) small, and
    # the upsert + dead-group probe + delete below would otherwise
    # each re-run the change-window scan and the backing-table join.
    # Capped driver collect (round 11): when the rows fit on the
    # driver, every probe below is answered from them with no job.
    full_all, frows = mat_local(
        spark, m.select(*keys, *finals, *hcols, F.col("_mv_rescan_")))
    fa_cols = full_all.columns
    ri = fa_cols.index("_mv_rescan_")
    out_cols = [f.name for f in old.schema.fields]
    if not keys:
        # the single row always survives: a global aggregate over an
        # empty set still yields one row (count 0, NULL extrema)
        frame = full_all.drop("_mv_rescan_")
        has_thr = (any(r[ri] for r in frows) if frows is not None
                   else bool(full_all.filter("_mv_rescan_")
                             .limit(1).count()))
        if rescan_aggs and has_thr:
            frame, _ = _rescan_frame(spark, spec, pinned_src, None, 0,
                                     old_dt)  # recomputes DISTINCT too
        elif _distinct_aggs(spec):
            frame = _apply_recounts(spark, spec, frame, [], old_dt)
        dml.write_into(spark, t.store, frame.select(*out_cols),
                       mode="overwrite",
                       txn_app_id=txn_app, txn_version=txn_version)
        return
    full = full_all.filter(~F.col("_mv_rescan_"))
    fold_rows = ([r for r in frows if not r[ri]]
                 if frows is not None else None)
    fold_cols = fa_cols
    if _distinct_aggs(spec):
        # the rescan slice (if any) recomputes its DISTINCT columns in
        # _rescan_frame's init SQL — only the folded slice recounts
        full = _apply_recounts(
            spark, spec, full, keys, old_dt,
            n_touched=len(fold_rows) if fold_rows is not None else None)
        # the recount joined aux-table scans back in: re-materialize so
        # the live/dead split below stays row-known (and the write does
        # not re-run the recount join per consumer)
        full, fold_rows = mat_local(spark, full)
        fold_cols = full.columns
    live = (full.filter(F.col(f"{_MVH}n") > 0).select(*out_cols))
    dead = full.filter(F.col(f"{_MVH}n") <= 0).select(*keys)
    ni = fold_cols.index(f"{_MVH}n")
    dead_nonempty = (any(r[ni] is not None and r[ni] <= 0
                         for r in fold_rows)
                     if fold_rows is not None else None)
    check_dead = may_die
    if rescan_aggs:
        tkeys = full_all.filter(F.col("_mv_rescan_")).select(*keys)
        n_thr = (sum(1 for r in frows if r[ri]) if frows is not None
                 else tkeys.count())
        if n_thr:
            check_dead = True  # a rescan can tombstone groups the
            # fold arithmetic alone could not kill
            rs, rs_rows = _rescan_frame(spark, spec, pinned_src, tkeys,
                                        n_thr, old_dt)
            if frows is not None and rs_rows is not None \
                    and fold_rows is not None:
                # Every side is driver-local: build live/dead directly
                # from the rows as fresh LocalRelations. No union of
                # filter plans — which sidesteps the Catalyst
                # Union.rewriteConstraints crash (filter constraints on
                # the dropped `_mv_rescan_` column) that forced the old
                # path into checkpoints under constraint-propagation
                # OFF — and no further jobs before the commit.
                kidx_fa = [fa_cols.index(k) for k in keys]
                rs_cols = rs.columns
                rs_kidx = [rs_cols.index(k) for k in keys]
                rs_oidx = [rs_cols.index(c) for c in out_cols]
                fold_oidx = [fold_cols.index(c) for c in out_cols]
                live_rows = [tuple(r[i] for i in fold_oidx)
                             for r in fold_rows
                             if r[ni] is not None and r[ni] > 0]
                live_rows += [tuple(r[i] for i in rs_oidx)
                              for r in rs_rows]
                rs_keyset = {_pykey(tuple(r[i] for i in rs_kidx))
                             for r in rs_rows}
                # threatened groups the rescan returned no row for have
                # no surviving source rows — tombstone them
                dead_rows = [tuple(r[i] for i in kidx_fa)
                             for r in fold_rows
                             if r[ni] is not None and r[ni] <= 0]
                dead_rows += [tuple(r[i] for i in kidx_fa)
                              for r in frows
                              if r[ri] and _pykey(tuple(
                                  r[i] for i in kidx_fa))
                              not in rs_keyset]
                live = local_df(spark, live_rows, old.schema)
                dead = local_df(spark, dead_rows,
                                full_all.select(*keys).schema)
                dead_nonempty = bool(dead_rows)
            else:
                live = live.unionByName(rs.select(*out_cols))
                acond = None
                for k in keys:
                    e = tkeys[k].eqNullSafe(rs[k])
                    acond = e if acond is None else acond & e
                dead = dead.unionByName(
                    tkeys.join(rs, acond, "left_anti").select(*keys))
                dead_nonempty = None
                # materialize the unions to LogicalRDDs with constraint
                # propagation OFF: the union children carry filter
                # constraints on the dropped `_mv_rescan_` column, and
                # Catalyst's Union.rewriteConstraints crashes on attrs
                # outside the child output (NoSuchElementException: key
                # not found) the moment anything — including the
                # checkpoint's own optimization pass — computes them.
                # O(touched) rows; propagation restored immediately.
                ckey = "spark.sql.constraintPropagation.enabled"
                prev = spark.conf.get(ckey, "true")
                spark.conf.set(ckey, "false")
                try:
                    live = live.localCheckpoint(eager=True)
                    dead = dead.localCheckpoint(eager=True)
                finally:
                    spark.conf.set(ckey, prev)
    # dead + live apply as ONE gated commit (upsert_with_tombstones):
    # one write job + one manifest version per refresh, and the crash
    # window between the old delete-then-upsert pair disappears —
    # replay either sees the whole transition or none of it. The
    # dead probe stays (driver rows when known, limit(1) job only in
    # the over-cap fallback): windows that provably kill nothing skip
    # the tombstone arm entirely.
    if check_dead and (dead_nonempty if dead_nonempty is not None
                       else bool(dead.limit(1).count())):
        dml.upsert_with_tombstones(spark, t.store, live, dead,
                                   txn_app_id=txn_app,
                                   txn_version=txn_version)
    else:
        dml.upsert(spark, t.store, live,
                   txn_app_id=txn_app, txn_version=txn_version)


def _incremental_refresh(session, ent,
                         t: StarTable) -> "tuple[str, dict] | None":
    """Try the O(changes) refresh; None → caller runs the full path.
    Returns (mode, {source: consumed_version}) on success."""
    spark = session.spark
    if not _sources_match(session, ent):
        # a source was dropped/recreated at the same path: every
        # version cursor (fingerprint AND txn stamp) refers to the OLD
        # incarnation — a window over the new one would merge unrelated
        # deltas. Full rebuild re-anchors everything.
        return None
    spec = _incremental_spec(session, ent["sql"])
    if spec is None:
        return None
    if spec.get("join"):
        return _incremental_refresh_join(session, ent, t, spec)
    src = ManifestStore(spec["source_path"])
    last = ent["fingerprints"].get(spec["source"])
    cur = src.latest_version()
    if last is None or cur < last:
        return None
    # EXACTLY-ONCE: the refresh's upsert is gated on the monotonic txn
    # registry (txn_app_id below) with the consumed SOURCE version as
    # the txn version, and the registry stamp is the AUTHORITATIVE
    # window cursor. A crash between the gated upsert (stamp = cur_old)
    # and _save_registry leaves stamp > fingerprint; restarting the
    # window at the fingerprint would re-merge the already-applied
    # [fingerprint, stamp] changes into any NEW window (the gate alone
    # only stops an IDENTICAL replay) — resume from the stamp instead.
    # Ordering inside a refresh still matters: the tombstone delete
    # runs BEFORE the gated upsert, so every partial-crash state
    # replays correctly (post-delete pre-upsert: stamp unchanged, the
    # replayed recompute over already-deleted groups is identical).
    txn_app = f"mv_refresh:{t.info.table_id}"
    stamp = t.store.snapshot().streaming.get(f"txn:{txn_app}", -1)
    if stamp > last:
        last = stamp
        if cur < last:
            return None  # source rolled back past the stamp → full
    if cur == last:
        return ("noop", {spec["source"]: cur})
    ch = _change_window(spark, src, last, cur)
    if ch is None:
        return None
    if isinstance(ch, str):  # "noop"
        return ("noop", {spec["source"]: cur})
    cv = f"_mv_ch_{uuid.uuid4().hex[:10]}"
    ch.createOrReplaceTempView(cv)
    try:
        if _distinct_aggs(spec):
            aux_paths = ent.get("aux_paths") or {}
            if set(aux_paths) != {a["out"]
                                  for a in _distinct_aggs(spec)}:
                return None  # view predates its aux tables → full
            spec["aux_paths"] = aux_paths
            # aux tables advance FIRST (their own stamps make this
            # exactly-once); the recount inside _apply_delta then reads
            # window-end aux state, so a crash anywhere in between
            # replays to the identical answer
            if not _sync_distinct_aux(session, spec, src, t, last, cur,
                                      cv):
                return None
        # materialize the aggregated window ONCE (O(touched groups)
        # small): the distinct-key prune, the merge join, and the
        # broadcast-budget count below would otherwise each re-run the
        # change-window scan. Driver-local rows (when under the cap)
        # answer the count/min probe with no extra job.
        delta, drows = mat_local(spark, spark.sql(_mv_delta_sql(spec, cv)))
        pinned_src = None
        if any(a.get("rescan") for a in spec["aggs"]):
            # rescan target: the source PINNED at the window end (cur).
            # Pinning matters for exactness AND replay — a concurrent
            # commit > cur must not leak into the rescan (the next
            # window would re-fold it, double-applying), and a crash
            # replay must recompute the identical frame.
            src_t = StarTable(spark, src)

            def pinned_src(where, _t=src_t, _v=cur):
                w = (" AND ".join(f"({c})" for c in where)
                     if where else None)
                return _t.to_df(version=_v, where=w)

        # broadcast-budget count + minimum signed group contribution
        # (dead-group possibility): from the driver rows when local,
        # else one aggregate over the checkpoint
        if drows is not None:
            dni = delta.columns.index(f"{_MVH}n")
            n_delta = len(drows)
            mns = [r[dni] for r in drows if r[dni] is not None]
            mn = min(mns) if mns else None
        else:
            st = delta.agg(F.count(F.lit(1)).alias("c"),
                           F.min(F.col(f"{_MVH}n")).alias("mn")).first()
            n_delta, mn = st["c"], st["mn"]
        _apply_delta(spark, t, spec, delta, n_delta, txn_app, cur,
                     pinned_src=pinned_src,
                     may_die=mn is not None and mn < 0)
        return ("incremental", {spec["source"]: cur})
    finally:
        spark.catalog.dropTempView(cv)


def _flatten(df: DataFrame, tbl: str, keep: tuple = ()) -> DataFrame:
    """Prefix every column with ``<tbl>__`` (the join spec's rendering
    namespace — collision-free without quoting table-qualified names),
    passing ``keep`` columns (e.g. ``_change_type``) through as-is."""
    cols = [F.col(c).alias(f"{tbl}__{c}") for c in df.columns
            if c not in keep]
    cols += [F.col(c) for c in keep if c in df.columns]
    return df.select(*cols)


def _join_frames(frames: dict, spec, start: str | None = None) -> DataFrame:
    """Inner-join the flattened per-table frames on the spec's
    equi-pairs (plain equality — SQL inner-join NULL semantics).
    Tables fold in one at a time along the (spec-verified connected)
    join graph starting from ``start`` (the change frame on refresh, so
    the delta anchors the tree); cycle edges that connect two
    already-joined tables apply as post-join filters. Inner joins are
    associative and commutative, so the fold order is semantics-free —
    Catalyst/AQE re-plan the physical order."""
    srcs = spec["sources"]
    if spec.get("join_type") == "left":
        # single-join 2-table shape (spec-enforced); the left frame
        # anchors — on refresh it IS the change frame (the dim-side
        # window never routes here, see _left_dim_window_frame)
        cond = None
        for p in spec["join_pairs"]:
            e = F.col(p["l"]) == F.col(p["r"])
            cond = e if cond is None else cond & e
        return frames[spec["left"]].join(frames[spec["right"]], cond,
                                         "left")
    joined = frames[start or srcs[0]]
    have = {start or srcs[0]}
    pending = list(spec["join_pairs"])
    while len(have) < len(srcs):
        pick = None
        for p in pending:
            if (p["lt"] in have) != (p["rt"] in have):
                pick = p["rt"] if p["lt"] in have else p["lt"]
                break
        if pick is None:  # unreachable: spec verified connectivity
            raise UnsupportedPlan("join graph not connected")
        edge = [p for p in pending
                if {p["lt"], p["rt"]} <= have | {pick}
                and pick in (p["lt"], p["rt"])]
        cond = None
        for p in edge:
            e = F.col(p["l"]) == F.col(p["r"])
            cond = e if cond is None else cond & e
        joined = joined.join(frames[pick], cond, "inner")
        have.add(pick)
        pending = [p for p in pending if p not in edge]
    for p in pending:  # cycle edges between already-joined tables
        joined = joined.filter(F.col(p["l"]) == F.col(p["r"]))
    return joined


def _left_dim_window_frame(spark, spec, frames) -> DataFrame:
    """Signed contribution frame for a RIGHT(dim)-side window of a
    LEFT-join view — the null-extension flip algebra.

    With the dim's join key = its hash PK, a coalesced change window's
    types decide match flips exactly: ``insert`` ⇒ the key was absent
    at the window start ⇒ its left rows were null-extended (retract
    those, add the matched rows); ``delete`` ⇒ the key is gone ⇒ the
    matched rows retract and the null-extensions come back; updates
    swap matched pre- for postimages, null-extension untouched. Two
    parts, both O(Δdim ⋈ touched left rows):

    * matched: Δdim INNER JOIN left@pinned — signs ride the change
      frame's ``_change_type`` through the join;
    * flips: left rows whose key net-appeared get their null-extended
      contribution retracted (emitted as ``delete``), net-vanished
      keys re-add it (``insert``); every dim column NULL, exactly the
      row the view's own left join would produce."""
    A, B = spec["left"], spec["right"]
    fa, fb = frames[A], frames[B]
    cond = None
    key_cols = []  # (left_flat, right_flat)
    for p in spec["join_pairs"]:
        e = F.col(p["l"]) == F.col(p["r"])
        cond = e if cond is None else cond & e
        key_cols.append((p["l"], p["r"]) if p["lt"] == A
                        else (p["r"], p["l"]))
    matched = fa.join(fb, cond, "inner")
    flips = (fb.filter(F.col("_change_type").isin("insert", "delete"))
             .select(*[F.col(b).alias(f"_fk_{i}")
                       for i, (_a, b) in enumerate(key_cols)],
                     F.when(F.col("_change_type") == "insert",
                            F.lit("delete")).otherwise(F.lit("insert"))
                     .alias("_flip_ct")))
    fcond = None
    for i, (a, _b) in enumerate(key_cols):
        e = F.col(a) == F.col(f"_fk_{i}")
        fcond = e if fcond is None else fcond & e
    # every dim-side column of the change frame (data cols AND window
    # metadata like _commit_version) nulls out — the union must align
    # with the matched part column-for-column
    nulls = (fa.join(flips, fcond, "inner")
             .select(*[F.col(c) for c in fa.columns],
                     *[F.lit(None).cast(f.dataType).alias(f.name)
                       for f in fb.schema.fields
                       if f.name != "_change_type"],
                     F.col("_flip_ct").alias("_change_type")))
    return matched.unionByName(nulls.select(*matched.columns))


def _join_prune_predicates(ch, spec, cname) -> dict:
    """Δ-KEY FILE PRUNING for the pinned sides of a join-MV window:
    for every table with a DIRECT equi-edge to the changed table,
    collect the window's distinct join-key values (bounded by
    ``JOIN_PRUNE_KEY_LIMIT``) and return an ``IN``-predicate for that
    table's scan. The scan layer turns it
    into partition/bucket/stats/bloom FILE skipping plus a row filter
    — rows of a pinned table whose edge column matches no Δ key cannot
    join any change row, so dropping them is exact for inner joins.
    This is what keeps a dim-side window from paying a full fact scan:
    with key stats (or blooms / clustering) on the fact's FK column,
    the O(|fact|) read becomes O(files containing the touched keys).
    Only DIRECTLY-connected tables are pruned (a transitively-reached
    table joins through another pinned table's rows, not Δ's keys);
    over-budget windows and non-int/str key types skip pruning — a
    pure optimization, never a correctness surface. ``ch`` must be
    materialized (localCheckpoint) — the collects re-read it."""
    edges: dict[str, list] = {}
    for p in spec["join_pairs"]:
        for a, b, ac, bc in ((p["lt"], p["rt"], p["l"], p["r"]),
                             (p["rt"], p["lt"], p["r"], p["l"])):
            if a == cname and b != cname:
                edges.setdefault(b, []).append(
                    (ac.split("__", 1)[1], bc.split("__", 1)[1]))
    out: dict[str, str] = {}
    cache: dict[str, "list | None"] = {}
    for other, pairs in edges.items():
        conjs = []
        for ccol, ocol in pairs:
            if ccol not in cache:
                rows = ch.select(ccol).where(
                    F.col(ccol).isNotNull()).distinct() \
                    .limit(JOIN_PRUNE_KEY_LIMIT + 1).collect()
                cache[ccol] = ([r[0] for r in rows]
                               if len(rows) <= JOIN_PRUNE_KEY_LIMIT
                               else None)
            vals = cache[ccol]
            if not vals:  # over budget (None) or empty window slice
                continue
            if all(isinstance(v, int) for v in vals):
                lits = ", ".join(str(v) for v in vals)
            elif all(isinstance(v, str) for v in vals):
                lits = ", ".join("'" + v.replace("'", "''") + "'"
                                 for v in vals)
            else:
                continue  # unrenderable literal type → no pruning
            conjs.append(f"{ocol} IN ({lits})")
        if conjs:
            out[other] = " AND ".join(conjs)
    return out


def _incremental_refresh_join(session, ent, t: StarTable,
                              spec) -> "tuple[str, dict] | None":
    """Delta-join maintenance for multi-table (2..6-way) inner-join
    views (beyond the reference; the verdict-7 stretch). The full
    algebra is Δ(A⋈B) = ΔA⋈B_old ∪ A_old⋈ΔB ∪ ΔA⋈ΔB; this
    implementation covers the window shapes that stay O(changes)-honest
    at 100 TB:

    * exactly ONE table changed in the window (either side) → Δview =
      Δchanged ⋈ other_current: the unchanged side equals its _old
      state, so its Δ-term and the ΔA⋈ΔB cross-term vanish. Fact-side
      windows (the dominant production cadence — appends against
      stable dimensions) cost O(Δfact ⋈ dim); dim-side windows pay the
      unavoidable O(|fact|) join scan but still save the full
      re-aggregate + overwrite (the merge touches only the groups the
      dim change reaches).
    * several changed → SEQUENTIAL one-sided windows (round-10): the
      changed sources' windows are processed one at a time, each step
      pinning already-processed sources at their NEW versions and
      not-yet-processed ones at their OLD cursors. The composition
      telescopes: V0 = A@a0⋈B@b0; step B adds A@a0⋈ΔB → A@a0⋈B@b1;
      step A adds ΔA⋈B@b1 → A@a1⋈B@b1. The ΔA⋈ΔB cross-term is
      contained in step A (ΔA joins the NEW B), so k changed sources
      cost k passes of the proven one-sided machinery instead of a
      full re-run — the difference between 'incremental' and
      'permanently degraded' under a CDC cadence where fact and dim
      commit together.

    Exactly-once: per-SOURCE txn registry keys (the sources' versions
    advance independently; one shared key would break the
    monotonic-gate invariant when windows alternate between tables).
    Each step's upsert is gated on ITS source's key at that source's
    consumed version, so a crash BETWEEN steps resumes as a smaller
    refresh over exactly the unprocessed windows — the stamped sources
    read as unchanged. A step whose window is unreadable returns None
    (→ full rebuild), which is safe after earlier committed steps: the
    full path re-pins every source and RESETS all cursors."""
    spark = session.spark
    stores = {n: ManifestStore(p) for n, p in spec["source_paths"].items()}
    snap_t = t.store.snapshot()
    cursors: dict[str, int] = {}
    curs: dict[str, int] = {}
    for n, st in stores.items():
        last = ent["fingerprints"].get(n)
        if last is None:
            return None
        stamp = snap_t.streaming.get(
            f"txn:mv_refresh:{t.info.table_id}:{n}", -1)
        if stamp > last:
            last = stamp
        cur = st.latest_version()
        if cur < last:
            return None  # source rolled back → full
        cursors[n], curs[n] = last, cur
    changed = [n for n in spec["sources"] if curs[n] > cursors[n]]
    if not changed:
        return ("noop", dict(curs))
    # ``pinned`` evolves as steps commit: processed (and noop'd)
    # sources move to their new versions, unprocessed ones stay at the
    # old cursor — the telescoping invariant (docstring).
    pinned = dict(cursors)
    mode = "noop"
    for cname in spec["sources"]:
        if cname not in changed:
            continue
        ch = _change_window(spark, stores[cname], cursors[cname],
                            curs[cname])
        if ch is None:
            return None  # window unreadable → full rebuild (safe after
            # committed steps: full re-pins + resets every cursor)
        pinned[cname] = curs[cname]
        if isinstance(ch, str):  # "noop": content identical at both
            continue             # ends, later steps may pin either
        # Δchanged ⋈ others@pinned-versions: preimage rows retract
        # their OLD join partners, postimage rows add the NEW ones —
        # signs ride the change frame through the join. Each pinned
        # side reads the version this step's algebra requires: old
        # cursor if its window is still unprocessed, new if committed.
        # The change frame is materialized ONCE: the Δ-key pruning
        # collects below and the delta SQL both re-read it. It stays a
        # cluster-side checkpoint deliberately: it carries the full
        # source row width, and a driver collect of wide rows pays
        # py4j pickling that measured SLOWER than the checkpoint
        # (round-11 A/B) — the capped-collect fast path is for the
        # narrow O(touched-groups) aggregate frames only.
        ch = ch.localCheckpoint(eager=True)
        prune = _join_prune_predicates(ch, spec, cname)
        frames = {cname: _flatten(ch, cname, keep=("_change_type",))}
        for other in spec["sources"]:
            if other == cname:
                continue
            frames[other] = _flatten(
                StarTable.for_path(spark, spec["source_paths"][other])
                .to_df(version=pinned[other], where=prune.get(other)),
                other)
        if spec.get("join_type") == "left" and cname == spec["right"]:
            signed = _left_dim_window_frame(spark, spec, frames)
        else:
            signed = _join_frames(frames, spec, start=cname)
        jv = f"_mv_jch_{uuid.uuid4().hex[:10]}"
        signed.createOrReplaceTempView(jv)
        try:
            delta, drows = mat_local(
                spark, spark.sql(_mv_delta_sql(spec, jv)))
            txn_app = f"mv_refresh:{t.info.table_id}:{cname}"
            if drows is not None:
                dni = delta.columns.index(f"{_MVH}n")
                n_delta = len(drows)
                mns = [r[dni] for r in drows if r[dni] is not None]
                mn = min(mns) if mns else None
            else:
                st = delta.agg(F.count(F.lit(1)).alias("c"),
                               F.min(F.col(f"{_MVH}n")).alias("mn")) \
                    .first()
                n_delta, mn = st["c"], st["mn"]
            _apply_delta(spark, t, spec, delta, n_delta, txn_app,
                         curs[cname],
                         may_die=mn is not None and mn < 0)
            mode = "incremental"
        finally:
            spark.catalog.dropTempView(jv)
    return (mode, dict(curs))


def _mv_init_frame(session, spec) -> tuple:
    """The full-compute frame (declared outputs + unsigned partials)
    with every source read PINNED to its current version. Returns
    (df, fingerprints, temp_views_to_drop) — the caller drops the views
    after materializing (and re-syncs its live views)."""
    spark = session.spark
    if spec.get("join"):
        src_ts = {n: session.table(n) for n in spec["sources"]}
        fps = {n: src_ts[n].store.latest_version() for n in spec["sources"]}
        frames = {n: _flatten(src_ts[n].to_df(version=fps[n]), n)
                  for n in spec["sources"]}
        jv = f"_mv_jinit_{uuid.uuid4().hex[:10]}"
        _join_frames(frames, spec).createOrReplaceTempView(jv)
        return spark.sql(_mv_init_sql(spec, jv)), fps, [jv]
    src_t = session.table(spec["source"])
    cur = src_t.store.latest_version()
    src_t.to_df(version=cur).createOrReplaceTempView(spec["source"])
    return (spark.sql(_mv_init_sql(spec)), {spec["source"]: cur},
            [spec["source"]])


def create_material_view(session, name: str, path: str, sql_text: str,
                         auto_update: bool = False) -> StarTable:
    """Run the SQL and persist it as a star table + registry entry
    (CreateMaterialViewCommand.scala:25-69). The SQL must be within the
    rewritable subset — same guard the reference applies at creation."""
    known = set(session._tables) | set(catalog.list_tables(session.warehouse))
    session._sync_views()
    vinfo = extract(session.spark, sql_text, known)  # raises if unsupported
    # capture fingerprints BEFORE materializing: the incremental
    # refresh window must start at a version whose data the backing
    # table provably contains (a commit racing the build is re-read by
    # the first refresh instead of silently skipped)
    fps = _fingerprints(session, set(vinfo.tables))
    spec = _incremental_spec(session, sql_text)
    if spec is not None:
        # incremental-maintainable: backing table carries hidden
        # partials and hash-partitions on the group keys so refreshes
        # are key-pruned upserts. The init read is PINNED to the
        # fingerprinted versions (a commit racing the build would
        # otherwise be both contained in the backing data AND replayed
        # by the first refresh — double-counted).
        df, fps, drop = _mv_init_frame(session, spec)
        aux_paths = {}
        try:
            keys = [g["out"] for g in spec["groups"]]
            t = create_table(
                session.spark, df, path, short_name=name,
                warehouse=session.warehouse,
                # global aggregate: single-row table, no upsert keys
                hash_partitions=keys or None,
                hash_bucket_num=16 if keys else -1,
                # GROUP BY keys may be NULL (SQL semantics; the
                # reference's MV suite never refuses them) — the
                # backing table must accept NULL hash keys or a single
                # null-keyed source row bricks creation AND every
                # subsequent refresh (incremental and full fallback
                # both write into this table)
                configuration={"is_material_view": "true",
                               "invariants.allowNullHashKeys": "true"})
            # count(DISTINCT) state: one (group, value) → count aux
            # table per distinct ARGUMENT, built from the SAME pinned
            # view (still registered until the finally below) so aux
            # and backing data describe one source version. Aggs over
            # the same argument (count/sum/avg DISTINCT x) hold
            # identical pair multiplicities — they share one aux table
            # (one create, one sync per window, one recount pass)
            arg_paths: dict[str, str] = {}
            for i, a in enumerate(_distinct_aggs(spec)):
                if a["arg"] in arg_paths:
                    aux_paths[a["out"]] = arg_paths[a["arg"]]
                    continue
                apath = os.path.abspath(f"{path}_aux{i}")
                # aux dirs are derived state owned by this view: a
                # leftover from a crashed/hand-deleted predecessor
                # would fail the create — clear it
                import shutil as _shutil

                _shutil.rmtree(apath, ignore_errors=True)
                adf = session.spark.sql(
                    _aux_delta_sql(spec, a, spec["source"],
                                   signed=False))
                create_table(
                    session.spark, adf, apath,
                    short_name=f"{name}_aux{i}",
                    warehouse=session.warehouse,
                    hash_partitions=keys + ["_dx"],
                    hash_bucket_num=16,
                    configuration={"is_material_view": "true",
                                   "invariants.allowNullHashKeys":
                                   "true"})
                arg_paths[a["arg"]] = apath
                aux_paths[a["out"]] = apath
        finally:
            session._unsync(drop)
            for v in drop:
                try:
                    session.spark.catalog.dropTempView(v)
                except Exception:
                    pass
            session._sync_views()  # restore the live views
    else:
        df = session.spark.sql(sql_text)
        t = create_table(session.spark, df, path, short_name=name,
                         warehouse=session.warehouse,
                         configuration={"is_material_view": "true"})
    reg = _load_registry(session.warehouse)
    if name in reg:
        raise ValueError(f"material view '{name}' already exists")
    reg[name] = {
        "path": os.path.abspath(path),
        "sql": sql_text,
        "auto_update": bool(auto_update),
        "incremental": spec is not None,
        "fingerprints": fps,
        "source_ids": _source_ids(session, set(fps)),
        "created_at": time.time(),
    }
    if spec is not None and _distinct_aggs(spec):
        reg[name]["aux_paths"] = aux_paths
    _save_registry(reg, session.warehouse)
    session._tables[name] = t
    return t


def drop_material_view(session, name: str) -> None:
    reg = _load_registry(session.warehouse)
    ent = reg.pop(name, None)
    _save_registry(reg, session.warehouse)
    session._tables.pop(name, None)
    if ent:
        try:
            StarTable.for_path(session.spark, ent["path"]).drop_table()
        except Exception:
            pass
        for apath in (ent.get("aux_paths") or {}).values():
            try:
                StarTable.for_path(session.spark, apath).drop_table()
            except Exception:
                pass


def drop_views_on(session, table_name: str) -> list[str]:
    """DROP-cascade (reference DropTableCommand.scala:30-247): dropping
    a source table drops every materialized view whose fingerprint set
    references it. Without this, a dropped-and-recreated source leaves
    a stale registered view — staleness fingerprints keep it from
    rewriting (fail-safe), but it lingers in SHOW/registry forever.
    Returns the dropped view names."""
    reg = _load_registry(session.warehouse)
    victims = [vn for vn, ent in reg.items()
               if table_name in ent.get("fingerprints", {})]
    for vn in victims:
        drop_material_view(session, vn)
    return victims


def update_material_view(session, name: str, force: bool = False) -> bool:
    """Refresh iff source-table fingerprints changed
    (UpdateMaterialViewCommand.scala:46-67). Returns True if refreshed.

    Incremental-maintainable views (see _incremental_spec: single-table
    sum/count/avg/min/max and count/sum/avg(DISTINCT) GROUP BY, 2..6-way
    inner joins, fact-LEFT-JOIN-dim) refresh through the signed-partial
    path — O(changes) source reads, an upsert + tombstone delete on the
    backing table, with threatened min/max groups rescanned from a
    version-pinned source read and DISTINCT aggregates recounted from
    their aux pair tables — and fall back to the reference-parity full
    re-run whenever the window is unreadable (vacuumed cursor files,
    compaction rewrote history, schema drift made the spec
    ineligible)."""
    reg = _load_registry(session.warehouse)
    if name not in reg:
        raise KeyError(f"unknown material view '{name}'")
    ent = reg[name]
    current = _fingerprints(session, set(ent["fingerprints"]))
    if not force and current == ent["fingerprints"] \
            and _sources_match(session, ent):
        # identity checked alongside versions: a recreated source can
        # land on the SAME latest_version and read as fresh while the
        # view holds the old incarnation's answers
        return False
    t = StarTable.for_path(session.spark, ent["path"])
    if ent.get("incremental"):
        # no _sync_views first: re-materializing every temp view builds
        # full-table file indexes — the incremental path must plan only
        # over the change window (+ the backing table)
        try:
            got = _incremental_refresh(session, ent, t)
        except Exception:
            got = None  # any window hiccup → provably-correct full run
        if got is not None:
            mode, fps = got
            ent["fingerprints"] = fps
            ent["source_ids"] = _source_ids(session, set(fps))
            _save_registry(reg, session.warehouse)
            return mode != "noop"
        # full fallback for an incremental backing table: recompute
        # declared outputs AND hidden partials in one pass, pinned to
        # the versions the new fingerprints record
        session._sync_views()
        spec = _incremental_spec(session, ent["sql"])
        if spec is not None:
            df, fps, drop = _mv_init_frame(session, spec)
            # the overwrite RESETS the consumed-source cursors in the
            # same commit: a crash between this write and the registry
            # save would otherwise leave a stale fingerprint, and the
            # next INCREMENTAL resume would re-apply a window whose
            # data this overwrite already contains — double-counted
            # partials. RESET (unconditional), not the monotonic stamp:
            # after a source rollback/recreate the old stamp is HIGHER
            # than the consumed version, and a max-merge would pin
            # every future refresh into the full path (or worse, gate
            # later incremental upserts into silent no-ops). A full
            # overwrite pins its content to exactly ``fps`` — the
            # cursor belongs at exactly ``fps``.
            from starlake_spark.operators import dml

            if spec.get("join"):
                stamps = {f"txn:mv_refresh:{t.info.table_id}:{n}": v
                          for n, v in fps.items()}
            else:
                stamps = {f"txn:mv_refresh:{t.info.table_id}":
                          fps[spec["source"]]}
            try:
                dml.write_into(session.spark, t.store, df,
                               mode="overwrite", txn_stamp_resets=stamps)
                # count(DISTINCT) aux tables rebuild from the SAME
                # pinned view, cursor reset in-commit (mirror of the
                # main overwrite's reset: a rollback-then-full must not
                # leave an aux stamp above the new cursor). Missing aux
                # tables (legacy views, lost dirs) are created fresh —
                # their absent stamp already reads as "at the cursor".
                keys = [g["out"] for g in spec["groups"]]
                # one rebuild per aux TABLE (aggs sharing a distinct
                # argument share one aux); the stamp reset lands under
                # the FIRST out mapped to each path — the key
                # _sync_distinct_aux consults for that path
                arg_paths: dict[str, str] = {}
                for i, a in enumerate(_distinct_aggs(spec)):
                    shared = arg_paths.get(a["arg"])
                    if shared is not None:
                        # legacy per-out aux migrating onto the shared
                        # table: drop the now-orphaned twin
                        legacy = (ent.get("aux_paths") or {}).get(a["out"])
                        if legacy and legacy != shared:
                            try:
                                StarTable.for_path(
                                    session.spark, legacy).drop_table()
                            except Exception:
                                pass
                        ent.setdefault("aux_paths", {})[a["out"]] = shared
                        continue
                    apath = (ent.get("aux_paths") or {}).get(
                        a["out"]) or os.path.abspath(
                            f"{ent['path']}_aux{i}")
                    arg_paths[a["arg"]] = apath
                    adf = session.spark.sql(
                        _aux_delta_sql(spec, a, spec["source"],
                                       signed=False))
                    try:
                        aux_t = StarTable.for_path(session.spark, apath)
                    except Exception:
                        aux_t = None
                    if aux_t is not None:
                        dml.write_into(
                            session.spark, aux_t.store, adf,
                            mode="overwrite",
                            txn_stamp_resets={
                                f"txn:mv_refresh_aux:"
                                f"{t.info.table_id}:{a['out']}":
                                fps[spec["source"]]})
                    else:
                        create_table(
                            session.spark, adf, apath,
                            short_name=f"{name}_aux{i}",
                            warehouse=session.warehouse,
                            hash_partitions=keys + ["_dx"],
                            hash_bucket_num=16,
                            configuration={
                                "is_material_view": "true",
                                "invariants.allowNullHashKeys": "true"})
                    ent.setdefault("aux_paths", {})[a["out"]] = apath
            finally:
                # guarded per-view (same as create_material_view): one
                # failing drop must not skip the remaining drops or
                # _sync_views — that leaves pinned views shadowing live
                # ones and masks the original write exception
                session._unsync(drop)
                for v in drop:
                    try:
                        session.spark.catalog.dropTempView(v)
                    except Exception:
                        pass
                session._sync_views()
            ent["fingerprints"] = fps
            ent["source_ids"] = _source_ids(session, set(fps))
            _save_registry(reg, session.warehouse)
            return True
        # spec no longer derivable (e.g. the source evolved outside the
        # maintainable shape): demote permanently — the plain re-run
        # below null-fills the hidden partials, which must never be
        # trusted again
        ent["incremental"] = False
    session._sync_views()
    df = session.spark.sql(ent["sql"])
    t.write(df, mode="overwrite")
    ent["fingerprints"] = _fingerprints(session, set(ent["fingerprints"]))
    ent["source_ids"] = _source_ids(session, set(ent["fingerprints"]))
    _save_registry(reg, session.warehouse)
    return True


# ---------------------------------------------------------------------------
# rewrite
# ---------------------------------------------------------------------------


def _try_match(session, qinfo: QueryInfo, view_name: str, ent: dict,
               vinfo: QueryInfo) -> DataFrame | None:
    if qinfo.tables != vinfo.tables or qinfo.join_conds != vinfo.join_conds \
            or qinfo.join_types != vinfo.join_types:
        return None

    view_t = StarTable.for_path(session.spark, ent["path"])
    vdf = view_t.to_df()
    # canonical expr → view output column; plain columns also by attr name
    vout: dict[str, str] = {}
    for out_name, cn in vinfo.outputs:
        vout.setdefault(cn, out_name)
    colmap = {cn: nm for cn, nm in vout.items()}  # attr canon == attr name for plain cols
    # join-equivalence substitution: an attribute the view did not
    # output may render through any join-equal attribute it DID output
    # (the view's inner-join equalities hold on every view row) —
    # reference findNewAttributeReference's equivalence discipline.
    parent: dict[str, str] = {}

    def _find(x: str) -> str:
        while parent.get(x, x) != x:
            x = parent[x]
        return x

    for l, r in vinfo.join_attr_pairs:
        parent.setdefault(l, l)
        parent.setdefault(r, r)
        parent[_find(l)] = _find(r)
    classes: dict[str, list[str]] = {}
    for x in parent:
        classes.setdefault(_find(x), []).append(x)
    for members in classes.values():
        col = next((colmap[m] for m in members if m in colmap), None)
        if col is not None:
            for m in members:
                colmap.setdefault(m, col)

    if vinfo.has_agg:
        # agg sets must line up exactly (RewriteQueryByMaterialView:
        # Aggregates replaced wholesale, :1139-1140). Filters under the
        # agg: the view's must be implied by the query's (incl. OR
        # containment / range weakening, OrInfo.scala:31-220), and any
        # query-only conjunct must reference GROUPING columns only —
        # group-determined predicates filter identical row sets pre-
        # and post-aggregation, so they compensate on the view; a
        # predicate on an aggregated column's inputs cannot.
        if not qinfo.has_agg:
            return None
        if qinfo.group_by != vinfo.group_by:
            return None
        if not _filters_covered(vinfo.filters_below, qinfo.filters_below,
                                vinfo, qinfo):
            return None
        group_cols = set(vinfo.group_by) & set(colmap)
        below_residual = [qinfo.residual_by_canon[cn]
                          for cn in qinfo.filters_below - vinfo.filters_below]
        # group-determined only: every attr must sit under a grouping
        # EXPRESSION the view exposes (plain group column, or e.g.
        # year(d) when grouping by year(d)) — such predicates are
        # constant per group, so they commute with the aggregation
        if any(_attrs_outside(t, group_cols) for t in below_residual):
            return None
        if not _filters_covered(vinfo.filters_above, qinfo.filters_above,
                                vinfo, qinfo):
            return None
        residual = below_residual + [
            qinfo.residual_by_canon[cn]
            for cn in qinfo.filters_above - vinfo.filters_above]
        try:
            preds = [to_sql(t, colmap) for t in residual]
            # outputs render over the view with canonical-subtree
            # substitution: an exact view column is the base case, and
            # scalar arithmetic ABOVE materialized aggregates
            # (sum(a)/sum(b), round(sum(p),2), CASE over group cols)
            # composes on top. allow_agg=False — any aggregate the view
            # did not materialize must kill the rewrite, never re-run
            # over the one-row-per-group view output.
            sel = [F.expr(to_sql(t, colmap, allow_agg=False)).alias(nm)
                   for nm, t in qinfo.output_trees]
        except UnsupportedPlan:
            return None
        out = vdf
        for p in preds:
            out = out.filter(F.expr(p))
        return out.select(*sel)

    # view is a plain project/filter/join materialization
    vfilters = vinfo.filters_above | vinfo.filters_below
    qfilters = qinfo.filters_above | qinfo.filters_below
    if not _filters_covered(vfilters, qfilters, vinfo, qinfo):
        return None
    residual_canons = qfilters - vfilters
    try:
        preds = [to_sql(qinfo.residual_by_canon[cn], colmap) for cn in residual_canons]
        out = vdf
        for p in preds:
            out = out.filter(F.expr(p))
        if qinfo.has_agg:
            # superset of the reference: re-aggregate over the view
            gb = []
            aggs = []
            for nm, t in qinfo.output_trees:
                sql = to_sql(t, colmap)
                if canon(t) in qinfo.group_by or (
                        _cls(t) in ("Alias", "AttributeReference")
                        and canon(t if _cls(t) == "AttributeReference" else t["_children"][0]) in qinfo.group_by):
                    gb.append((nm, sql))
                else:
                    aggs.append((nm, sql))
            if not aggs:
                return None
            gcols = [F.expr(s).alias(nm) for nm, s in gb]
            acols = [F.expr(s).alias(nm) for nm, s in aggs]
            out = out.groupBy(*gcols).agg(*acols) if gcols else out.agg(*acols)
            return out.select(*[nm for nm, _ in qinfo.outputs])
        sel = [F.expr(to_sql(t, colmap)).alias(nm) for nm, t in qinfo.output_trees]
        return out.select(*sel)
    except UnsupportedPlan:
        return None


def try_rewrite(session, sql_text: str) -> DataFrame | None:
    """Rewrite ``sql_text`` onto a fresh matching materialized view;
    None = no hit (caller runs the original SQL). Stale views are
    refreshed first when auto_update is set, else skipped
    (StarLakeScanBuilder.scala:103-125 staleness enforcement)."""
    from starlake_spark.plans import rollup as _rollup

    reg = _load_registry(session.warehouse)
    have_rollups = bool(_rollup._load_rollup_registry(session.warehouse))
    if not reg and not have_rollups:
        return None
    known = set(session._tables) | set(catalog.list_tables(session.warehouse))
    try:
        qinfo = extract(session.spark, sql_text, known)
    except UnsupportedPlan:
        return None
    for view_name, ent in sorted(reg.items()):
        try:
            vinfo = extract(session.spark, ent["sql"], known)
        except UnsupportedPlan:
            continue
        if qinfo.tables != vinfo.tables:
            continue
        current = _fingerprints(session, set(ent["fingerprints"]))
        if current != ent["fingerprints"] \
                or not _sources_match(session, ent):
            if ent.get("auto_update"):
                update_material_view(session, view_name)
            else:
                continue
        hit = _try_match(session, qinfo, view_name, ent, vinfo)
        if hit is not None:
            return hit
    if have_rollups:
        # rollup-serving rewrite (plans/rollup.py): no staleness gate —
        # the served frame is real-time by construction
        try:
            return _rollup.try_rollup_rewrite(session, sql_text, qinfo)
        except Exception:
            return None
    return None
