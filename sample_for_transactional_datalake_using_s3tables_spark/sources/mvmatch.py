"""Expression-tree materialized-view matcher.

Classifies an ANALYZED Spark logical plan into the re-aggregable
single-level GROUP BY shape over ONE warehouse table -- group keys,
aggregate calls, and filter conjuncts below/above the aggregate --
with every expression rendered to a canonical string over the BASE
table's columns (attribute references substituted through every
intermediate projection). Two plans match iff their canonical trees
match, so direct queries, view-wrapped aggregates, alias renames,
reordered commutative operands, implicit casts and HAVING-hoisted
hidden aggregates all classify structurally. This module is the only
classifier ``WarehouseSQL._mv_route`` consults: a query routes from a
materialized view exactly when its plan shape and the view
definition's shape match here.

Soundness posture: CONSERVATIVE. Expression classes outside the
deterministic allowlist, non-deterministic or time-varying functions
(rand, current_date -- a version-fresh MV materialized yesterday is
semantically stale for a current_date-relative predicate), subquery
expressions, windows, joins and set operations all raise
``Unroutable`` -- the caller falls back to the source scan, which is
always correct.

Reference analog: the Athena presentation-layer views at
scripts/update_metadata.py:78-117 (the dashboard-over-view shape this
matcher exists to route).
"""

from __future__ import annotations

_TOK = "__mvitem_{}__"


class Unroutable(Exception):
    """This plan cannot be proven servable from MV storage."""


def _cls(o) -> str:
    return o.getClass().getSimpleName()


def _seq(jseq) -> list:
    return [jseq.apply(i) for i in range(jseq.size())]


# expression classes rendered as infix operators. Commutative ones
# sort their (rendered) operands so a = b matches b = a.
_BINOPS = {
    "Add": ("+", True),
    "Multiply": ("*", True),
    "Subtract": ("-", False),
    "Divide": ("/", False),
    "IntegralDivide": ("div", False),
    "Remainder": ("%", False),
    "And": ("and", True),
    "Or": ("or", True),
    "EqualTo": ("=", True),
    "EqualNullSafe": ("<=>", True),
    "LessThan": ("<", False),
    "LessThanOrEqual": ("<=", False),
    "GreaterThan": (">", False),
    "GreaterThanOrEqual": (">=", False),
    "BitwiseAnd": ("&", True),
    "BitwiseOr": ("|", True),
    "BitwiseXor": ("^", True),
    # datetime +/- ANSI interval: the analyzer puts the datetime first
    "TimestampAddInterval": ("+", False),
    "DateAddYMInterval": ("+", False),
    "TimestampAddYMInterval": ("+", False),
}

# one-operand operators
_UNARY = {
    "Not": "(not {})", "IsNull": "({} is null)",
    "IsNotNull": "({} is not null)", "UnaryMinus": "(- {})",
    "BitwiseNot": "(~ {})",
}

# RuntimeReplaceable binary functions, rendered from the operands they
# were written with (a try_ replacement's evaluation mode would not show)
_WRITTEN = frozenset(
    {"TryAdd", "TrySubtract", "TryMultiply", "TryDivide", "NullIf"}
)

# RuntimeReplaceable classes whose only child is their exact
# replacement (extract/date_part -> year(x); nvl -> coalesce)
_TRANSPARENT = frozenset({"Extract", "Nvl", "IfNull", "Nvl2"})

# function-style classes rendered as prettyName(children...): every
# entry must be DETERMINISTIC and carry no constructor parameters a
# same-class/same-children sibling could differ in (parameters that
# ARE expressions -- substring bounds, round scale -- appear as
# Literal children and render fine).
_FUNCS = frozenset({
    "Upper", "Lower", "Length", "Substring", "Concat", "ConcatWs",
    "StringTrim", "StringTrimLeft", "StringTrimRight", "StringRepeat",
    "StringReplace", "StringTranslate", "StringInstr", "StringLocate",
    "SubstringIndex", "Lpad", "Rpad", "StringLPad", "StringRPad",
    "Like", "RLike", "Contains", "StartsWith", "EndsWith",
    "RegExpReplace", "RegExpExtract", "StringSplit", "Reverse",
    "Ascii", "Chr", "Base64", "UnBase64", "InitCap", "SoundEx",
    "Year", "Month", "DayOfMonth", "DayOfWeek", "WeekDay",
    "DayOfYear", "Hour", "Minute", "Second", "Quarter", "WeekOfYear",
    "TruncDate", "TruncTimestamp", "DateFormatClass", "ToDate",
    "ParseToDate", "ParseToTimestamp", "ToTimestamp", "UnixTimestamp",
    "ToUnixTimestamp", "FromUnixTime", "DateAdd", "DateSub",
    "DateDiff", "AddMonths", "LastDay", "NextDay", "MonthsBetween",
    "MakeDate", "UnixDate", "DateFromUnixDate",
    "UnaryPositive", "Abs", "Round", "BRound", "Floor", "Ceiling",
    "Ceil", "Sqrt", "Cbrt", "Exp", "Expm1", "Log", "Log2", "Log10",
    "Log1p", "Pow", "Signum", "Sin", "Cos", "Tan", "Asin", "Acos",
    "Atan", "Atan2", "Sinh", "Cosh", "Tanh", "Pmod", "Hex", "Unhex",
    "Logarithm", "Factorial", "Pi", "EulerNumber", "WidthBucket",
    "IsNaN", "NaNvl", "Least", "Greatest", "Coalesce", "If",
    "Md5", "Sha1", "Sha2", "Crc32", "XxHash64", "Murmur3Hash",
    "ShiftLeft", "ShiftRight", "ShiftRightUnsigned",
    "BitLength", "OctetLength", "FormatString",
    "ArrayContains", "Size", "SortArray", "ElementAt",
    "MapKeys", "MapValues", "GetJsonObject",
    "Decode", "Encode", "FormatNumber",
})

_AGG_FN = {
    "Sum": "SUM", "Count": "COUNT", "Min": "MIN", "Max": "MAX",
    "Average": "AVG",
}


def render(e, sub: dict, node_sub: dict | None = None) -> str:
    """Canonical (and parseable-SQL) rendering of expression ``e``
    with AttributeReference leaves replaced via ``sub`` (exprId ->
    canonical string). ``node_sub`` (canonical string -> replacement
    name) substitutes WHOLE matching subtrees -- used to re-express a
    refinement conjunct over MV storage columns. Raises Unroutable on
    anything outside the deterministic allowlist."""
    if node_sub is not None:
        canon = render(e, sub)
        if canon in node_sub:
            return node_sub[canon]
    c = _cls(e)
    if c == "AttributeReference":
        eid = e.exprId().id()
        if eid not in sub:
            raise Unroutable(f"unresolvable attribute {e.name()}")
        # node_sub applies to the SUBSTITUTED form too (a bare-column
        # group key arrives here as its canonical base-column string).
        # In substitution mode a leaf that no enclosing subtree
        # covered references something the target frame does NOT have
        # (a non-key base column) -- refuse rather than emit a name
        # that might collide with an unrelated storage column
        out = sub[eid]
        if node_sub is not None:
            if out in node_sub:
                return node_sub[out]
            raise Unroutable(f"column {out} not expressible over target")
        return out
    if c == "Alias":
        return render(e.child(), sub, node_sub)
    if c == "Literal":
        return e.sql()
    if not e.deterministic():
        raise Unroutable(f"non-deterministic {c}")
    if c in ("CurrentDate", "CurrentTimestamp", "CurrentTime", "Now",
             "CurrentTimeZone", "LocalTimestamp", "CurrentBatchTimestamp"):
        # evaluation-time-varying: a version-fresh MV materialized at
        # an earlier wall clock is semantically stale for these
        raise Unroutable(f"time-varying {c}")
    kids = _seq(e.children())
    if c in _BINOPS:
        op, comm = _BINOPS[c]
        l, r = (render(k, sub, node_sub) for k in kids)
        if comm and r < l:
            l, r = r, l
        return f"({l} {op} {r})"
    if c in ("Cast", "UpCast", "TryCast"):
        fn = "try_cast" if c == "TryCast" else "cast"
        to = e.dataType().sql().lower()
        return f"{fn}({render(kids[0], sub, node_sub)} as {to})"
    if c in _UNARY:
        return _UNARY[c].format(render(kids[0], sub, node_sub))
    if c == "In":  # (InSet appears only post-optimization)
        v = render(kids[0], sub, node_sub)
        items = sorted(render(k, sub, node_sub) for k in kids[1:])
        return f"({v} in ({', '.join(items)}))"
    if c == "Between":
        # RuntimeReplaceable: its only child is the With node the
        # optimizer expands, so render the operands it was written with
        x, lo, hi = (
            render(k, sub, node_sub) for k in (e.input(), e.lower(), e.upper())
        )
        return f"({x} between {lo} and {hi})"
    if c == "DatetimeSub":
        # RuntimeReplaceable like Between: ``ts - INTERVAL ...``
        start = render(e.start(), sub, node_sub)
        return f"({start} - {render(e.interval(), sub, node_sub)})"
    if c in _TRANSPARENT:
        return render(kids[0], sub, node_sub)
    if c.startswith("ExtractANSIInterval"):
        # ``DATE - INTERVAL '7' DAY`` analyzes to date_add(d,
        # -extractansiintervaldays(...)): render the field it reads
        field = c[len("ExtractANSIInterval"):-1].lower()  # Days -> day
        return f"extract({field} from {render(kids[0], sub, node_sub)})"
    if c in _WRITTEN:
        l, r = (render(k, sub, node_sub) for k in (e.left(), e.right()))
        return f"{e.prettyName()}({l}, {r})"
    if c in ("GetArrayItem", "GetMapValue"):
        x, i = (render(k, sub, node_sub) for k in kids)
        return f"{x}[{i}]"
    if c == "Like" and e.escapeChar() != "\\":
        raise Unroutable("LIKE with a custom ESCAPE")
    if c == "CaseWhen":
        # children: [c1, v1, c2, v2, ..., else?]
        parts = [render(k, sub, node_sub) for k in kids]
        s = "case"
        n = len(parts)
        for i in range(0, n - 1, 2):
            s += f" when {parts[i]} then {parts[i + 1]}"
        if n % 2 == 1:
            s += f" else {parts[-1]}"
        return s + " end"
    if c == "GetStructField":
        inner = render(kids[0], sub, node_sub)
        name = e.extractFieldName()
        return f"{inner}.{name}"
    if c in _FUNCS:
        args = ", ".join(render(k, sub, node_sub) for k in kids)
        return f"{e.prettyName().lower()}({args})"
    raise Unroutable(f"expression class {c} not in routing allowlist")


def _split_and(e) -> list:
    if _cls(e) == "And":
        kids = _seq(e.children())
        return _split_and(kids[0]) + _split_and(kids[1])
    return [e]


def _single_agg(e):
    """(FN, inner_jexpr_list, distinct) when ``e`` is exactly one
    AggregateExpression over a supported function; None when it holds
    no aggregate at all; Unroutable when aggregates appear nested in a
    compound expression (SUM(x)/SUM(y) cannot re-fold)."""
    if _cls(e) == "AggregateExpression":
        fn = e.aggregateFunction()
        fname = _AGG_FN.get(_cls(fn))
        if fname is None:
            raise Unroutable(f"aggregate {_cls(fn)} not re-aggregable")
        if e.isDistinct():
            if fname != "COUNT":
                raise Unroutable("DISTINCT inside non-COUNT aggregate")
            fname = "COUNT_DISTINCT"
        if e.filter().isDefined():
            raise Unroutable("FILTER clause on aggregate")
        return fname, _seq(fn.children()), fname == "COUNT_DISTINCT"

    def has_agg(x) -> bool:
        if _cls(x) == "AggregateExpression":
            return True
        return any(has_agg(k) for k in _seq(x.children()))

    if has_agg(e):
        raise Unroutable("compound expression over aggregates")
    return None


def plan_shape(jplan, known_tables: set[tuple[str, str]]):
    """Extract the routable shape from an analyzed plan, or None.

    Returns ``{"src": (ns, tbl), "where": [canon...],
    "where_nodes": [(jexpr, attr_sub)...], "group": [canon...],
    "items": {token: ("key", canon) | ("agg", FN, canon_inner)},
    "out": [(output_name, token)], "post": [sql-over-tokens...],
    "base_schema": json, "views": bool}``.

    ``where`` holds the conjuncts BELOW the aggregate (source-row
    filters, canonical over base columns); ``post`` the conjuncts
    ABOVE it (HAVING / view-WHERE over aggregate outputs), rendered
    over per-item tokens the router uses as intermediate column
    names. ``items`` not reachable from ``out`` are hidden (HAVING-
    only aggregates): computed for the post filter, dropped after.
    ``base_schema`` is the base table's schema as analyzed; ``views``
    says the plan reads through a named view, so the shape depends on
    more than the SQL text and that schema."""
    try:
        return _shape(jplan, known_tables)
    except Unroutable:
        return None


def _base_ref(alias: str, known_tables) -> tuple[str, str] | None:
    if not alias.startswith("__wh_") or alias.startswith(
        ("__wh_view_", "__wh_mv_", "__wh_mv_routed_")
    ):
        return None
    body = alias[len("__wh_"):]
    if "__" not in body:
        return None
    ns, tbl = body.rsplit("__", 1)
    return (ns, tbl) if (ns, tbl) in known_tables else None


def _shape(jplan, known_tables):
    # -- phase 1: descend to the Aggregate, recording the above-chain
    above: list[tuple[str, object]] = []
    node = jplan
    agg = None
    distinct_node = None
    views = False
    for _ in range(64):
        c = _cls(node)
        if c == "Aggregate":
            agg = node
            break
        if c == "Distinct":
            # SELECT DISTINCT over keys: an Aggregate with no
            # aggregate calls -- servable from stored group keys
            distinct_node = node
            break
        if c in ("Project", "Filter"):
            above.append((c, node))
            node = node.child()
        elif c in ("SubqueryAlias", "View"):
            if c == "SubqueryAlias" and _base_ref(
                node.alias(), known_tables
            ):
                raise Unroutable("no aggregate in plan")
            views = views or c == "View"
            node = node.child()
        else:
            raise Unroutable(f"plan node {c} above aggregate")
    if agg is None and distinct_node is None:
        raise Unroutable("no aggregate found")

    # -- phase 2: descend below to the base table
    below: list[tuple[str, object]] = []
    node = (agg or distinct_node).children().apply(0)
    src = None
    base = None
    for _ in range(64):
        c = _cls(node)
        if c == "SubqueryAlias":
            ref = _base_ref(node.alias(), known_tables)
            if ref is not None:
                src, base = ref, node
                break
            node = node.child()
        elif c == "View":
            views = True
            node = node.child()
        elif c in ("Project", "Filter"):
            below.append((c, node))
            node = node.child()
        else:
            raise Unroutable(f"plan node {c} below aggregate")
    if base is None:
        raise Unroutable("no single base table")

    # -- phase 3: bottom-up substitution through the below-chain
    attr_sub = {
        a.exprId().id(): a.name().lower() for a in _seq(base.output())
    }
    where: list[str] = []
    where_nodes: list[tuple[object, dict]] = []
    for c, n in reversed(below):
        if c == "Project":
            new_sub: dict[int, str] = {}
            for ne in _seq(n.projectList()):
                # render refuses an aggregate below the Aggregate and
                # an attribute attr_sub does not resolve
                k = _cls(ne)
                if k not in ("Alias", "AttributeReference"):
                    raise Unroutable(f"projection item {k}")
                x = ne.child() if k == "Alias" else ne
                new_sub[ne.exprId().id()] = render(x, attr_sub)
            attr_sub = new_sub
        else:
            snap = dict(attr_sub)
            for conj in _split_and(n.condition()):
                where.append(render(conj, snap))
                where_nodes.append((conj, snap))

    # -- phase 4: the Aggregate itself
    items: dict[str, tuple] = {}
    tok_of: dict[int, str] = {}

    def _tok(eid: int) -> str:
        if eid not in tok_of:
            tok_of[eid] = _TOK.format(len(tok_of))
        return tok_of[eid]

    if distinct_node is not None:
        group: list[str] = []
        for a in _seq(distinct_node.child().output()):
            eid = a.exprId().id()
            if eid not in attr_sub:
                raise Unroutable("unresolved DISTINCT column")
            canon = attr_sub[eid]
            group.append(canon)
            items[_tok(eid)] = ("key", canon)
        out = [(a.name(), _tok(a.exprId().id()))
               for a in _seq(distinct_node.output())]
    else:
        group = [render(g, attr_sub) for g in _seq(agg.groupingExpressions())]
        group_set = set(group)
        out = []
        for ne in _seq(agg.aggregateExpressions()):
            k = _cls(ne)
            if k == "Alias":
                name, eid, child = ne.name(), ne.exprId().id(), ne.child()
            elif k == "AttributeReference":
                name, eid, child = ne.name(), ne.exprId().id(), ne
            else:
                raise Unroutable(f"aggregate output item {k}")
            ag = _single_agg(child)
            if ag is not None:
                fn, inners, _dist = ag
                inner = ", ".join(render(x, attr_sub) for x in inners)
                items[_tok(eid)] = ("agg", fn, inner)
            else:
                canon = render(child, attr_sub)
                if canon not in group_set:
                    raise Unroutable("non-key non-aggregate output")
                items[_tok(eid)] = ("key", canon)
            out.append((name, _tok(eid)))

    # -- phase 5: the above-chain over aggregate outputs
    cur = {eid: tok for eid, tok in tok_of.items()}
    post: list[str] = []
    for c, n in reversed(above):
        if c == "Filter":
            for conj in _split_and(n.condition()):
                post.append(render(conj, cur))
        else:
            new_cur: dict[int, str] = {}
            renames: list[tuple[str, str]] = []
            for ne in _seq(n.projectList()):
                # a bare reference, or an alias renaming one
                ref = ne.child() if _cls(ne) == "Alias" else ne
                if _cls(ref) != "AttributeReference":
                    raise Unroutable("computed expression above the aggregate")
                rid = ref.exprId().id()
                if rid not in cur:
                    raise Unroutable("unresolved output reference")
                new_cur[ne.exprId().id()] = cur[rid]
                renames.append((ne.name(), cur[rid]))
            cur = new_cur
            out = renames

    # ``out`` now binds the FINAL output names (post above-chain
    # renames) to item tokens, in output order; pin it to the plan's
    # own output arity as a drift tripwire
    if len(out) != jplan.output().size():
        raise Unroutable("output arity drift")

    return {
        "src": src,
        "where": where,
        "where_nodes": where_nodes,
        "group": group,
        "items": items,
        "out": out,
        "post": post,
        "base_schema": base.schema().json(),
        "views": views,
    }
