"""Corpus SQL dialect → Spark SQL resolver.

The reference's SQL front-end accepts call shapes Spark's parser can't
take verbatim (reference tests/bin/tests.sql):

- ``V_SEARCH('text_embedding', [0.1, 0.2])`` — the *field name is a
  string* resolved against the collection config, and the metric is the
  field's configured metric (reference src/utils.rs field resolution;
  tests.sql:16,30-31,355,364)
- ``V_SEARCH('43cf51e2-...')`` — search by point id (tests.sql:22)
- ``V_SEARCH([0.1, 0.2])`` — unnamed/default-field search (tests.sql:10)
- ``[0.1, 0.2]`` bracket array literals (everywhere)
- ``payload->'key'`` / ``payload->>'key'`` JSON access (tests.sql:357,366)

:func:`corpus_sql` resolves these against a
:class:`~qdrant_datafusion_spark.collections.CollectionDescriptor` at
*registration level* — the same resolution the reference does when it
builds the query plan — producing plain Spark SQL that runs through
Catalyst with the inlined SQL-defined V_* kernels (no Python boundary).
Scores keep the Qdrant convention (higher = better): distance metrics are
emitted negated.
"""

from __future__ import annotations

import re

from qdrant_datafusion_spark.collections import CollectionDescriptor
from qdrant_datafusion_spark.functions.distance import (
    DENSE_METRICS,
    FOLD,
    distance_sql,
    literal_sql,
    score_sql,
)

#: array literal: ``[`` not preceded by an identifier char / ``]`` / ``)``
#: (those are indexing) nor a quote (that's JSON text inside a string
#: literal, e.g. the resolved ``@>`` containment), spanning non-bracket
#: content
_ARRAY_LIT = re.compile(r"(?<![\w\]\)'])\[([^\[\]]*)\]")

#: ``expr->'key'`` / ``expr->>'key'`` (qualified identifiers allowed)
_ARROW_BOOL = re.compile(r"->\s*'(\w+)'\s*=\s*(true|false)\b", re.IGNORECASE)
_ARROW = re.compile(r"(\w+(?:\.\w+)*)\s*->>?\s*'(\w+)'")


#: a literal query vector as the bracket resolution leaves it:
#: ``array(<number>, ...)`` with plain decimal or exponent numbers
_NUM = r"[-+]?(?:\d+\.?\d*|\.\d+)(?:[eE][-+]?\d+)?"
_LITERAL_VEC = re.compile(rf"array\(\s*({_NUM}(?:\s*,\s*{_NUM})*)\s*\)", re.IGNORECASE)


def _literal_query(query_sql: str) -> tuple[str, str] | None:
    """(DOUBLE constants, folded norm literal) of a literal query
    vector; None for any other query expression."""
    m = _LITERAL_VEC.fullmatch(query_sql.strip())
    return literal_sql(m.group(1).split(",")) if m else None


def _score_expr(descriptor: CollectionDescriptor, field, query_sql: str) -> str:
    """The field's metric score of the query, rendered from the kernel
    table in ``functions.distance``.  These are INLINE bodies, not calls
    to the registered SQL-defined functions: Spark 4 rejects SQL UDFs
    inside Sort, and the corpus writes ``ORDER BY V_SEARCH(...)``
    directly (tests.sql:160).  A literal query becomes DOUBLE constants
    with its norm folded once (a DECIMAL literal would be cast element
    by element on every row); a scalar-subquery query calls the
    registered functions instead, because Spark forbids subquery
    expressions inside higher-order functions and the function boundary
    evaluates the argument first (the by-id search shape, tests.sql:22)."""
    col = "vector" if descriptor.unnamed else field.name
    metric = field.metric
    if query_sql.lstrip().upper().startswith("(SELECT"):
        c = _cast_vec(col)
        if metric == "cosine":
            return f"V_SEARCH({c}, {query_sql})"
        return f"(-V_DISTANCE({c}, {query_sql}, '{metric}'))"
    lit = _literal_query(query_sql)
    if lit:
        q, qn = lit
        return score_sql(metric, col, q, qn=qn)
    return score_sql(metric, col, query_sql)


def _find_call(text: str, name: str, start: int = 0) -> tuple[int, int, str] | None:
    """Locate ``name( ... )`` with balanced parens; returns
    (call_start, call_end_exclusive, args_text)."""
    m = re.compile(rf"\b{name}\s*\(", re.IGNORECASE).search(text, start)
    if not m:
        return None
    depth, i = 1, m.end()
    while i < len(text) and depth:
        if text[i] == "(":
            depth += 1
        elif text[i] == ")":
            depth -= 1
        i += 1
    if depth:
        raise ValueError(f"unbalanced parens in {name} call")
    return m.start(), i, text[m.end() : i - 1]


def _split_top_level(args: str) -> list[str]:
    """Split call arguments on top-level commas."""
    parts, depth, cur = [], 0, []
    for ch in args:
        if ch in "([":
            depth += 1
        elif ch in ")]":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur).strip())
            cur = []
        else:
            cur.append(ch)
    tail = "".join(cur).strip()
    if tail:
        parts.append(tail)
    return parts


#: chained arrows: base ident + one or more ->'k' links, collapsed into a
#: single get_json_object path (tests.sql:219-225 nested payload access)
_ARROW_CHAIN = re.compile(r"(\w+(?:\.\w+)*)((?:\s*->>?\s*'\w+')+)")
_ARROW_LINK = re.compile(r"->>?\s*'(\w+)'")

#: JSON array containment: <resolved-lhs> @> '["a", ...]' (tests.sql:224)
_CONTAINS = re.compile(r"@>\s*'(\[[^']*\])'")


def _mask_plain_strings(text: str) -> tuple[str, list[str]]:
    """Lex ``text``: strip ``--`` comments and replace every string
    literal NOT serving as an operator operand (``->``/``->>``/``@>``
    right-hand sides stay — their quotes are the dialect's own syntax)
    with an opaque ``\\x00{n}\\x00`` placeholder.

    The textual resolvers below are regex passes; without this guard a
    *literal containing* dialect syntax (``'see p->''k'''``,
    ``'x @> ''[a]'''``, ``'arr [1]'``, ``'-- not a comment'``) would be
    rewritten as if it were code.  Doubled ``''`` escapes are part of
    one literal; an unterminated quote passes through untouched (the
    statement is invalid SQL either way and Spark's parser owns the
    error).
    """
    out: list[str] = []
    lits: list[str] = []
    i, n = 0, len(text)
    while i < n:
        ch = text[i]
        if ch == "-" and text[i : i + 2] == "--":
            j = text.find("\n", i)
            i = n if j < 0 else j  # keep the newline itself
            continue
        if ch != "'":
            out.append(ch)
            i += 1
            continue
        j = i + 1
        while j < n:
            if text[j] == "'":
                if text[j + 1 : j + 2] == "'":
                    j += 2
                    continue
                break
            j += 1
        if j >= n:  # unterminated — leave as-is
            out.append(text[i:])
            break
        lit = text[i : j + 1]
        prev = "".join(out).rstrip()
        if prev.endswith(("->", "->>", "@>")):
            out.append(lit)  # operator operand: the resolvers need it
        else:
            lits.append(lit)
            out.append(f"\x00{len(lits) - 1}\x00")
        i = j + 1
    return "".join(out), lits


def _restore_strings(text: str, lits: list[str]) -> str:
    for idx, lit in enumerate(lits):
        text = text.replace(f"\x00{idx}\x00", lit)
    return text


def _resolve_arrows(text: str) -> str:
    def chain(m: re.Match) -> str:
        path = ".".join(_ARROW_LINK.findall(m.group(2)))
        return f"get_json_object({m.group(1)}, '$.{path}')"

    text = _ARROW_BOOL.sub(lambda m: f"->'{m.group(1)}' = '{m.group(2).lower()}'", text)
    return _ARROW_CHAIN.sub(chain, text)


def _lhs_expr(text: str, end: int) -> int:
    """Start index of the balanced expression ending at ``end`` (exclusive)
    — an identifier call chain like ``get_json_object(payload, '$.tags')``."""
    i = end - 1
    while i >= 0 and text[i].isspace():
        i -= 1
    if i >= 0 and text[i] == ")":
        depth = 0
        while i >= 0:
            if text[i] == ")":
                depth += 1
            elif text[i] == "(":
                depth -= 1
                if depth == 0:
                    break
            i -= 1
    # the identifier before the open paren (or the bare identifier)
    j = i - 1 if i >= 0 and text[i] == "(" else i
    while j >= 0 and (text[j].isalnum() or text[j] in "_."):
        j -= 1
    return j + 1


def _resolve_containment(text: str) -> str:
    """``expr @> '[json array]'`` → superset check via array_except
    (the ``@>`` operator, tests.sql:224)."""
    while True:
        m = _CONTAINS.search(text)
        if not m:
            return text
        lhs_start = _lhs_expr(text, m.start())
        lhs = text[lhs_start : m.start()].strip()
        repl = (
            f"(size(array_except(from_json('{m.group(1)}', 'array<string>'), "
            f"from_json({lhs}, 'array<string>'))) = 0)"
        )
        text = text[:lhs_start] + repl + text[m.end():]


def _quoted(arg: str) -> str | None:
    m = re.fullmatch(r"'([^']*)'", arg.strip())
    return m.group(1) if m else None


def _first_field(descriptor: CollectionDescriptor, kind: str):
    for f in descriptor.fields:
        if f.kind == kind:
            return f
    return None


def _cast_vec(expr: str) -> str:
    return f"CAST({expr} AS ARRAY<DOUBLE>)"


def _vec_set_expr(arg: str, col_expr: str, view: str) -> str:
    """A recommend positives/negatives argument → ARRAY<ARRAY<DOUBLE>>:
    NULL passthrough, string-id lists become a collect_list subquery over
    the collection (the reference resolves example ids against stored
    points), vector literals cast directly (tests.sql:83-118)."""
    a = arg.strip()
    if a.upper() == "NULL":
        return "CAST(NULL AS ARRAY<ARRAY<DOUBLE>>)"
    if re.match(r"array\(\s*'", a):
        ids = ", ".join(f"'{i}'" for i in re.findall(r"'([^']*)'", a))
        return (
            f"(SELECT collect_list({col_expr}) FROM {view} WHERE id IN ({ids}))"
        )
    return f"CAST({a} AS ARRAY<ARRAY<DOUBLE>>)"


def _dispatch_calls(text: str, name: str, resolve) -> str:
    """Rewrite every ``name(...)`` call via ``resolve(args) -> str | None``
    (None = leave the call as written)."""
    pos = 0
    while True:
        found = _find_call(text, name, pos)
        if not found:
            return text
        start, end, args_text = found
        repl = resolve(_split_top_level(args_text))
        if repl is None:
            pos = end
            continue
        text = text[:start] + repl + text[end:]
        pos = start + len(repl)


#: inlined score folds are illegal in a Sort (higher-order functions with
#: outer references / analyzer restrictions) — hoist marker
_INLINE_SCORE_MARK = FOLD[: FOLD.index("{")]


def _hoist_sort_scores(text: str) -> str:
    """Rewrite ``ORDER BY <inlined-score-expr>`` into a projected alias.

    The corpus sorts directly on V_SEARCH in two places (the ColBERT
    prefetch, tests.sql:160, and the LATERAL batch search, tests.sql:341);
    the inlined fold can't sit in a Sort, so the expression moves into the
    enclosing select list as ``__sort_k`` and the ORDER BY references the
    alias — exactly what the corpus's other statements do by hand.
    """
    n = 0
    while True:
        m = re.search(r"ORDER\s+BY\s+", text, re.IGNORECASE)
        found = None
        for m in re.finditer(r"ORDER\s+BY\s+", text, re.IGNORECASE):
            # expression runs to ASC/DESC/LIMIT/unbalanced ')' at depth 0
            i, depth = m.end(), 0
            while i < len(text):
                ch = text[i]
                if ch == "(":
                    depth += 1
                elif ch == ")":
                    if depth == 0:
                        break
                    depth -= 1
                elif depth == 0 and re.match(
                    r"(ASC|DESC|LIMIT)\b", text[i:], re.IGNORECASE
                ):
                    break
                i += 1
            expr = text[m.end() : i].strip()
            if _INLINE_SCORE_MARK in expr:
                found = (m.end(), i, expr)
                break
        if not found:
            return text
        start, end, expr = found
        # enclosing SELECT: nearest one scanning backwards at paren depth 0
        j, depth = start - 1, 0
        sel = -1
        while j >= 0:
            if text[j] == ")":
                depth += 1
            elif text[j] == "(":
                depth -= 1
            elif depth == 0 and text[j : j + 6].upper() == "SELECT":
                sel = j
                break
            j -= 1
        # its select list ends at the first FROM at depth 0 after it
        k, depth = sel + 6, 0
        while k < len(text):
            if text[k] == "(":
                depth += 1
            elif text[k] == ")":
                depth -= 1
            elif depth == 0 and text[k : k + 4].upper() == "FROM":
                break
            k += 1
        alias = f"__sort_{n}"
        n += 1
        text = (
            text[:sel + 6]
            + text[sel + 6 : k]
            + f", ({expr}) AS {alias} "
            + text[k:start]
            + alias
            + " "
            + text[end:]
        )


def corpus_sql(
    text: str, descriptor: CollectionDescriptor, view: str = "collection_name"
) -> str:
    """Resolve one corpus-dialect statement to executable Spark SQL.

    ``view`` is the temp-view name the collection is registered under
    (the corpus writes ``FROM collection_name``).  Resolution order:
    comments out, chained-arrow JSON access, ``@>`` containment, bracket
    array literals, then per-function call-shape dispatch — field names /
    example ids / context pairs resolve against the collection config
    exactly as the reference's planner would (tests/e2e.rs:127-148,
    src/utils.rs field resolution).  Every statement in
    tests/bin/tests.sql resolves (proven verbatim in test_sql_corpus).
    """
    # one lexer pass strips comments and hides plain string literals so
    # none of the textual passes below can fire inside one; operator
    # operands (->'k', @> '[..]') stay visible — they ARE the syntax
    text, _lits = _mask_plain_strings(text)
    text = text.strip().rstrip(";")
    # V_RANDOM() -> native rand(): rand() is legal in every clause
    # including Sort (ORDER BY V_RANDOM() is the corpus's sampling idiom,
    # tests.sql:310-320), while a SQL-defined wrapper is rejected there
    # and a Python UDF would be the lone per-row lambda in the surface.
    text = re.sub(r"\bV_RANDOM\s*\(\s*\)", "rand()", text, flags=re.IGNORECASE)
    text = _resolve_arrows(text)
    text = _resolve_containment(text)
    # bracket array literals -> array(...); innermost-out fixpoint so
    # nested literals ([[..], [..]] — recommend/discover/colbert shapes)
    # resolve layer by layer
    while True:
        rewritten = _ARRAY_LIT.sub(lambda m: f"array({m.group(1)})", text)
        if rewritten == text:
            break
        text = rewritten
    # call-shape dispatch parses quoted field names / id lists itself,
    # so the hidden literals come back before it runs
    text = _restore_strings(text, _lits)

    fields = {f.name: f for f in descriptor.fields}
    default_field = descriptor.fields[0]
    default_col = "vector" if descriptor.unnamed else default_field.name
    default_vec = _cast_vec(default_col)
    sparse_field = _first_field(descriptor, "sparse")
    multi_field = _first_field(descriptor, "multi")

    def search(args):
        first = args[0] if args else ""
        q = _quoted(first)
        if q is not None and len(args) == 2 and q in fields:
            return _score_expr(descriptor, fields[q], args[1])
        if q is not None and len(args) == 1:
            sub = (
                f"(SELECT first({default_vec}) FROM {view} WHERE id = '{q}')"
            )
            return _score_expr(descriptor, default_field, sub)
        if len(args) == 1:
            return _score_expr(descriptor, default_field, args[0])
        return None  # already-resolved (column, query) form

    # V_DISTANCE with a literal query renders the kernel inline, as
    # _score_expr does: the registered function takes the query as a
    # parameter, so its norm would be folded again on every row
    def distance(args):  # V_DISTANCE([..], 'metric') — v is implicit
        if len(args) != 2:
            return None
        lit, metric = _literal_query(args[0]), _quoted(args[1])
        if lit and metric in DENSE_METRICS:
            q, qn = lit
            return distance_sql(metric, default_col, q, qn=qn)
        return f"V_DISTANCE({default_vec}, {args[0]}, {args[1]})"

    def within(args):  # V_WITHIN([..], r) — v is implicit
        if len(args) == 2:
            return f"V_WITHIN({default_vec}, CAST({args[0]} AS ARRAY<DOUBLE>), {args[1]})"
        return None

    def sparse_search(args):  # ([idx], [vals]) or ('field', [idx], [vals])
        q = _quoted(args[0]) if args else None
        if q is not None and len(args) == 3 and q in fields:
            f, qi, qv = fields[q], args[1], args[2]
        elif len(args) == 2 and sparse_field is not None:
            f, qi, qv = sparse_field, args[0], args[1]
        else:
            return None
        return (
            f"V_SPARSE_SEARCH({f.name}_indices, {f.name}_values, "
            f"CAST({qi} AS ARRAY<BIGINT>), CAST({qv} AS ARRAY<DOUBLE>))"
        )

    def colbert(args):  # ('field', [[..]]) — multi-vector MaxSim
        q = _quoted(args[0]) if args else None
        if q is not None and len(args) == 2 and q in fields:
            return (
                f"V_COLBERT(CAST({q} AS ARRAY<ARRAY<DOUBLE>>), "
                f"CAST({args[1]} AS ARRAY<ARRAY<DOUBLE>>))"
            )
        return None

    def recommend(args):  # (pos, neg) | ('field', pos, neg)
        q = _quoted(args[0]) if args else None
        if q is not None and len(args) == 3 and q in fields:
            col = _cast_vec(fields[q].name)
            pos_a, neg_a = args[1], args[2]
        elif len(args) == 2:
            col, pos_a, neg_a = default_vec, args[0], args[1]
        else:
            return None
        return (
            f"V_RECOMMEND({col}, {_vec_set_expr(pos_a, col, view)}, "
            f"{_vec_set_expr(neg_a, col, view)})"
        )

    def discover(args):  # (target, ctx_pairs) | ('field', target, ctx_pairs)
        q = _quoted(args[0]) if args else None
        if q is not None and len(args) == 3 and q in fields:
            col, target, pairs = _cast_vec(fields[q].name), args[1], args[2]
        elif len(args) == 2:
            col, target, pairs = default_vec, args[0], args[1]
        else:
            return None
        parsed = re.findall(r"array\(\s*'([^']+)'\s*,\s*([-+0-9.eE]+)\s*\)", pairs)
        if not parsed:
            return None
        ctxs = ", ".join(
            f"(SELECT first({col}) FROM {view} WHERE id = '{cid}')"
            for cid, _ in parsed
        )
        ws = ", ".join(w for _, w in parsed)
        return (
            f"V_DISCOVER({col}, CAST({target} AS ARRAY<DOUBLE>), "
            f"array({ctxs}), array({ws}))"
        )

    def geo_distance(args):  # (location_json, POINT(lat, lon))
        if len(args) == 2 and re.match(r"POINT\s*\(", args[1], re.IGNORECASE):
            inner = re.search(r"\(\s*([^,]+),\s*([^)]+)\)", args[1])
            loc = args[0]
            return (
                f"V_GEO_DISTANCE("
                f"CAST(get_json_object({loc}, '$.lat') AS DOUBLE), "
                f"CAST(get_json_object({loc}, '$.lon') AS DOUBLE), "
                f"{inner.group(1).strip()}, {inner.group(2).strip()})"
            )
        return None

    text = _dispatch_calls(text, "V_SEARCH", search)
    text = _dispatch_calls(text, "V_DISTANCE", distance)
    text = _dispatch_calls(text, "V_WITHIN", within)
    text = _dispatch_calls(text, "V_SPARSE_SEARCH", sparse_search)
    text = _dispatch_calls(text, "V_COLBERT", colbert)
    text = _dispatch_calls(text, "V_RECOMMEND", recommend)
    text = _dispatch_calls(text, "V_DISCOVER", discover)
    text = _dispatch_calls(text, "V_GEO_DISTANCE", geo_distance)
    return _hoist_sort_scores(text)
